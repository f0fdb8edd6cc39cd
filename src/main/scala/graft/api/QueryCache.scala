package graft.api

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SizeEstimator

/** Driver-side memo for scalar/small aggregate results, mirroring the
  * reference's size-capped result cache (reference: pandasdb/cache.py:11-92;
  * defaults 2 MB per item / 100 MB total, connection.py:23-24).
  *
  * The reference keys on the generated SQL string, which names the table
  * (cache.py). Here every stat entry is keyed by one rule, [[Table.memoKey]]:
  * (table name, stat, column, [[keyOf]] of the table's plan). The
  * canonicalized plan alone drops each relation's location — two
  * same-schema tables print the same plan — so the table name carries the
  * source's identity and the plan the derivation (filter, sort, ...).
  * The key names what is memoized; no plan is built to make it.
  *
  * Where the reference simply REFUSES inserts once full (cache.py:87-91),
  * this cache evicts least-recently-used entries to make room — a long-lived
  * session engine keeps its hot stats warm instead of freezing the first
  * 100 MB it ever computed. Per-item caps still refuse outright (one huge
  * value must not flush the whole working set).
  *
  * Scale note: this memoizes only final, already-collected scalar results on
  * the driver — it never holds distributed data, so its footprint is bounded
  * by `maxTotalMb` regardless of input size (the reference's headline claim:
  * a handle stays O(KB) on an 18M-row table, README.md:63-89).
  */
final class QueryCache(
    val enabled: Boolean = true,
    val maxItemMb: Double = 2.0,
    val maxTotalMb: Double = 100.0) {
  import QueryCache.Entry

  // access-order LinkedHashMap (same shape as Database.indexedMemo): get/put
  // bump recency, eviction pops the eldest. All access goes through the
  // map's own mutex — driver-side scalar memo, contention is negligible.
  private val store = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true))
  // running byte total of stored (key, value) pairs — sized once at insert,
  // not re-estimated by walking the whole store per insert (that walk made
  // aggregate insertion cost O(n²))
  private val storedBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The canonicalized analyzed plan of `df`, as text: expression ids are
    * normalized, so equal derivations print equally across sessions.
    */
  def keyOf(df: DataFrame): String =
    df.queryExecution.analyzed.canonicalized.toString

  private def mbOf(v: Any): Double = SizeEstimator.estimate(v.asInstanceOf[AnyRef]) / 1e6

  def currentSizeMb: Double = storedBytes.get() / 1e6

  def size: Int = store.size()
  // containsKey does NOT bump access order — a probe is not a use
  def contains(key: String): Boolean = store.containsKey(key)
  def clear(): Unit = store.synchronized { store.clear(); storedBytes.set(0L) }

  /** Insert under the caps: refuse only when the single item exceeds
    * `maxItemMb` (or could never fit at all); otherwise evict LRU entries
    * until the new item fits `maxTotalMb`. Runs under the store mutex.
    */
  private def put(key: String, v: Any): Boolean = {
    val itemBytes = (mbOf(key) + mbOf(v)) * 1e6
    if (itemBytes > maxItemMb * 1e6 || itemBytes > maxTotalMb * 1e6) return false
    store.synchronized {
      if (store.containsKey(key)) return false
      val it = store.entrySet().iterator()
      while (storedBytes.get() + itemBytes > maxTotalMb * 1e6 && it.hasNext) {
        val eldest = it.next()
        storedBytes.addAndGet(-eldest.getValue.bytes)
        it.remove()
      }
      store.put(key, Entry(v, itemBytes.toLong))
      storedBytes.addAndGet(itemBytes.toLong)
      true
    }
  }

  /** Memoize `compute` under `key` (reference: cache.py:87-91, upgraded
    * from refuse-when-full to LRU eviction).
    */
  def getOrElseUpdate[T](key: String)(compute: => T): T = {
    if (!enabled) return compute
    val hit = store.get(key) // bumps recency
    if (hit != null) return hit.value.asInstanceOf[T]
    val v: T = compute
    if (v != null) put(key, v)
    v
  }

  /** The memoized value under `key`, if any, counted as a use. */
  private[api] def peek(key: String): Option[Any] =
    if (!enabled) None else Option(store.get(key)).map(_.value)

  /** Key → value of every entry, without touching recency. */
  private[api] def snapshot: Map[String, Any] = store.synchronized {
    store.entrySet().asScala.map(e => e.getKey -> e.getValue.value).toMap
  }

  // ---- cross-session durability ----------------------------------------
  // The reference's cache dies with the connection (cache.py:39-92); Spark
  // makes a durable upgrade natural: spill the driver-side memo to one tiny
  // parquet of (key, java-serialized value) rows and reload it on the next
  // Database.open. A key is the table name, stat and column plus keyOf of
  // the table's plan, whose expression ids are normalized, so the same stat
  // of the same table re-derives the same key in a fresh session (asserted
  // in Api2Spec). Values are small driver results (Long/Double/Seq/Map/Row)
  // bounded by maxItemMb — the file stays O(MB).
  //
  // Two hazards a durable cache has that the reference's never did, both
  // closed here:
  //  * STALENESS — keys name tables, not file contents, so if the data
  //    changes between sessions the old spill would silently serve stale
  //    stats. saveTo stamps the spill with a caller-supplied fingerprint of
  //    the source files (path+mtime+size digest, see
  //    Database.sourceFingerprint) and the spill format; loadFrom discards
  //    the whole spill when either doesn't match. The format changes with
  //    the key rule: a spill of the earlier plan-only keys (stamped with the
  //    bare fingerprint) would serve one table's stats for another's.
  //  * DESERIALIZATION GADGETS — a tampered/attacker-writable cacheDir must
  //    not become a code-execution vector at Database.open. loadFrom reads
  //    through an ObjectInputFilter that allow-lists only the scalar /
  //    collection / Row types the cache actually stores and rejects
  //    everything else (rejected or corrupt entries load as nothing).

  /** Reserved spill row carrying the stamp (keys hold NULs and can never
    * equal it).
    */
  private val FingerprintKey = "__graft_source_fingerprint__"

  /** The spill format, stamped ahead of the fingerprint. */
  private val SpillFormat = 2

  private def stamp(fingerprint: String): String = s"v$SpillFormat:$fingerprint"

  /** JEP-290 filter for spill deserialization: only the value shapes the
    * memo stores (boxed scalars, strings, decimals, dates, Scala
    * collections/tuples, Spark Row/schema) plus depth/length bounds.
    * Everything else — and any nested object smuggled inside an allowed
    * container — is rejected, turning a gadget chain into a skipped entry.
    */
  private val spillFilter = java.io.ObjectInputFilter.Config.createFilter(
    "maxdepth=50;maxarray=1000000;" +
      "java.lang.*;java.math.*;java.sql.Date;java.sql.Timestamp;java.time.*;" +
      "java.util.**;scala.**;org.apache.spark.sql.**;!*")

  private def serialize(v: Any): Option[Array[Byte]] =
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(v)
      oos.close()
      Some(bos.toByteArray)
    } catch { case _: java.io.NotSerializableException => None }

  private def deserialize(b: Array[Byte]): Any =
    try {
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
      ois.setObjectInputFilter(spillFilter)
      val x = ois.readObject()
      ois.close()
      x
    } catch { case NonFatal(_) => null }

  /** Spill the memo to `dir` (overwrites), stamped with the spill format
    * and `fingerprint` when given. Non-serializable values are skipped —
    * they just recompute next session.
    */
  def saveTo(spark: org.apache.spark.sql.SparkSession, dir: String,
      fingerprint: Option[String] = None): Unit = {
    import spark.implicits._
    val entries = store.synchronized {
      store.entrySet().asScala.map(e => (e.getKey, e.getValue.value)).toVector
    }
    val rows = entries.flatMap { case (k, v) => serialize(v).map(b => (k, b)) } ++
      fingerprint.map(fp => (FingerprintKey, stamp(fp).getBytes("UTF-8")))
    // driver-sized by the caps (<= maxTotalMb): one file, no shuffle
    rows.toDF("key", "value").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a [[saveTo]] spill, re-applying the size caps (a spill written
    * under looser caps cannot overfill a tighter cache). Missing/unreadable
    * dirs are a no-op — a cold start, not an error — and so is a spill whose
    * stamp doesn't match `expectFingerprint` and this spill format (the
    * source data changed since the spill was written, or its keys follow
    * another rule: stale stats must not be served). When
    * `expectFingerprint` is given, an UNSTAMPED spill is also discarded —
    * absence of provenance is treated as staleness, not trust.
    * Returns entries loaded.
    */
  def loadFrom(spark: org.apache.spark.sql.SparkSession, dir: String,
      expectFingerprint: Option[String] = None): Int = {
    if (!enabled) return 0
    val rows =
      try spark.read.parquet(dir).collect()
      catch { case NonFatal(_) => return 0 }
    val byKey = rows.flatMap { r =>
      try Some((r.getAs[String]("key"), r.getAs[Array[Byte]]("value")))
      catch { case NonFatal(_) => None }
    }
    expectFingerprint.foreach { want =>
      val stamped = byKey.collectFirst {
        case (FingerprintKey, b) => new String(b, "UTF-8")
      }
      if (!stamped.contains(stamp(want))) return 0
    }
    var n = 0
    byKey.foreach { case (key, bytes) =>
      if (key != FingerprintKey) {
        val v = deserialize(bytes)
        if (v != null && put(key, v)) n += 1
      }
    }
    n
  }
}

object QueryCache {
  /** A memo that memoizes nothing: every stat computes afresh. */
  private[api] val Off = new QueryCache(enabled = false)

  // top-level so the pattern-match type test needs no outer-instance check
  private[api] final case class Entry(value: Any, bytes: Long)
}
