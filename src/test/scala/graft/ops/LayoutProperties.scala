package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests for the versioned-store invariants on RANDOM batch
  * splits: however a corpus is sliced into batches, (a) the union of the
  * store equals the corpus, (b) readSince(k) equals exactly the batches
  * ≥ k, and (c) a consumer that read-then-committed sees each row exactly
  * once across any commit schedule — the at-least-once contract's
  * "no row skipped, no row re-delivered after commit" core.
  */
object LayoutProperties extends Properties("graft.ops.Layout") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Random corpus (id, part, payload) plus a random partition of its ids
    * into 1-4 ordered batches.
    */
  private val corpusGen: Gen[(Seq[(Long, String, Long)], Seq[Seq[Long]])] = for {
    n <- Gen.choose(6, 30)
    parts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    nBatches <- Gen.choose(1, 4)
    cutTail <- Gen.listOfN(n - 1, Gen.choose(0, nBatches - 1))
  } yield {
    // first row pinned to batch 0 so the store exists (with a schema)
    // before the first consumer read — an empty parquet dir has no schema
    // to infer, which is a real constraint, not a test artifact
    val cut = 0 :: cutTail
    val rows = parts.zipWithIndex.map { case (p, i) => (i.toLong, p, i * 7L) }
    val batches = (0 until nBatches).map(b =>
      rows.zip(cut).collect { case (r, c) if c == b => r._1 })
    (rows, batches)
  }

  property("readSince(k) = batches >= k; full read = corpus; readNew sees each row once") =
    forAll(corpusGen) { case (rows, batches) =>
      val sp = spark
      import sp.implicits._
      val dir = java.nio.file.Files.createTempDirectory("layout_prop_")
        .resolve("store").toString
      val df = rows.toDF("id", "part", "payload")
      // interleave producer and consumer: after EVERY append the consumer
      // reads its fresh slice and commits — the live pipeline shape
      var expected = Map.empty[Long, Long] // id -> assigned batch
      var nextBatch = 0L
      var seen = Set.empty[Long]
      var disjoint = true
      batches.foreach { ids =>
        val batchDf = df.filter($"id".isin(ids: _*))
        Layout.appendBatch(batchDf, dir, "part", Seq("id"))
        // empty batches write no ingest_batch dir → no id advances
        if (ids.nonEmpty) {
          expected ++= ids.map(_ -> nextBatch)
          nextBatch += 1
        }
        val (fresh, upTo) = Layout.readNew(spark, dir, "prop")
        val got = fresh.select("id").collect().map(_.getLong(0)).toSet
        if ((seen & got).nonEmpty) disjoint = false
        seen ++= got
        Layout.commitCheckpoint(dir, "prop", upTo)
      }
      val consumeOk = disjoint && seen == expected.keySet
      val all = Layout.read(spark, dir)
        .select("id", "ingest_batch").collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
      val fullOk = all == expected
      val sinceOk = (0L until nextBatch).forall { k =>
        val got = Layout.readSince(spark, dir, k)
          .select("id").collect().map(_.getLong(0)).toSet
        got == expected.collect { case (id, b) if b >= k => id }.toSet
      }
      fullOk && sinceOk && consumeOk
    }

  /** Random store + random upsert batch: existing keys get new payloads
    * (possibly under a DIFFERENT partition value), plus brand-new keys.
    * Batch keys are unique and non-null by construction — merge's
    * documented precondition.
    */
  private val mergeGen: Gen[(Seq[(Long, String, Long)], Seq[(Long, String, Long)])] =
    for {
      n <- Gen.choose(5, 25)
      parts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      pick <- Gen.listOfN(n, Gen.oneOf(true, false))
      nNew <- Gen.choose(0, 5)
      newParts <- Gen.listOfN(nNew, Gen.oneOf("a", "b", "c", "d"))
      movedParts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield {
      val store = parts.zipWithIndex.map { case (p, i) => (i.toLong, p, i * 7L) }
      val updates = store.zip(pick).zip(movedParts).collect {
        case (((id, _, pay), true), mp) => (id, mp, pay + 1000L)
      }
      val inserts = newParts.zipWithIndex.map { case (p, j) =>
        (1000L + j, p, -j.toLong)
      }
      (store, updates ++ inserts)
    }

  property("merge = per-touched-partition replace-by-key + insert, rest untouched") =
    forAll(mergeGen) { case (store, batch) =>
      val sp = spark
      import sp.implicits._
      val dir = java.nio.file.Files.createTempDirectory("merge_prop_")
        .resolve("store").toString
      Layout.writePartitioned(store.toDF("id", "part", "payload"), dir,
        "part", Seq("id"))
      Layout.merge(batch.toDF("id", "part", "payload"), dir,
        "part", Seq("id"), Seq("id"))
      // the documented contract, computed independently: a store row is
      // replaced iff a batch row carries the same (partition value, key) —
      // a matching key under a DIFFERENT partition value always survives,
      // regardless of which directories the rest of the batch touches;
      // every batch row lands
      val batchAddrs = batch.map(b => (b._2, b._1)).toSet
      val expected = (store.filterNot(r => batchAddrs((r._2, r._1))) ++
        batch).groupBy(identity).view.mapValues(_.size).toMap
      val got = Layout.read(spark, dir)
        .select("id", "part", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      got == expected
    }
}
