package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** squashHistory: content preservation, contract boundaries and the
  * checkpoint guard. Crash recovery at every point of the commit is
  * CrashSpec's fault-injection case.
  */
class SquashSpec extends SparkSuite {

  import spark.implicits._

  private def mkStore(): String = {
    val dir = Files.createTempDirectory("graft_squash").toString + "/store"
    // lang from i/4 so EVERY batch (i%4) carries both partition values
    val docs = (0L until 40L).map(i =>
      (i, if ((i / 4) % 2 == 0) "en" else "de", s"text-$i"))
      .toDF("id", "lang", "body")
    (0 until 4).foreach { b =>
      Layout.appendBatch(docs.filter(pmod(col("id"), lit(4)) === b),
        dir, "lang", Seq("id"))
    }
    dir
  }

  private def content(dir: String): Set[(Long, String, String, Long)] =
    Layout.read(spark, dir)
      .select(col("id"), col("lang"), col("body"),
        col("ingest_batch").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  /** The batch directories of `pd` that the current commit references. */
  private def batchDirs(dir: String, pd: String): Set[String] =
    PointerStore.liveFiles(dir).filter(_.startsWith(s"$pd/"))
      .map(_.split('/')(1)).toSet

  test("squash consolidates history, preserves rows, leaves new batches alone") {
    val dir = mkStore()
    val before = content(dir)
    val touched = Layout.squashHistory(spark, dir, upTo = 2L, Seq("id"))
    assert(touched == Seq("lang=de", "lang=en"))
    // per partition: one squashed dir at the max squashed id + batch 3
    assert(batchDirs(dir, "lang=en") == Set("ingest_batch=2", "ingest_batch=3"))
    assert(batchDirs(dir, "lang=de") == Set("ingest_batch=2", "ingest_batch=3"))
    val after = content(dir)
    // data columns identical; ids <= 2 relabel to 2, id 3 untouched
    assert(after.map(t => (t._1, t._2, t._3)) == before.map(t => (t._1, t._2, t._3)))
    assert(after.forall(t => t._4 == 2L || t._4 == 3L))
    assert(after.filter(_._4 == 3L) == before.filter(_._4 == 3L))
    // readSince above the squash floor is byte-identical semantics
    assert(Layout.readSince(spark, dir, 3L).count() ==
      before.count(_._4 >= 3L))
    // idempotent: nothing left to squash below 2
    assert(Layout.squashHistory(spark, dir, 2L, Seq("id")).isEmpty)
    // appending continues from the surviving max id
    assert(Layout.nextBatchId(dir) == 4L)
  }

  test("checkpoint guard: refuses to squash past an outstanding consumer") {
    val dir = mkStore()
    Layout.commitCheckpoint(dir, "trainer", 1L)
    val e = intercept[IllegalArgumentException] {
      Layout.squashHistory(spark, dir, 2L)
    }
    assert(e.getMessage.contains("trainer"))
    // advanced consumer unblocks it
    Layout.commitCheckpoint(dir, "trainer", 2L)
    assert(Layout.squashHistory(spark, dir, 2L, Seq("id")).nonEmpty)
    // and its incremental read still sees exactly the unseen batch
    val (fresh, upTo) = Layout.readNew(spark, dir, "trainer")
    assert(upTo == 3L && fresh.count() == 10L)
  }

  test("partitions whose only squashable dir is already the target are skipped") {
    val dir = Files.createTempDirectory("graft_squash").toString + "/store"
    val docs = Seq((1L, "en", "a"), (2L, "en", "b")).toDF("id", "lang", "body")
    Layout.appendBatch(docs.filter(col("id") === 1), dir, "lang", Seq("id"))
    Layout.appendBatch(docs.filter(col("id") === 2), dir, "lang", Seq("id"))
    // squash to 1: en partition consolidates 0+1 -> 1
    assert(Layout.squashHistory(spark, dir, 1L, Seq("id")) == Seq("lang=en"))
    // second call: single dir already labeled with the max id -> no-op
    assert(Layout.squashHistory(spark, dir, 1L, Seq("id")).isEmpty)
    assert(batchDirs(dir, "lang=en") == Set("ingest_batch=1"))
  }
}
