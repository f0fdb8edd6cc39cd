package graft

import org.apache.spark.sql.functions._

import graft.ops.{Layout, Privacy, Rollup, Validate}
import graft.ops.Validate.Checks._

/** The STORAGE-side lifecycle composed end-to-end from the round's ops,
  * the way a production corpus store actually runs: batches land
  * versioned → a validation gate screens each drop → corrections arrive
  * as a MERGE → the dashboard rollup folds forward incrementally → a
  * trainer pins its snapshot and can re-read it bit-identically after
  * later appends → the release passes a per-source gate with tokenized
  * ids. Every stage asserts on the real intermediate, so a regression in
  * any one op names its stage here — the compose test the per-op specs
  * cannot give.
  */
class StorePipelineSpec extends SparkSuite {

  test("versioned ingest → gate → merge → rollup → snapshot → release composes") {
    val base = java.nio.file.Files.createTempDirectory("store_pipe_").toString
    val store = s"$base/store"
    val roll = s"$base/rollup"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // 1. three crawl drops land as immutable versioned batches; the
    //    validation gate runs on EACH DROP before it is folded anywhere
    for (i <- 0 to 2) {
      val drop = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      assert(Validate.passes(drop, Seq(
        completeness("text"), uniqueness("doc_id"), sizeBetween(1L))),
        s"drop $i failed its intake gate")
      Layout.appendBatch(drop, store, "lang", Seq("doc_id"))
      // 2. the dashboard folds forward after every drop — never rescans
      Rollup.maintain(spark, store, roll, Seq("lang"), Seq("n_chars"))
    }
    assert(Rollup.version(roll) === 2L)

    // 3. the trainer pins its corpus version BEFORE corrections arrive
    val pinned = Layout.readAsOf(spark, store, 2L)
      .agg(count(lit(1)), sum(col("n_chars"))).head()

    // 4. corrections arrive: a re-crawl fixed 1 in 50 docs — MERGE
    //    replaces them in place, but versioned stores are append-only
    //    history, so corrections go to a SEPARATE merged release store
    val release = s"$base/release"
    Layout.writePartitioned(docs, release, "lang", Seq("doc_id"))
    val fixes = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      .withColumn("source", lit("recrawl"))
    val touched = Layout.merge(fixes, release, "lang", Seq("doc_id"), Seq("doc_id"))
    assert(touched.nonEmpty)
    val rel = Layout.read(spark, release)
    assert(rel.count() === docs.count(), "merge must replace, not append")
    assert(rel.filter(col("source") === "recrawl").count() === fixes.count())

    // 5. per-source release gate on the MERGED store, with tokenized ids
    //    (the release cannot carry raw doc ids)
    val tokenized = Privacy.tokenize(rel, "doc_id", "release-secret")
    assert(Validate.passes(tokenized, Seq(
      completeness("doc_id"), uniqueness("doc_id"))),
      "tokenization must stay id-preserving (no collisions, no nulls)")
    val perSource = Validate.runGrouped(tokenized, Seq("source"),
      Seq(completeness("text"))).collect()
    assert(perSource.nonEmpty && perSource.forall(_.getBoolean(3)))

    // 6. the rollup agrees with a direct recompute of the full store
    val direct = Layout.read(spark, store).groupBy("lang")
      .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("s"))
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val folded = Rollup.read(spark, roll)
      .select(col("lang"), col("n_rows"), col("sum_n_chars"))
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(folded.sameElements(direct), "incremental fold diverged from truth")

    // 7. later appends must NOT disturb the trainer's pinned snapshot
    Layout.appendBatch(docs.limit(500), store, "lang", Seq("doc_id"))
    val rePinned = Layout.readAsOf(spark, store, 2L)
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    assert(rePinned.getLong(0) === pinned.getLong(0) &&
      rePinned.getLong(1) === pinned.getLong(1),
      "snapshot read changed after a later append")
  }
}
