package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The Curation library functions must agree with the oracle-verified query
  * forms in graft.queries.TrainOps (which DuckDB hash-checks every round) —
  * this ties the reusable API to the driver's correctness gate.
  */
class CurationSpec extends SparkSuite {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("stratifiedSample: exactly k per stratum, matches the graded query") {
    val got = Curation.stratifiedSample(docs.select("lang", "doc_id"), "lang", "doc_id", 3)
    val counts = got.groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 3))
    val q = graft.SparkEntry.queries("q_stratified_sample")(spark, sfDir)
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val lib = got.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lib == q)
  }

  test("weightedSample: selection matches the graded query; heavier rows selected more") {
    val got = Curation.weightedSample(
      docs.select("lang", "doc_id", "n_chars"), "lang", "doc_id", "n_chars", 5L)
    val q = graft.SparkEntry.queries("q_weighted_sample")(spark, sfDir)
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val lib = got.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lib == q)
  }

  test("packByBudget: shard weights bounded; matches the graded query's shards") {
    val ntok = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long")
    val in = docs.select(col("lang"), col("doc_id"), ntok.as("n_tok"))
    val got = Curation.packByBudget(in, "lang", "doc_id", "n_tok", 2048L)
    // every shard's exclusive-prefix start lies within budget of its index
    val stats = got.groupBy("lang", "shard").agg(sum("n_tok").as("tok_sum")).collect()
    assert(stats.nonEmpty)
    val q = graft.SparkEntry.queries("q_pack_sequences")(spark, sfDir)
      .select("lang", "shard", "n_docs").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val lib = got.groupBy("lang", "shard").count().collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(lib == q)
  }

  test("curriculumTiers: equal-count tiers per stratum") {
    val got = Curation.curriculumTiers(
      docs.select("lang", "doc_id", "n_chars"), "lang", "n_chars", "doc_id", 4)
    val sizes = got.groupBy("lang", "tier").count().collect()
      .groupBy(_.getString(0)).values
    // ntile guarantees tier sizes differ by at most 1 within a stratum
    sizes.foreach { rows =>
      val cs = rows.map(_.getLong(2))
      assert(cs.max - cs.min <= 1, cs.toSeq)
    }
  }

  test("chunk: covers the text with stride-spaced overlapping windows") {
    import spark.implicits._
    val one = Seq((1L, "abcdefghij")).toDF("id", "text") // len 10
    val out = Curation.chunk(one, "text", width = 4, stride = 3)
      .select("chunk_start", "chunk").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1, "abcd"), (4, "defg"), (7, "ghij"), (10, "j")))
  }

  test("upsampleMixture: per-key repetition with epoch column") {
    val got = Curation.upsampleMixture(
      docs.select("source", "doc_id"), "source", Map("src1" -> 3, "src2" -> 2))
    val q = graft.SparkEntry.queries("q_mixture_upsample")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val lib = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lib == q)
  }

  test("applyDedup keeps exactly one doc per transitive cluster") {
    import spark.implicits._
    val corpus = (1L to 10L).map(i => (i, s"payload$i")).toDF("doc_id", "text")
    // cluster {2,3,4} via a chain (2-3, 3-4: 4 never pairs with 2 directly),
    // cluster {7,8}; the rest untouched
    val pairs = Seq((2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val kept = Curation.applyDedup(corpus, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L, 6L, 7L, 9L, 10L))
  }

  test("decontaminate: flags exactly the docs sharing shingles with the benchmark") {
    val bench = docs.filter(col("doc_id") < 50)
    val corpus = docs.filter(col("doc_id") >= 50)
    val got = Curation.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = graft.SparkEntry.queries("q_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == q)
  }

  test("takeTokenBudget: equals the naive global running-sum cut") {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), col("n_chars"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("tokens"))
    val total = d.agg(sum(col("tokens"))).head().getLong(0)
    val budget = total * 3 / 5
    val got = Curation.takeTokenBudget(d, "n_chars", "doc_id", "tokens", budget)
      .select("doc_id", "cum_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = d.withColumn("cum", sum(col("tokens")).over(
        Window.orderBy(col("n_chars").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == naive)
    assert(got.nonEmpty && got.values.max <= budget)
  }

  test("takeTokenBudget plans without a single-partition exchange") {
    val d = docs.select(col("doc_id"), col("n_chars"), col("n_chars").as("tokens"))
    val plan = Curation.takeTokenBudget(d, "n_chars", "doc_id", "tokens", 1000000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-window single-partition exchange in plan:\n$plan")
  }

  test("lineDedup: duplicated lines survive only at their first occurrence") {
    import spark.implicits._
    // doc 1 owns "a b c d"; doc 2 repeats it (dropped) + keeps its own line;
    // doc 3 is entirely a later duplicate -> NULL rebuilt
    val d = Seq(
      (1L, "a b c d x y z w"),
      (2L, "a b c d q r s t"),
      (3L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(d, "doc_id", "text", width = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3))))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, Some("a b c d x y z w")),
      (2L, 2L, 1L, Some("q r s t")),
      (3L, 1L, 0L, None)))
  }
}
