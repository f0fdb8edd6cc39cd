package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{Scratch, StagedSource}

import Q._

/** Training-data curation operators a large-scale pipeline needs beyond
  * dedup/similarity: stratified and weighted sampling, sequence packing
  * into fixed-token-budget shards, curriculum bucketing, mixture
  * upsampling, chunking, and benchmark decontamination. All deterministic
  * (hash-ordered or integer-systematic "randomness", no rand()) so every
  * entry sits under the driver's DuckDB oracle gate.
  */
object TrainOps {

  type Fn = (SparkSession, String) => DataFrame

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- stratified sampling: exactly k docs per language, chosen by a
    //    deterministic hash order (md5 of the id = reproducible "random").
    //    Per-group top-k plans as WindowGroupLimit — a bounded heap per
    //    partition, never a global sort; the 100 TB shape for "n per
    //    stratum" sampling ------------------------------------------------
    ("q_stratified_sample",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .orderBy("lang", "rk")
      },
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin),

    // -- the SAME bottom-k-by-hash sample computed the reservoir way: a
    //    mergeable bounded-heap Aggregator (graft.ops.Reservoir) planned as
    //    partial-per-partition + final-merge, so each partition ships at
    //    most k candidate (key, id) pairs per stratum across the shuffle —
    //    never the rows. The unknown-stratum-size / tiny-sample-fraction
    //    scale shape; oracle identical to the window formulation by
    //    construction ----------------------------------------------------
    ("q_reservoir_sample",
      (s: SparkSession, d: String) =>
        graft.ops.Reservoir.sampleK(
            t(s, d, "documents").select("lang", "doc_id"), "lang", "doc_id", k = 3)
          .orderBy("lang", "doc_id"),
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, doc_id""".stripMargin),

    // -- STREAMING per-stratum reservoir: the same bottom-k-by-hash
    //    sample maintained incrementally across three rate-limited
    //    micro-batches. Each batch merges the prior reservoir with its
    //    own rows and re-takes per-stratum bottom-k — legal because
    //    bottom-k by (md5, id) is a semilattice merge
    //    (min-k(min-k(A) ∪ B) = min-k(A ∪ B)), which is the property
    //    that makes reservoir state O(strata · k) FOREVER regardless of
    //    stream length. Versions land at idempotent per-batch paths (a
    //    replayed batch overwrites its own version with identical
    //    deterministic content — the at-least-once screen); the final
    //    version must hash-equal the BATCH sample, proving
    //    order/slicing-invariance of the maintained reservoir ----------
    ("q_stream_reservoir",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select(col("lang"), col("doc_id"))
        StagedSource.replay("stream_resv",
            docs.withColumn("__slice", pmod(col("doc_id"), lit(3))),
            "__slice", Some(1)) { (stream, tmp) =>
          val store = s"$tmp/store"
          def versions(): Seq[Long] = {
            val fs = Option(new java.io.File(store).listFiles())
              .getOrElse(Array.empty[java.io.File])
            fs.filter(_.getName.startsWith("v=")).toSeq
              .map(_.getName.stripPrefix("v=").toLong)
          }
          graft.streaming.StreamTune.withGateConfAt(s,
              Seq(s"$d/documents.parquet")) {
            StagedSource.runBatches(stream, tmp,
                org.apache.spark.sql.streaming.OutputMode.Append,
                "staged reservoir stream") { (b, id) =>
              // prior = the latest version BELOW this batch id, so a
              // replayed batch re-derives from the same input state
              val prior = versions().filter(_ < id).sorted.lastOption
                .map(v => b.sparkSession.read.parquet(s"$store/v=$v"))
                .getOrElse(b.sparkSession.createDataFrame(
                  new java.util.ArrayList[org.apache.spark.sql.Row](), b.schema))
              graft.ops.Reservoir.sampleK(
                  prior.unionByName(b.select("lang", "doc_id")),
                  "lang", "doc_id", k = 3)
                .coalesce(1).write.mode("overwrite").parquet(s"$store/v=$id")
            }
          }
          val res = s.read.parquet(s"$store/v=${versions().max}")
            .orderBy("lang", "doc_id")
          Scratch.collected(res)
        }
      },
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, doc_id""".stripMargin),

    // -- sequence packing: assign docs (in stable id order, per language) to
    //    fixed-token-budget shards via the exclusive running token count —
    //    the scan-friendly greedy packer. Partitioned by lang, so the window
    //    is distributed; emits per-shard stats (small output). At 100 TB the
    //    partition key is whatever unit a writer owns (lang, path prefix,
    //    bucket id) --------------------------------------------------------
    ("q_pack_sequences",
      (s: SparkSession, d: String) => {
        val budget = 2048L
        val ntok = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long")
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"), ntok.as("n_tok"))
          .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("shard", expr(s"before div ${budget}L"))
          .groupBy("lang", "shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang", "shard")
      },
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    cast(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (
        |  SELECT lang, doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM d)
        |SELECT lang, cast(before // 2048 AS BIGINT) AS shard, count(*) AS n_docs,
        |  cast(sum(n_tok) AS BIGINT) AS tok_sum,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- weighted (quality-proportional) systematic sampling: a doc is
    //    selected iff its weight interval [cum-w, cum) crosses a multiple of
    //    the per-language step — docs with twice the weight have twice the
    //    selection probability, yet the outcome is fully deterministic
    //    (integer arithmetic only, no rand()). Windowed per language, so
    //    prefix sums distribute; the tiny per-language totals broadcast ----
    ("q_weighted_sample",
      (s: SparkSession, d: String) => {
        val target = 5L // ~docs selected per language
        val docs = t(s, d, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("w"))
        val totals = docs.groupBy("lang")
          .agg(sum(col("w")).as("tot"))
          .withColumn("step", expr(s"greatest(tot div ${target}L, 1)"))
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs
          .withColumn("cum", sum(col("w")).over(w))
          .join(broadcast(totals.select("lang", "step")), "lang")
          .filter(expr("(cum - w) div step") < expr("cum div step"))
          .select("lang", "doc_id", "w")
          .orderBy("lang", "doc_id")
      },
      """WITH d AS (SELECT lang, doc_id, cast(n_chars AS BIGINT) AS w FROM documents),
        |c AS (SELECT lang, doc_id, w,
        |        sum(w) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |t AS (SELECT lang, greatest(sum(w) // 5, 1) AS step FROM d GROUP BY 1)
        |SELECT c.lang, c.doc_id, c.w
        |FROM c JOIN t ON c.lang = t.lang
        |WHERE (c.cum - c.w) // t.step < c.cum // t.step
        |ORDER BY 1, 2""".stripMargin),

    // -- curriculum bucketing: ntile(4) over a quality proxy per language —
    //    equal-count difficulty tiers for staged training. Partitioned
    //    window (distributed); output is per-tier stats ---------------------
    ("q_curriculum_ntile",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("tier", ntile(4).over(w).cast("long"))
          .groupBy("lang", "tier")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("chars_sum"))
          .orderBy("lang", "tier")
      },
      """SELECT lang, tier, count(*) AS n_docs,
        |  cast(sum(cast(n_chars AS BIGINT)) AS BIGINT) AS chars_sum
        |FROM (SELECT lang, doc_id, n_chars,
        |        ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS tier
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- mixture upsampling: repeat each source's docs by a per-source
    //    factor (high-quality sources seen multiple epochs) via a sequence
    //    explode — deterministic, no sampling; fan-out bounded by the factor
    //    table ------------------------------------------------------------
    ("q_mixture_upsample",
      (s: SparkSession, d: String) => {
        val rep = when(col("source") === "src1", 3)
          .when(col("source") === "src2", 2).otherwise(1)
        t(s, d, "documents")
          .select(col("source"), col("doc_id"), rep.as("rep"))
          .withColumn("epoch", explode(sequence(lit(1), col("rep"))))
          .groupBy("source")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_upsampled"))
          .orderBy("source")
      },
      """SELECT source, cast(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  cast(count(*) AS BIGINT) AS n_upsampled
        |FROM (SELECT source, doc_id,
        |        unnest(range(1, (CASE WHEN source = 'src1' THEN 3
        |                              WHEN source = 'src2' THEN 2
        |                              ELSE 1 END) + 1)) AS epoch
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- chunking for embedding/RAG prep: overlapping fixed-width character
    //    windows (width 500, stride 400) via sequence explode + substring —
    //    map-only, fan-out = ceil(n_chars/stride), no shuffle until the
    //    final stats. Long docs chunk on whatever executor holds them ------
    ("q_chunk_split",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), length(col("text")).as("n"))
          .filter(col("n") > 0)
        docs
          .withColumn("start", explode(sequence(lit(1), col("n"), lit(400))))
          .select(col("doc_id"), col("start"),
            length(substring(col("text"), col("start"), lit(500))).cast("long").as("chunk_len"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"), sum(col("chunk_len")).as("len_sum"))
          .filter(col("n_chunks") > 1)
          .orderBy("doc_id")
      },
      """WITH c AS (
        |  SELECT doc_id,
        |    cast(len(substr(text, cast(start AS BIGINT), 500)) AS BIGINT) AS chunk_len
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, len(text) + 1, 400)) AS start
        |        FROM documents WHERE len(text) > 0))
        |SELECT doc_id, count(*) AS n_chunks, cast(sum(chunk_len) AS BIGINT) AS len_sum
        |FROM c GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin),

    // -- benchmark decontamination: corpus docs sharing any 5-gram shingle
    //    with the held-out set (doc_id < 50 stands in for the benchmark).
    //    Inverted-index equi-join on the shingle — candidate pairs exist
    //    only where a shingle co-occurs, never all-pairs; the (small,
    //    distinct) benchmark side broadcasts at any corpus scale -----------
    ("q_decontaminate",
      (s: SparkSession, d: String) => {
        val sh = t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.ShingleExpr.wordShingles(col("text"), 5).as("sh"))
          .filter(size(col("sh")) > 0)
        val bench = sh.filter(col("doc_id") < 50)
          .select(explode(col("sh")).as("g")).distinct()
        val corpus = sh.filter(col("doc_id") >= 50)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        // hint-free like Curation.decontaminate: AQE still broadcasts the
        // small bench-shingle side at this scale (pinned in PlanSpec)
        corpus.join(bench, "g")
          .groupBy("doc_id")
          .agg(countDistinct(col("g")).as("n_shared"))
          .orderBy("doc_id")
      },
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |                       w[i+3] || ' ' || w[i+4]
        |                       for i in range(1, len(w) - 3)]) AS sh
        |      FROM t WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 50),
        |c AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 50)
        |SELECT c.doc_id, cast(count(DISTINCT c.g) AS BIGINT) AS n_shared
        |FROM c JOIN b USING (g) GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- token-budget selection (ops/Curation.takeTokenBudget): keep the
    //    best documents — (n_chars DESC, doc_id) order — until 60% of the
    //    corpus's tokens are spent. The Spark side is the range-partitioned
    //    two-phase prefix sum (NO single-partition global window — the
    //    driver-side piece is a #partitions-sized offset table); the oracle
    //    states the same semantics as the naive global running-sum window.
    //    Budget = (total*3) div 5 in exact integers on both sides ----------
    ("q_token_budget",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
              .cast("long").as("tokens"))
        // 1-row driver probe for the budget scalar (same class as the
        // cache-stat memos — bounded, not a data path)
        val total = docs.agg(sum(col("tokens"))).head().getLong(0)
        graft.ops.Curation.takeTokenBudget(docs, "n_chars", "doc_id",
            "tokens", total * 3 / 5)
          .select(col("doc_id"), col("tokens"), col("cum_tokens"))
          .orderBy("cum_tokens", "doc_id")
      },
      """WITH d AS (SELECT doc_id, n_chars,
        |             cast(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens
        |           FROM documents),
        |tot AS (SELECT sum(tokens) AS t FROM d),
        |c AS (SELECT doc_id, tokens,
        |        sum(tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
        |                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM d)
        |SELECT doc_id, tokens, cast(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c CROSS JOIN tot
        |WHERE cum_tokens <= (t * 3) // 5
        |ORDER BY cum_tokens, doc_id""".stripMargin)
  )
}
