package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Formatted physical plans, in the session [[Harness.session]] gives
  * [[Bench]], so the plans are the ones the bench runs. Two forms:
  *
  *  - `sbt "Test/runMain graft.PlanDump"` writes PLANS.md: the flagship
  *    picks below, the evidence behind PlanSpec's assertions (pushdown,
  *    pruning, broadcast, top-k, partial aggregation).
  *  - `sbt "Test/runMain graft.PlanDump <tag> q_a,q_b [outDir]"` writes
  *    each named query's plan to `<outDir>/<query>_<tag>.txt` (outDir
  *    defaults to `plans/r15`) — before/after evidence for a plan change.
  *
  * Tables are read from SPARK_GRAFT_SF_DIR, default sf0.001.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val d = "/root/testdata/sf0.001"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
    if (args.nonEmpty) {
      val tag = args(0)
      val outDir = if (args.length > 2) args(2) else "plans/r15"
      Files.createDirectories(Paths.get(outDir))
      args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        try {
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan(name))
          println(s"[plans] wrote $outDir/${name}_$tag.txt")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[plans] $name FAILED: ${e.getMessage}")
        }
        graft.queries.TextOps.clearCaches()
        graft.queries.VectorOps.clearCaches()
      }
      spark.stop()
      return
    }
    val picks = Seq(
      "q_filter_eq" -> "Filter pushdown + column pruning (PushedFilters / ReadSchema)",
      "q_groupby_agg" -> "Partial (map-side) + final hash aggregation",
      "q_join_agg" -> "Broadcast of small dimensions",
      "q_sort_topk" -> "Distributed top-k (TakeOrderedAndProject)",
      "q_tpch_q5" -> "6-table join: broadcasts + shuffle joins mixed",
      "q_dedup_ngram" -> "Prefix-filtered inverted-index self-join",
      "q_stratified_sample" -> "Per-group top-k sampling (WindowGroupLimit)",
      "q_decontaminate" -> "Inverted-index overlap screen, benchmark broadcast",
      "q_lang_id" -> "Explode + codegen'd In + partial agg (no interpreted HOF)",
      "q_reservoir_sample" -> "Mergeable bounded-heap sampling (partial+final ObjectHashAggregate)",
      "q_salted_join" -> "Skew-salted sort-merge join (salt in the join keys)",
      "q_decontaminate_bloom" -> "Bloom probe inside the scan, anti-join only for maybe-rows",
      "q_tpch_q4" -> "Correlated EXISTS as one left-semi join",
      "q_tpch_q22" -> "Scalar aggregate broadcast + anti join (NOT IN)",
      "q_dup_spans" -> "Positioned-gram span dedup: gram-keyed shuffles, doc-partitioned island window",
      "q_bm25" -> "BM25: term-filtered explode, broadcast idf/avgdl, decimal-exact score sum",
      "q_tpch_q21" -> "EXISTS/NOT-EXISTS as semi + anti join over one shared late-lineitems subplan",
      "q_line_dedup" -> "Corpus line dedup: line-text-keyed shuffle, first-occurrence join-back, id-keyed reassembly",
      "q_token_budget" -> "Range-partitioned two-phase prefix sum (no single-partition window)",
      "q_bucketed_join" -> "Bucketed scans (SelectedBucketsCount, Bucketed: true); at this SF the dim broadcasts — the forced-SMJ exchange-free proof is PartitioningSpec + the 0-byte shuffle meter at 100x",
      "q_collocations" -> "PMI: vocab-bounded hash aggs, token stream never joined",
      "q_triangles" -> "Degree-oriented wedge closure: three equi-joins, no neighborhood cartesian",
      "q_auc_exact" -> "Exact AUC: corpus collapses to the distinct-score table before the two-phase prefix sum (the RDD boundary the plan shows as Scan ExistingRDD — no window anywhere)",
      "q_link_predict" -> "Link prediction: degree-capped wedge self-join (equi on the center), pair-keyed hash agg, anti-join against existing edges — nothing quadratic in an uncapped neighborhood",
      "q_attribution" -> "Last-touch attribution: the as-of join's single user-partitioned LOCF window (one shuffle), lookback as a residual filter, cents agg on top",
      "q_lift_deciles" -> "Gains/lift deciles: distinct-score two-phase prefix sum (the RDD boundary — no global window), score-partitioned tie ranks, buckets-sized self-join cumsum",
      "q_cluster_audit" -> "Dedup cluster audit: spanning-star member-to-representative shingle equi-join (never within-cluster all-pairs), exact integer Jaccard aggregate",
      "q_textrank" -> "TextRank: tokenize+explode into the integer PageRank core — vocabulary-sized rank frames BROADCAST into every per-round edge join (the small-node-set policy), so the corpus-sized co-occurrence list never shuffles",
      "q_spearman" -> "Exact Spearman: two distinct-value prefix sums (RDD boundaries — no global window), two value-keyed rank joins, one DECIMAL(38,0) moment row",
      "q_changepoint" -> "Change-point KS scan: ONE corpus groupBy to the day×bucket matrix, then (days×buckets)-sized triangular joins — no window, no corpus re-read",
      "q_basket_rules" -> "Market-basket rules: order-keyed pair self-join (fan-out structurally bounded by order size), broadcast item counts, DECIMAL lift via truncating integral div")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries " +
      s"(${sfDir.stripSuffix("/").split('/').last})\n\n")
    sb.append("Generated by `sbt \"Test/runMain graft.PlanDump\"`. Properties asserted\n")
    sb.append("continuously by `graft.queries.PlanSpec`.\n")
    picks.foreach { case (name, why) =>
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(plan(name).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
