package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{BpeOps, CartOps, CleanOps, DiffOps, EntityOps, EvalOps, EventOps, ExportOps, GraphOps, LmOps, MoreOps, MoreOps2, MoreOps3, Parity, ProfileOps, SearchOps, SinkOps, SketchOps, SpanOps, TextOps, TpchOps, TrainOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed done has BOTH a `queries` entry and (when ANSI-SQL
  * expressible) an `oracleSql` entry; the driver hash-compares our parquet
  * output against DuckDB on the same tables (see graft.queries.Q for the
  * determinism conventions that make that comparison exact).
  */
object SparkEntry {

  private val modules: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Parity.entries ++ EventOps.entries ++ TextOps.entries ++ VectorOps.entries ++ TpchOps.entries ++ MoreOps.entries ++ MoreOps2.entries ++ MoreOps3.entries ++ ProfileOps.entries ++ SketchOps.entries ++ TrainOps.entries ++ CleanOps.entries ++ SpanOps.entries ++ LmOps.entries ++ SinkOps.entries ++ ExportOps.entries ++ GraphOps.entries ++ BpeOps.entries ++ DiffOps.entries ++ EntityOps.entries ++ SearchOps.entries ++ CartOps.entries ++ EvalOps.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map { case (n, fn, _) => n -> fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for non-SQL-expressible ops.
    * VectorOps.dynamicOracles adds entries whose SQL needs runtime-derived
    * literals (trained k-means centroids) — populated once the query has
    * run, which Verify's run-then-dump order guarantees.
    */
  def oracleSql: Map[String, String] =
    modules.collect { case (n, _, sql) if sql != null && sql.nonEmpty => n -> sql }.toMap ++
      VectorOps.dynamicOracles

  /** Execution schedule for the sequential runners (Bench/Verify): plain
    * queries first, then each persisted-cache-consuming group consecutively
    * with its clear hook after the last member — so helper frames
    * (TextOps.shingleDf/sigDf, VectorOps ivf index) never occupy executor
    * memory beyond their consumers in an 80+-query session.
    */
  def schedule: Seq[(Seq[String], () => Unit)] = {
    val all = queries.keySet
    val text = TextOps.cacheConsumers.toSeq.sorted.filter(all)
    val vec = VectorOps.cacheConsumers.toSeq.sorted.filter(all)
    val plain = (all -- TextOps.cacheConsumers -- VectorOps.cacheConsumers).toSeq.sorted
    Seq((plain, () => ()),
      (text, () => TextOps.clearCaches()),
      (vec, () => VectorOps.clearCaches()))
  }
}
