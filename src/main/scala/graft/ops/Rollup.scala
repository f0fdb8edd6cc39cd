package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Incrementally-maintained aggregate rollups over a batch-versioned store
  * — materialized-view maintenance for the additive aggregates
  * (count / sum / min / max) that cover most corpus dashboards.
  *
  * The point at 100 TB: a per-(lang, source) corpus summary recomputed
  * from scratch costs a full-history scan on every refresh; folding only
  * the batches appended since the last refresh costs a directory-pruned
  * scan of the NEW data plus a re-aggregation of the (tiny) rollup table.
  * [[Layout.appendBatch]]'s immutable `ingest_batch=N` levels make "the
  * new data" a precise, replayable set.
  *
  * EXACTLY-ONCE by construction: the rollup is a store with one commit
  * per refresh, and the rollup's high-water batch id is part of that
  * commit — every data file of a generation is named
  * `rollup-<batch>-…parquet` after the highest store batch it folds. A
  * refresh stages the re-aggregated rollup and publishes it with one
  * [[PointerStore]] commit ([[Layout.replaceAll]]). A crash anywhere leaves
  * either the old generation (old version — the next run refolds the same
  * batches) or the new one (new version — the next run skips them); a
  * half-applied fold cannot exist, so batches are never double-counted —
  * the failure mode a naive "append partials, then checkpoint"
  * maintenance loop has.
  *
  * Aggregate schema per `sumCols` entry `c`: `sum_c`, `min_c`, `max_c`,
  * plus one `n_rows` count. Float/double sums are carried as
  * DECIMAL(30,6) — exact and re-aggregation-order-independent, so a
  * rollup folded in 3 refreshes equals one folded in 1 (asserted in
  * RollupSpec); integral sums stay long. Types are pinned per generation
  * (re-aggregation would otherwise widen decimals each refresh and drift
  * the schema).
  */
object Rollup {

  private val Generation = "rollup-(\\d+)-.*".r

  /** Last store batch id folded into the rollup at `dir` (read from its
    * current commit's file names), or -1 for an absent/never-maintained
    * rollup.
    */
  def version(dir: String): Long =
    PointerStore.liveFiles(dir).collect { case Generation(n) => n.toLong }
      .maxOption.getOrElse(-1L)

  /** Fold every store batch newer than the rollup's version into the
    * rollup at `rollupDir`, atomically. Returns the new version (the
    * highest batch id folded), or the unchanged current version when the
    * store has nothing new. Grouping is by `groupCols`; each of
    * `sumCols` contributes sum/min/max plus the shared `n_rows` count.
    *
    * Costs one scan of the NEW batches (directory-pruned) + one scan of
    * the previous rollup (aggregate-sized, not corpus-sized). Single
    * maintainer per rollup dir (a second one's commit refuses), the same
    * single-producer shape as [[Layout.appendBatch]].
    */
  def maintain(spark: SparkSession, storeDir: String, rollupDir: String,
      groupCols: Seq[String], sumCols: Seq[String]): Long = {
    require(groupCols.nonEmpty, "rollup needs at least one group column")
    val v = version(rollupDir)
    val latest = Layout.nextBatchId(storeDir) - 1L
    if (latest <= v) return v // nothing new (or store absent/empty)
    val fresh = Layout.readSince(spark, storeDir, v + 1L)
      .filter(col("ingest_batch") <= latest) // pin: batches may land mid-run
    val partial = aggregate(fresh, groupCols, sumCols)
    val combined =
      if (v < 0L) partial
      else merge(Layout.read(spark, rollupDir).unionByName(partial),
        groupCols, sumCols)
    Layout.replaceAll(rollupDir, rel => s"rollup-$latest-$rel")(
      combined.write.parquet(_))
    latest
  }

  /** The rollup's current contents (schema: groupCols, n_rows, and
    * sum_/min_/max_ per sum column). Empty-schema frame when never
    * maintained.
    */
  def read(spark: SparkSession, dir: String): DataFrame = Layout.read(spark, dir)

  /** The pinned carry type for a sum over `dt`: integrals stay long,
    * float/double go through exact DECIMAL(30,6), and decimal inputs keep
    * THEIR OWN scale with widened precision — casting a decimal sum to
    * long would silently truncate cents from every refresh.
    *
    * Precision contract for float/double inputs: values are summed as
    * DECIMAL(30,6), so fractional digits beyond the 6th are truncated
    * per row (rollup sums are order-independent and exactly mergeable
    * across refreshes AT that scale, which is the point — a double sum
    * would drift with aggregation order), and |x| >= 1e24 overflows the
    * cast. Inputs needing more fractional precision should be scaled to
    * integers (e.g. micros) upstream.
    */
  private def sumType(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = dt match {
    case DoubleType | FloatType => DecimalType(30, 6)
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => org.apache.spark.sql.types.LongType
  }

  // first-level aggregation of raw rows
  private def aggregate(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      sumCols.flatMap { c =>
        val st = sumType(df.schema(c).dataType)
        // per-row cast matches the DECIMAL(30,6) carry type: a narrower
        // cast (e.g. 18,6) overflows at |x| >= 1e12 — NULL under non-ANSI,
        // silently vanishing from the sum. Fractional digits beyond 6 are
        // truncated by contract (see sumType's scaladoc).
        val in = df.schema(c).dataType match {
          case DoubleType | FloatType => col(c).cast(DecimalType(30, 6))
          case _ => col(c)
        }
        Seq(sum(in).cast(st).as(s"sum_$c"), min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))
      }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // re-aggregation of rollup rows (old rollup ∪ new partial): counts and
  // sums add, min/max fold — each sum re-pinned to ITS OWN stored type so
  // generations never drift (decimal precision would otherwise widen per
  // refresh until it hit 38 and changed the schema)
  private def merge(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = sum(col("n_rows")).cast("long").as("n_rows") +:
      sumCols.flatMap { c =>
        val st = df.schema(s"sum_$c").dataType
        Seq(sum(col(s"sum_$c")).cast(st).as(s"sum_$c"),
          min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c"))
      }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

}
