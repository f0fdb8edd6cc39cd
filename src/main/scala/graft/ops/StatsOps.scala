package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate statistics for 100 TB-scale profiling, where the exact
  * operators (countDistinct, exact median) are correct but shuffle-bound:
  *
  *  - [[approxDistinct]]: HyperLogLog++ — one pass, fixed ~1.5 KB sketch per
  *    group, mergeable map-side; exact countDistinct shuffles every distinct
  *    value.
  *  - [[approxQuantiles]]: Greenwald-Khanna sketches — one pass, bounded
  *    error, no global sort; exact percentile sorts the column.
  *  - [[profile]]: one-scan per-column profile (the `describe` for tables
  *    where a second pass is too expensive): count/nulls/min/max + HLL
  *    distinct for every column in a single aggregation.
  */
object StatsOps {

  def approxDistinct(df: DataFrame, cols: Seq[String], rsd: Double = 0.01): DataFrame =
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(s"${cols.head}_distinct"),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(s"${c}_distinct")): _*)

  def approxQuantiles(df: DataFrame, column: String,
      probabilities: Seq[Double], relErr: Double = 0.001): Seq[Double] =
    df.stat.approxQuantile(column, probabilities.toArray, relErr).toSeq

  /** EXACT continuous-interpolation percentiles (quantile_cont semantics:
    * rank r = frac·(n−1), result = v⌊r⌋ + (v⌈r⌉ − v⌊r⌋)·(r−⌊r⌋)) by
    * distributed order-statistic SELECTION, not aggregation.
    *
    * Spark's built-in exact `percentile`/`median` aggregates a
    * value→count map per partition and MERGES THE FULL MAP ON ONE REDUCER
    * — on a high-cardinality column at 100 TB that single task holds
    * every distinct value and dies. Here: ONE range exchange of the bare
    * column (each partition owns a contiguous value range, sorted
    * within), a #partitions-sized count collect, then each partition
    * streams to just the globally-indexed rows it owns (early-stop).
    * Nothing ever concentrates: memory per task is O(1), shuffle is the
    * column itself. Same shared-RDD two-phase machinery as
    * Curation.takeTokenBudget — and the same recompute-determinism caveat:
    * shuffle reuse between the count pass and the pick pass is best-effort
    * (an executor lost in between recomputes its partitions). Here a
    * recompute is harmless even though `__v` alone is NOT a total order —
    * equal values are interchangeable, so any tie permutation yields the
    * same selected STATISTIC. Adapting this machinery to pick by a
    * non-interchangeable key would require persist() across the passes.
    *
    * NaNs sort high (Spark double ordering) like the built-in; nulls are
    * dropped. Returns one value per requested fraction.
    */
  def exactPercentiles(df: DataFrame, column: String,
      fracs: Seq[Double]): Seq[Double] =
    exactPercentilesWithCount(df, column, fracs)._1

  /** [[exactPercentiles]] plus the exact non-null row count the selection
    * already computes internally — callers that would otherwise run a
    * separate count() over an expensive subplan (a window, a join) get it
    * for free.
    */
  def exactPercentilesWithCount(df: DataFrame, column: String,
      fracs: Seq[Double]): (Seq[Double], Long) = {
    val vals = df.select(col(column).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val ordered = vals.repartitionByRange(col("__v").asc)
      .sortWithinPartitions(col("__v").asc)
    val rdd = ordered.rdd
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
    }.collect().toMap
    val nParts = rdd.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).init
    val n = counts.values.sum
    require(n > 0, s"exactPercentiles: no non-null values in $column")
    val q = QuantileRanks(n, fracs)
    val byPart: Map[Int, Seq[Long]] = q.wanted.groupBy { idx =>
      // owning partition: last pid whose offset <= idx
      (0 until nParts).filter(p => offsets(p) <= idx &&
        idx < offsets(p) + counts.getOrElse(p, 0L)).head
    }.map { case (p, idxs) => p -> idxs.map(_ - offsets(p)).sorted.toSeq }
    val sc = df.sparkSession.sparkContext
    val bNeed = sc.broadcast(byPart)
    val bOff = sc.broadcast(offsets.toArray)
    val picked: Map[Long, Double] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val want = bNeed.value.getOrElse(pid, Seq.empty)
      if (want.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        var next = 0
        var i = 0L
        while (it.hasNext && next < want.size) {
          val v = it.next().getDouble(0)
          if (i == want(next)) { out += ((bOff.value(pid) + i, v)); next += 1 }
          i += 1
        }
        out.iterator
      }
    }.collect().toMap
    (q.interpolate(picked), n)
  }

  /** quantile_cont over `n` ascending values: fraction f has rank
    * r = f·(n−1), reads the values at ranks ⌊r⌋ and ⌈r⌉, and yields
    * lo + (hi − lo)·(r − ⌊r⌋). [[wanted]] lists those 0-based ranks;
    * [[interpolate]] combines the values found there, one per fraction.
    * The one home of the exact-percentile rule: [[exactPercentiles]] and
    * the memo warm-up's grouped-count median both apply it.
    */
  final case class QuantileRanks(n: Long, fracs: Seq[Double]) {
    private val ranks = fracs.map(f => f * (n - 1))
    def wanted: Seq[Long] =
      ranks.flatMap(r => Seq(r.toLong, math.ceil(r).toLong)).distinct.sorted
    def interpolate(at: Long => Double): Seq[Double] = ranks.map { r =>
      val lo = at(r.toLong)
      val hi = at(math.ceil(r).toLong)
      lo + (hi - lo) * (r - math.floor(r))
    }
  }

  /** One-pass profile of every column: rows, nulls, min, max, approx
    * distinct. Output: one row per column.
    */
  def profile(df: DataFrame, rsd: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs: Seq[Column] = df.columns.toSeq.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        approx_count_distinct(col(c), rsd).as(s"__dst_$c"))
    }
    val total = count(lit(1)).as("__total")
    val row = df.agg(total, aggs: _*).head()
    val n = row.getLong(row.fieldIndex("__total"))
    df.columns.toSeq.map { c =>
      (c, n,
        n - row.getLong(row.fieldIndex(s"__cnt_$c")),
        Option(row.getString(row.fieldIndex(s"__min_$c"))).orNull,
        Option(row.getString(row.fieldIndex(s"__max_$c"))).orNull,
        row.getLong(row.fieldIndex(s"__dst_$c")))
    }.toDF("column", "rows", "nulls", "min", "max", "approx_distinct")
  }
}
