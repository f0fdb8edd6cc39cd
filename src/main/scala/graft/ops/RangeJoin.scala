package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: pair every point row with every interval row whose
  * [start, end] contains the point (inclusive on both ends), optionally
  * under extra equi-keys.
  *
  * Spark turns a plain `p.join(i, point.between(start, end))` into a
  * broadcast-nested-loop / cartesian plan — O(|P|·|I|) compares, unusable at
  * scale. The scalable composition here is the classic binning rewrite:
  *   1. pick a bin width (same units as the point column — days, hours,
  *      epoch-nanos...);
  *   2. points map to ONE bin each: floor(point / w);
  *   3. intervals explode to EVERY bin they overlap: sequence(floor(start/w),
  *      floor(end/w)) — fan-out = interval length / w + 1, bounded when w is
  *      chosen near the typical interval length;
  *   4. equi-join on the bin (plus any user equi-keys) — a plain shuffled
  *      hash/sort-merge join Catalyst can plan, partition, and (for small
  *      interval sides) broadcast;
  *   5. re-check the exact `between` predicate (bins over-approximate).
  * No pair is lost (an interval covers every bin it overlaps) and no pair is
  * duplicated (each point lives in exactly one bin).
  *
  * At 100 TB: the shuffle key is (equiKeys, bin), so co-partitioning spreads
  * hot time ranges across bins; skew from long intervals is bounded by the
  * explode fan-out, which `maxBinsPerInterval` guards against (a mis-chosen
  * width raises instead of silently producing a billion-row explode).
  */
object RangeJoin {

  /** @param points    point-side table
    * @param intervals interval-side table (column names must not collide with
    *                  points' — rename upstream if needed)
    * @param pointCol  numeric column on `points` (bin units)
    * @param startCol  numeric interval start on `intervals` (same units)
    * @param endCol    numeric interval end, inclusive
    * @param binWidth  bin size in the same units; choose ~ the typical
    *                  interval length so fan-out stays O(1)
    * @param equiKeys  (pointKey, intervalKey) extra equi-join conditions
    * @param maxBinsPerInterval fail-fast guard on explode fan-out
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String, binWidth: Long,
      equiKeys: Seq[(String, String)] = Nil,
      maxBinsPerInterval: Long = 10000L): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pb = points.withColumn("__bin", floor(col(pointCol) / binWidth))
    val lo = floor(col(startCol) / binWidth)
    val hi = floor(col(endCol) / binWidth)
    // The guard lives INSIDE the exploded expression: a guard in a separate
    // dropped column would be pruned away by Catalyst before it ever ran.
    val bins = when(hi - lo >= maxBinsPerInterval,
      raise_error(concat(
        lit(s"range join fan-out exceeds $maxBinsPerInterval bins: "),
        (hi - lo + 1).cast("string"), lit(s" (binWidth=$binWidth)"))))
      .otherwise(sequence(lo, hi))
    val ib = intervals.withColumn("__bin", explode(bins))
    val cond = equiKeys.foldLeft(pb("__bin") === ib("__bin")) {
      case (c, (pk, ik)) => c && pb(pk) === ib(ik)
    }
    pb.join(ib, cond && col(pointCol).between(col(startCol), col(endCol)))
      .drop("__bin")
  }
}
