package graft.api

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

import graft.ops.StatsOps.QuantileRanks

/** Per-column stats: the memo key of each one, and the fused passes that
  * compute many of them at once (reference: cache.py:94-125 warms them one
  * query at a time).
  *
  * The distributive and algebraic stats (len, count, nullCount, min, max,
  * sum, avg) of any number of columns come from ONE aggregate over the
  * table. The holistic ones (mode, unique, valueCounts, median) of one
  * column come from ONE grouped pass: value → row count, which Spark
  * orders count DESC, value ASC on one partition; the warm-up runs it
  * only on tables of at most `distinctStatMaxRows` rows, while the
  * getters keep distributed plans. Every value is seeded
  * under the key its [[Col]] getter memoizes under, with the runtime class
  * that getter produces, so a warmed memo equals one filled getter by
  * getter (asserted in FusedStatsSpec).
  */
private[api] object Stats {

  def sumAgg(c: Column): Column = F.sum(c.cast(DoubleType))
  def avgAgg(c: Column): Column = F.avg(c.cast(DoubleType))

  /** The memo keys of one column's stats ([[Table.memoKey]]) — one
    * definition, read by the [[Col]] getters and by the fused passes, so
    * the two cannot drift. Building one runs no analysis.
    */
  final class Keys(t: Table, val name: String) {
    private def key(stat: String): String = t.memoKey(stat, name)
    val numeric: Boolean = t.toDf.schema(name).dataType.isInstanceOf[NumericType]
    val count: String = key("count")
    val nullCount: String = key("nullCount")
    val min: String = key("min")
    val max: String = key("max")
    val sum: String = key("sum")
    val avg: String = key("avg")
    val median: String = key("median")
    val mode: String = key("mode")
    val unique: String = key("unique")
    val valueCounts: String = key("valueCounts")
    def holistic: Seq[String] =
      Seq(mode, unique, valueCounts) ++ (if (numeric) Seq(median) else Nil)
    /** This column's share of the fused aggregate, in [[seedFrom]]'s order. */
    def aggregates: Seq[Column] = {
      val c = col(name)
      Seq(F.count(c), F.min(c), F.max(c)) ++
        (if (numeric) Seq(sumAgg(c), avgAgg(c)) else Nil)
    }
  }

  /** The table's len, from the memo, or else from ONE aggregate over
    * every column that misses some distributive or algebraic entry, which
    * seeds that column's missing entries. A warm table runs no job.
    */
  def aggregate(t: Table, cols: Seq[Keys]): Long = {
    val cache = t.cache
    val todo = cols.filterNot(aggregated(cache, _))
    cache.peek(t.lenKey) match {
      case Some(n: Long) if todo.isEmpty => n
      case _ =>
        val aggs = F.count(lit(1)) +: todo.flatMap(_.aggregates)
        val row = t.toDf.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(0)
        seed(cache, t.lenKey, n)
        todo.foldLeft(1) { (at, k) => seedFrom(cache, k, row, at, n); at + k.aggregates.length }
        n
    }
  }

  // every entry the fused aggregate would seed for `k` is memoized
  private def aggregated(cache: QueryCache, k: Keys): Boolean =
    cache.peek(k.count) match {
      case Some(count: Long) =>
        // min and max are null, and so never memoized, exactly when count is 0
        val minMax = if (count == 0) Nil else Seq(k.min, k.max)
        val sumAvg = if (k.numeric) Seq(k.sum, k.avg) else Nil
        (Seq(k.nullCount) ++ minMax ++ sumAvg).forall(cache.contains)
      case _ => false
    }

  // the fused row holds the column's `aggregates` from index `at`
  private def seedFrom(cache: QueryCache, k: Keys, row: Row, at: Int, len: Long): Unit = {
    val count = row.getLong(at)
    seed(cache, k.count, count)
    seed(cache, k.nullCount, len - count)
    seed(cache, k.min, row.get(at + 1))
    seed(cache, k.max, row.get(at + 2))
    if (k.numeric) {
      seed(cache, k.sum, if (row.isNullAt(at + 3)) 0.0 else row.getDouble(at + 3))
      seed(cache, k.avg, if (row.isNullAt(at + 4)) Double.NaN else row.getDouble(at + 4))
    }
  }

  // insert unless present; like a getter, a null is not memoized
  private def seed(cache: QueryCache, key: String, v: Any): Unit = {
    cache.getOrElseUpdate[Any](key)(v); ()
  }

  /** Value → row count `__n` of column `name`, null a value like any other. */
  def counts(df: DataFrame, name: String): DataFrame =
    df.groupBy(col(name)).agg(F.count(lit(1)).as("__n"))

  /** The holistic stats' order over [[counts]]: count DESC, then
    * value ASC with null first.
    */
  def byCount(name: String): Seq[Column] = Seq(desc("__n"), asc(name))

  /** The holistic stats of one column. */
  final case class Grouped(mode: Map[Any, Long], unique: Seq[Any],
      valueCounts: Seq[(Any, Long)], median: Double)

  /** ONE grouped pass over column `name`: value → row count, null a value
    * like any other, ordered count DESC then value ASC by Spark itself on
    * one partition (no range-sample job; the driver keeps Spark's order).
    * Numeric columns carry each value's double, from which the median is
    * exact: NaN when no value is non-null.
    */
  def grouped(df: DataFrame, name: String, numeric: Boolean): Grouped = {
    val c = col(name)
    val counts = Stats.counts(df, name)
    val rows = (if (numeric) counts.select(c, col("__n"), c.cast(DoubleType)) else counts)
      .coalesce(1).sortWithinPartitions(byCount(name): _*).collect()
    val top = if (rows.isEmpty) 0L else rows(0).getLong(1)
    Grouped(
      rows.takeWhile(_.getLong(1) == top).map(r => (r.get(0), r.getLong(1))).toMap,
      rows.map(_.get(0)).toSeq,
      rows.filterNot(_.isNullAt(0)).map(r => (r.get(0), r.getLong(1))).toSeq,
      if (numeric) medianOf(rows) else Double.NaN)
  }

  // quantile_cont at 0.5 over the cumulative counts of the non-null
  // doubles in value order, NaN sorting high (Spark's double order)
  private def medianOf(rows: Array[Row]): Double = {
    val byValue = rows.filterNot(_.isNullAt(2)).map(r => (r.getDouble(2), r.getLong(1)))
      .sortBy(_._1)(Ordering.Double.TotalOrdering)
    val n = byValue.iterator.map(_._2).sum
    if (n == 0) return Double.NaN
    val q = QuantileRanks(n, Seq(0.5))
    val wanted = q.wanted.iterator.buffered
    val at = scala.collection.mutable.Map.empty[Long, Double]
    var start = 0L
    byValue.foreach { case (d, k) =>
      while (wanted.hasNext && wanted.head < start + k) at(wanted.next()) = d
      start += k
    }
    q.interpolate(at).head
  }

  /** Warm every stat of every column of `t` the memo lacks: one aggregate
    * for the table, then per column, concurrently, either one grouped pass
    * (tables of at most `distinctStatMaxRows` rows) or the exact median
    * alone (numeric columns of larger tables, which skip mode, unique and
    * valueCounts as the reference does, cache.py:120). Returns the
    * failures by column; None is the table's aggregate.
    */
  def warm(t: Table, distinctStatMaxRows: Long): Seq[(Option[String], Throwable)] = {
    // one analysis per column: a type a stat cannot take (the min of a
    // map) fails here, named, before any job runs
    val built = t.columns.map { n =>
      n -> Try { val k = new Keys(t, n); t.toDf.select(k.aggregates: _*); k }
    }
    val failed = built.collect { case (n, Failure(e)) => (Some(n), e) }
    val keys = built.collect { case (_, Success(k)) => k }
    val len =
      try aggregate(t, keys)
      catch { case NonFatal(e) => return failed :+ (None -> e) }
    val cache = t.cache
    val outcomes = inParallel(t.spark.sparkContext, keys.map { k => () =>
      if (len <= distinctStatMaxRows) {
        if (!k.holistic.forall(cache.contains)) {
          val g = grouped(t.toDf, k.name, k.numeric)
          seed(cache, k.mode, g.mode)
          seed(cache, k.unique, g.unique)
          seed(cache, k.valueCounts, g.valueCounts)
          if (k.numeric) seed(cache, k.median, g.median)
        }
      } else if (k.numeric && !cache.contains(k.median)) t.col(k.name).median
    })
    failed ++ keys.zip(outcomes).collect { case (k, Failure(e)) => (Some(k.name), e) }
  }

  /** Run `tasks` on the global pool, each with the calling thread's Spark
    * local properties (so their jobs join the caller's job group), and
    * wait for every one: a failure does not leave the others unobserved.
    */
  def inParallel[T](sc: SparkContext, tasks: Seq[() => T]): Seq[Try[T]] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val props = GraftBridge.localProperties(sc)
    tasks.map(task => Future(GraftBridge.withLocalProperties(sc, props)(task())))
      .map(f => Await.ready(f, Duration.Inf).value.get)
  }
}
