package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Handle on one column of a table — the Spark-native analogue of the
  * reference's `Column` (reference: pandasdb/column.py:106-763).
  *
  * Holds no data: just the owning table's DataFrame, the column name, and the
  * result cache. Scalar aggregates are memoized under the table's name,
  * the stat, this column and the table's canonicalized plan
  * ([[Table.memoKey]]; reference memoizes under the generated SQL string,
  * which names the table, column.py:132-304).
  *
  * All aggregates execute as distributed Spark jobs (partial aggregation
  * map-side, single final combine) — at 100 TB each is one column-pruned scan;
  * with parquet statistics min/max can be answered from footers.
  */
final class Col private[api] (
    private[api] val table: Table,
    val name: String) {

  private def df: DataFrame = table.toDf
  private def cache: QueryCache = table.cache
  private def c: Column = col(name)
  private def colDf: DataFrame = df.select(c)
  private lazy val keys = new Stats.Keys(table, name)

  /** Spark SQL type of the column (replaces the reference's PRAGMA probe,
    * column.py:135-147 — schema is free in Spark).
    */
  def sqlType: DataType = df.schema(name).dataType

  def isNumeric: Boolean = sqlType.isInstanceOf[NumericType]

  private def requireNumeric(op: String): Unit =
    if (!isNumeric)
      throw new ColumnTypeError(
        s"cannot compute $op() of non-numeric column '$name' (type ${sqlType.simpleString})")

  // ---- aggregates (reference §2.4) -------------------------------------

  /** Total row count of the owning table (reference: column.py:155-160). */
  def len: Long = table.len

  /** Non-null count (reference: column.py:162-166). */
  def count: Long = cache.getOrElseUpdate(keys.count) {
    df.agg(F.count(c)).head().getLong(0)
  }

  /** Null count (reference: column.py:168-172). */
  def nullCount: Long = cache.getOrElseUpdate(keys.nullCount) {
    df.filter(c.isNull).count()
  }

  def min: Any = cache.getOrElseUpdate(keys.min)(df.agg(F.min(c)).head().get(0))

  def max: Any = cache.getOrElseUpdate(keys.max)(df.agg(F.max(c)).head().get(0))

  /** Sum; raises on non-numeric columns (reference: column.py:186-196). */
  def sum: Double = {
    requireNumeric("sum")
    cache.getOrElseUpdate(keys.sum) {
      val r = df.agg(Stats.sumAgg(c)).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
  }

  /** Mean, NaN when no value is non-null; raises on non-numeric columns
    * (reference: column.py:198-208).
    */
  def avg: Double = {
    requireNumeric("avg")
    cache.getOrElseUpdate(keys.avg) {
      val r = df.agg(Stats.avgAgg(c)).head()
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    }
  }

  /** Exact median — the reference computes it exactly client-side
    * (column.py:210-231) and its tests demand pandas equality to 4 places;
    * Spark's `median` is an exact percentile, not approx (SURVEY.md §4.3.2).
    */
  def median: Double = {
    requireNumeric("median")
    // distributed order-statistic selection (StatsOps.exactPercentiles):
    // the built-in median aggregate merges the full value→count map on
    // ONE reducer, a choke point on high-cardinality columns at scale
    cache.getOrElseUpdate(keys.median) {
      val proj = df.select(c.cast("double").as("__m"))
      try graft.ops.StatsOps.exactPercentiles(proj, "__m", Seq(0.5)).head
      catch { case _: IllegalArgumentException => Double.NaN }
    }
  }

  /** All tied modes with their counts; null participates as a value
    * (reference: column.py:233-249).
    */
  def mode: Map[Any, Long] = cache.getOrElseUpdate(keys.mode) {
    modePlan.collect().map(r => (r.get(0), r.getLong(1))).toMap
  }

  /** The distributed mode plan: agg-max + broadcast equality join (the
    * q_mode_hc pattern). A global window would sort ALL distinct values on
    * one partition — a choke point on a high-cardinality column at scale;
    * here the 1-row max broadcasts and the counts stay distributed.
    * Exposed for the plan assertion in ApiSpec.
    */
  private[graft] def modePlan: DataFrame = {
    val counts = df.groupBy(c).agg(F.count(lit(1)).as("__cnt"))
    val mx = counts.agg(F.max(col("__cnt")).as("__mx"))
    counts.join(F.broadcast(mx), col("__cnt") === col("__mx"))
      .select(c, col("__cnt"))
  }

  /** Distinct values incl. null (reference: column.py:281-287), ordered
    * count DESC, then value ASC with null first. The reference's
    * `SELECT DISTINCT` fixes no order; this one is deterministic, and the
    * same whether this getter (a distributed sort) or the memo warm-up's
    * grouped pass computed it.
    */
  def unique: Seq[Any] = cache.getOrElseUpdate(keys.unique) {
    Stats.counts(df, name).orderBy(Stats.byCount(name): _*).collect().map(_.get(0)).toSeq
  }

  /** Value → count, null excluded, ordered count DESC then value ASC
    * (pandas semantics; reference: column.py:289-304).
    */
  def valueCounts: Seq[(Any, Long)] = cache.getOrElseUpdate(keys.valueCounts) {
    Stats.counts(df.filter(c.isNotNull), name).orderBy(Stats.byCount(name): _*)
      .collect().map(r => (r.get(0), r.getLong(1))).toSeq
  }

  /** Composite stats: numeric → len/count/min/max/sum/avg/median,
    * text → len/count/min/max/unique (reference: column.py:251-279).
    * Each stat comes from its getter, one job or more apiece when cold.
    * After [[Database.populateCache]] (one aggregate per table, plus one
    * grouped pass per column up to `distinctStatMaxRows` rows) every one
    * is a memo hit and no job runs.
    */
  def describe: Map[String, Any] =
    if (isNumeric)
      Map("len" -> len, "count" -> count, "min" -> min, "max" -> max,
        "sum" -> sum, "avg" -> avg, "median" -> median)
    else
      Map("len" -> len, "count" -> count, "min" -> min, "max" -> max,
        "unique" -> unique.length)

  // ---- predicates → Expr (reference §2.3) ------------------------------

  private def expr(cond: Column): Expr = Expr(cond, table.name)

  def >(v: Any): Expr = expr(c > lit(v))
  def >=(v: Any): Expr = expr(c >= lit(v))
  def <(v: Any): Expr = expr(c < lit(v))
  def <=(v: Any): Expr = expr(c <= lit(v))

  /** Null-aware equality: `=== null` compiles to IS NULL
    * (reference: column.py:709-727).
    */
  def ===(v: Any): Expr = if (v == null) expr(c.isNull) else expr(c === lit(v))
  def =!=(v: Any): Expr = if (v == null) expr(c.isNotNull) else expr(c =!= lit(v))

  def isin(vs: Any*): Expr = expr(c.isin(vs: _*))
  def between(lo: Any, hi: Any): Expr = expr(c.between(lit(lo), lit(hi)))

  /** Case-INSENSITIVE pattern match: SQLite LIKE is case-insensitive
    * (reference tests/test_column.py:685-695), so this maps to Spark `ilike`,
    * not `like` (SURVEY.md §4.3.4).
    */
  def like(pattern: String): Expr = expr(c.ilike(pattern))

  def notNull: Expr = expr(c.isNotNull)

  /** Membership probe (`x in col`) as a limit-1 pushdown scan
    * (reference: column.py:589-595).
    */
  def contains(v: Any): Boolean =
    df.filter(if (v == null) c.isNull else c === lit(v)).limit(1).count() == 1L

  // ---- derived views (reference §2.5) ----------------------------------

  /** Single-column table view for chaining filter/sort/limit like the
    * reference's ColumnView (column.py:766).
    */
  def view: Table = table.select(Seq(name))

  def filter(e: Expr): Table = view.filter(e)

  /** Positional access on the column (reference `Column.iloc`,
    * column.py:338-353 via IndexLoc): int (± negative), slice, and id-list
    * forms, each returning bare values.
    */
  def iloc(i: Long): Any = view.iloc(i).get(0)
  def iloc(start: Long, stop: Long, step: Long = 1): Seq[Any] =
    view.iloc(start, stop, step).map(_.get(0))
  def iloc(ids: Seq[Long]): Seq[Any] = view.iloc(ids).map(_.get(0))
  def ilocSlice(start: Option[Long] = None, stop: Option[Long] = None,
      step: Long = 1): Seq[Any] = view.ilocSlice(start, stop, step).map(_.get(0))
  def sortValues(ascending: Boolean = true): Table =
    view.sortValues(name, ascending)
  def limit(n: Int): Table = view.limit(n)
  def notNullView: Table = new Table(table.db, df.filter(c.isNotNull).select(c), table.name)

  // ---- materialization (reference §2.1 S7-S9) --------------------------

  /** Values; with a limit, the FIRST n in base order (reference
    * data(limit) is head-n, column.py:314-326 — a bare Spark limit takes
    * arbitrary rows).
    */
  def data(limit: Int = -1): Seq[Any] = view.data(limit).map(_.get(0))
  def toSeq: Seq[Any] = data()
  def iterator: Iterator[Any] = colDf.toLocalIterator().asScala.map(_.get(0))

  /** Pandas-Series-style rendering (reference `__repr__`,
    * column.py:581-587): first/last values with an ellipsis when longer
    * than `maxRows`, plus the `Name: ..., dtype: ...` footer. Reads at most
    * `maxRows` rows.
    */
  def repr(maxRows: Int = 10): String = {
    val v = view
    val (top, bottom) = v.reprRows(v.len, maxRows)
    def entry(ir: (Long, Row)): (String, String) =
      ir._1.toString -> (if (ir._2.isNullAt(0)) "NaN" else ir._2.get(0).toString)
    val entries = top.map(entry) ++
      (if (bottom.isEmpty) Nil else ("..." -> "...") +: bottom.map(entry))
    val iw = entries.map(_._1.length).max
    val vw = entries.map(_._2.length).max
    entries.map { case (i, x) =>
      (" " * (iw - i.length)) + i + "  " + (" " * (vw - x.length)) + x
    }.mkString("\n") +
      s"\nName: $name, dtype: ${df.schema(name).dataType.simpleString}"
  }

  /** Exactly-n random values (reference: column.py:328-336 does
    * `ORDER BY RANDOM() LIMIT n`). Distributed top-k on a random key —
    * TakeOrderedAndProject, no full sort, same shape as Table.sample.
    */
  def sample(n: Int = 10, seed: Long = scala.util.Random.nextLong()): Seq[Any] =
    colDf.orderBy(rand(seed)).limit(n).collect().map(_.get(0)).toSeq

  // ---- element-wise arithmetic (reference §2.8 U3/U4) ------------------

  /** Element-wise ops against a scalar or a same-table column; nulls
    * propagate natively (reference: column.py:597-675). Cross-table zips —
    * the reference's strict-length iterator zip — are row-index equi-joins,
    * see Table.zipWith.
    */
  private def arith(f: Column => Column): DataFrame =
    df.select(f(c).as(name))

  /** Column-column ops: same-table columns combine in one projection;
    * columns from ANOTHER table zip positionally via the strict row-index
    * join (the reference zips arbitrary equal-length iterables,
    * column.py:604-607 — resolving the other table's column name against
    * this table would be silently wrong).
    */
  private def combine(o: Col, f: (Column, Column) => Column): DataFrame =
    if (o.table eq table) arith(x => f(x, col(o.name)))
    else zipWith(o, f)

  def +(v: Any): DataFrame = v match {
    case o: Col => combine(o,
      (x, y) => if (sqlType == StringType) concat(x, y) else x + y)
    case s: String => arith(x => concat(x, lit(s)))
    case _ => arith(_ + lit(v))
  }
  def -(v: Any): DataFrame = v match {
    case o: Col => combine(o, _ - _); case _ => arith(_ - lit(v))
  }
  def *(v: Any): DataFrame = v match {
    case o: Col => combine(o, _ * _); case _ => arith(_ * lit(v))
  }
  def /(v: Any): DataFrame = v match {
    case o: Col => combine(o, _ / _); case _ => arith(_ / lit(v))
  }
  def floorDiv(v: Any): DataFrame = v match {
    case o: Col => combine(o, (x, y) => floor(x / y))
    case _ => arith(x => floor(x / lit(v)))
  }

  /** Cross-table element-wise combine — the reference's strict iterator zip
    * (column.py:604-607, strict=True raises on length mismatch). Distributed
    * form: row-index equi-join on both tables' minted __rowid, after an
    * explicit length check (SURVEY.md §7.4.4).
    */
  def zipWith(other: Col, f: (Column, Column) => Column): DataFrame = {
    if (table.len != other.table.len)
      throw new IndexOutOfBoundsError(
        s"cannot zip columns of different lengths: ${table.len} vs ${other.table.len}")
    import Table.ROWID
    val l = table.indexed.select(col(ROWID), c.as("__l"))
    val r = other.table.indexed.select(col(ROWID), col(other.name).as("__r"))
    l.join(r, ROWID)
      .orderBy(ROWID)
      .select(f(col("__l"), col("__r")).as(name))
  }

  /** Generic cell-wise apply with extra positional/keyword arguments —
    * the full reference arity (column.py:338-364: `apply(func, *,
    * ignore_na=True, args=(), **kwargs)` yields `func(cell, *args,
    * **kwargs)` per cell, a driver-side generator, with nulls passed
    * through unevaluated when `ignore_na`). Same contract here: a lazy
    * iterator over `func(cell, args, kwargs)` — deliberately NOT a
    * distributed plan, because an arbitrary `Any => Any` closure over
    * untyped cells is driver territory; the typed applyStr/Double/Long
    * overloads below are the distributed (codegen-UDF) path.
    */
  def apply[T](func: (Any, Seq[Any], Map[String, Any]) => T,
      ignoreNa: Boolean = true, args: Seq[Any] = Nil,
      kwargs: Map[String, Any] = Map.empty): Iterator[Any] =
    iterator.map { cell =>
      if (cell == null && ignoreNa) null else func(cell, args, kwargs)
    }

  /** Null-propagating per-element function application (reference `apply`,
    * column.py:338-364, `ignore_na=True`). Typed overloads keep Spark
    * Encoders happy; execution is a codegen'd map over the column.
    */
  def applyStr(f: String => String): DataFrame = {
    val u = udf((s: String) => if (s == null) null else f(s))
    df.select(u(c).as(name))
  }
  def applyDouble(f: Double => Double): DataFrame = {
    val u = udf((d: java.lang.Double) =>
      if (d == null) null else java.lang.Double.valueOf(f(d)))
    df.select(u(c).as(name))
  }
  def applyLong(f: Long => Long): DataFrame = {
    val u = udf((d: java.lang.Long) =>
      if (d == null) null else java.lang.Long.valueOf(f(d)))
    df.select(u(c).as(name))
  }
}
