package graft.api

import graft.SparkSuite

/** Semantics of the pandas-db-parity API layer (SURVEY.md §2/§4.3),
  * mirroring the reference's own test patterns: differential checks against
  * directly-computed values, metamorphic invariants, and the exact error
  * contract (reference: tests/test_table.py, tests/test_column.py).
  */
class ApiSpec extends SparkSuite {

  lazy val db: Database = Database.open(spark, sfDir)

  test("catalog: tables, columns, items, unknown-table error") {
    assert(db.tables.contains("lineitem") && db.tables.contains("region"))
    assert(db.getColumns("region") == Seq("r_regionkey", "r_name"))
    assert(db.items.map(_._1) == db.tables)
    assert(db.len == db.tables.length)
    assert(db.repr == s"Database(db_path='$sfDir')")
    intercept[InvalidTableError](db("nope"))
    intercept[InvalidColumnError](db("region").col("nope"))
  }

  test("len / shape / columns") {
    val r = db("region")
    assert(r.len == 5)
    assert(r.shape == (5L, 2))
    val li = db("lineitem")
    assert(li.len == 6000)
  }

  test("metamorphic: len == count + null_count (reference test_column.py:60-67)") {
    for (cn <- Seq("l_quantity", "l_returnflag")) {
      val c = db("lineitem").col(cn)
      assert(c.len == c.count + c.nullCount)
    }
  }

  test("aggregates match directly-computed values") {
    val qty = db("lineitem").col("l_quantity")
    val values = db("lineitem").toDf.select("l_quantity")
      .collect().map(_.getDouble(0)).sorted
    assert(qty.min == values.head)
    assert(qty.max == values.last)
    assert(math.abs(qty.sum - values.sum) < 1e-4)
    assert(math.abs(qty.avg - values.sum / values.length) < 1e-9)
    val n = values.length
    val expectMedian =
      if (n % 2 == 1) values(n / 2) else (values(n / 2 - 1) + values(n / 2)) / 2.0
    assert(math.abs(qty.median - expectMedian) < 1e-9)
  }

  test("sum/avg/median raise ColumnTypeError on text (reference column.py:193-194)") {
    val c = db("lineitem").col("l_returnflag")
    intercept[ColumnTypeError](c.sum)
    intercept[ColumnTypeError](c.avg)
    intercept[ColumnTypeError](c.median)
  }

  test("mode returns all tied maxima; value_counts ordered desc/asc; unique") {
    val c = db("customer").col("c_mktsegment")
    val vc = c.valueCounts
    // ordering: counts non-increasing, ties by value ascending
    assert(vc.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    vc.sliding(2).foreach { p =>
      if (p.length == 2 && p(0)._2 == p(1)._2)
        assert(p(0)._1.asInstanceOf[String] < p(1)._1.asInstanceOf[String])
    }
    val m = c.mode
    val maxCnt = vc.map(_._2).max
    assert(m.values.forall(_ == maxCnt))
    assert(m.keySet == vc.filter(_._2 == maxCnt).map(_._1).toSet)
    assert(c.unique.toSet == vc.map(_._1).toSet) // no nulls in fixture
    // scale guard: mode must not plan a single-partition Window over the
    // distinct values (agg-max + broadcast join instead)
    val plan = c.modePlan.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"mode plan must not use a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row max should broadcast:\n$plan")
  }

  test("describe variants") {
    val num = db("lineitem").col("l_quantity").describe
    assert(num.keySet == Set("len", "count", "min", "max", "sum", "avg", "median"))
    val txt = db("lineitem").col("l_returnflag").describe
    assert(txt.keySet == Set("len", "count", "min", "max", "unique"))
    assert(txt("unique") == 3)
  }

  test("filter: compound expr, nested re-filter shrinks (reference test_table.py:235-262)") {
    val li = db("lineitem")
    val f1 = li.filter(li("l_quantity") >= 30)
    val f2 = f1.filter(f1("l_discount") > 0.05)
    assert(f1.len <= li.len && f2.len <= f1.len)
    val combined = li.filter((li("l_quantity") >= 30) && (li("l_discount") > 0.05))
    assert(combined.len == f2.len)
    assert(f2.columns == li.columns)
  }

  test("expression guard: cross-table mix raises (reference expression.py:30-35)") {
    val li = db("lineitem")
    val o = db("orders")
    intercept[ExpressionError]((li("l_quantity") > 5) && (o("o_totalprice") > 100))
    intercept[ExpressionError](li.filter(o("o_totalprice") > 100))
  }

  test("predicates: isin, between, like (case-insensitive), notNull, contains") {
    val p = db("part")
    assert(p.filter(p("p_name").like("%RING%")).len ==
      p.filter(p("p_name").like("%ring%")).len) // SQLite LIKE semantics
    val seg = db("customer")
    assert(seg.filter(seg("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).len ==
      seg.filter(seg("c_mktsegment") === "BUILDING").len +
        seg.filter(seg("c_mktsegment") === "AUTOMOBILE").len)
    val o = db("orders")
    val bt = o.filter(o("o_totalprice").between(1000.0, 5000.0))
    assert(bt.len == o.toDf.filter("o_totalprice >= 1000.0 AND o_totalprice <= 5000.0").count())
    assert(o.col("o_orderkey").contains(1L) || o.col("o_orderkey").contains(0L))
    assert(!o.col("o_orderkey").contains(-42L))
  }

  test("sort: multi-key with direction map; null-first asc default kept") {
    val o = db("orders")
    val sorted = o.sortValues(Seq("o_orderstatus" -> true, "o_totalprice" -> false))
    val rows = sorted.data(50)
    val pairs = rows.map(r => (r.getString(2), r.getDouble(3)))
    assert(pairs.sliding(2).forall { p =>
      p.length < 2 || p(0)._1 < p(1)._1 ||
        (p(0)._1 == p(1)._1 && p(0)._2 >= p(1)._2)
    })
    intercept[InvalidColumnError](o.sortValues("nope"))
  }

  test("limit keeps base order; limit(n) rows == first n of parent (test_table.py:292-306)") {
    val li = db("lineitem")
    val first10 = li.limit(10).toDf.collect()
    val parent10 = li.iloc(0L, 10L)
    assert(first10.map(_.toSeq).toSeq == parent10.map(_.toSeq).toSeq)
  }

  test("sample returns exactly n rows (reference test_table.py:118-125)") {
    val li = db("lineitem")
    assert(li.sample(17).toDf.count() == 17)
    assert(li.sample(17, seed = 1).toDf.count() == 17)
  }

  test("column sample: exactly n values from the column (reference column.py:328-336)") {
    val c = db("customer").col("c_custkey")
    val s = c.sample(12)
    assert(s.length == 12)
    val all = c.toSeq.toSet
    assert(s.forall(all.contains))
    // seeded draws are deterministic
    assert(c.sample(5, seed = 7L) == c.sample(5, seed = 7L))
  }

  test("iloc: int, negative, slice, list, bounds error (reference table.py:19-106)") {
    val r = db("region").sortValues("r_regionkey")
    assert(r.iloc(0).getInt(0) == 0)
    assert(r.iloc(-1).getInt(0) == 4)
    assert(r.iloc(0L, 5L, 2L).map(_.getInt(0)) == Seq(0, 2, 4))
    assert(r.iloc(Seq(3L, 1L, 3L)).map(_.getInt(0)) == Seq(3, 1, 3))
    intercept[IndexOutOfBoundsError](r.iloc(5))
    intercept[IndexOutOfBoundsError](r.iloc(-6))
  }

  test("ilocSlice: full Python slice.indices semantics incl. negative step (reference table.py:83-89)") {
    val r = db("region").sortValues("r_regionkey")
    def ids(s: Seq[org.apache.spark.sql.Row]) = s.map(_.getInt(0))
    // every (start, stop, step) in a small grid must equal CPython's
    // list(range(5))[start:stop:step]
    val pyRef = for {
      start <- Seq[Option[Long]](None, Some(0L), Some(2L), Some(-1L), Some(-7L), Some(9L))
      stop  <- Seq[Option[Long]](None, Some(0L), Some(3L), Some(-2L), Some(-9L), Some(8L))
      step  <- Seq(1L, 2L, -1L, -2L)
    } yield (start, stop, step)
    pyRef.foreach { case (a, b, st) =>
      // oracle: materialize slice.indices locally over 0..4
      val n = 5L
      val (lower, upper) = if (st < 0) (-1L, n - 1) else (0L, n)
      def cl(v: Option[Long], d: Long) =
        v.map(x => math.min(math.max(if (x < 0) x + n else x, lower), upper)).getOrElse(d)
      val s0 = cl(a, if (st < 0) upper else lower)
      val s1 = cl(b, if (st < 0) lower else upper)
      val expect = (s0 until s1 by st).map(_.toInt)
      assert(ids(r.ilocSlice(a, b, st)) == expect, s"slice($a,$b,$st)")
    }
    // the canonical reversal + explicit spot checks
    assert(ids(r.ilocSlice(step = -1L)) == Seq(4, 3, 2, 1, 0))
    assert(ids(r.ilocSlice(Some(3L), Some(0L), -2L)) == Seq(3, 1))
    assert(ids(r.ilocSlice(Some(-1L), None, -2L)) == Seq(4, 2, 0))
    intercept[IllegalArgumentException](r.ilocSlice(step = 0L))
  }

  test("generic apply with args/kwargs and ignoreNa (reference column.py:338-364, test_column.py:253-254)") {
    val c = db("region").sortValues("r_regionkey").col("r_regionkey")
    // func(cell, *args): add the positional arg, like round(x, 1) in the ref test
    val plus = c.apply((cell, args, _) =>
      cell.asInstanceOf[Int] + args.head.asInstanceOf[Int], args = Seq(10)).toSeq
    assert(plus == Seq(10, 11, 12, 13, 14))
    // kwargs reach the function
    val kw = c.apply((cell, _, kwargs) =>
      s"${kwargs("prefix")}${cell}", kwargs = Map("prefix" -> "r")).toSeq
    assert(kw == Seq("r0", "r1", "r2", "r3", "r4"))
  }

  test("Col.iloc positional forms + Table.items (reference column.py:338-353, table.py:204-209)") {
    val r = db("region").sortValues("r_regionkey")
    val c = r.col("r_regionkey")
    assert(c.iloc(0) == 0 && c.iloc(-1) == 4)
    assert(c.iloc(0L, 5L, 2L) == Seq(0, 2, 4))
    assert(c.ilocSlice(step = -1L) == Seq(4, 3, 2, 1, 0))
    assert(c.iloc(Seq(3L, 1L, 3L)) == Seq(3, 1, 3))
    intercept[IndexOutOfBoundsError](c.iloc(9))
    assert(r.items.map(_._1) == r.columns)
    assert(r.items.head._2.name == r.columns.head)
  }

  test("empty-table edge cases: stats, repr, sample, iloc bounds") {
    val e = db("region").filter(db("region")("r_regionkey") > 999)
    assert(e.len == 0 && e.shape == (0L, e.columns.length))
    assert(e.data().isEmpty && e.sample(3).toDf.count() == 0)
    val c = e.col("r_regionkey")
    assert(c.count == 0 && c.nullCount == 0)
    assert(c.mode == Map.empty[Any, Long])
    assert(c.unique.isEmpty && c.valueCounts.isEmpty)
    assert(c.median.isNaN)
    assert(e.repr().endsWith(s"[0 rows x ${e.columns.length} columns]"))
    intercept[IndexOutOfBoundsError](e.iloc(0))
  }

  test("toDs: typed Dataset view over the same plan") {
    import spark.implicits._
    val ds = db("region").toDs[(Int, String)] // region: (r_regionkey, r_name)
    assert(ds.filter(_._2.startsWith("A")).collect().map(_._1).sorted.toSeq == Seq(0, 1, 2))
  }

  test("row-index memo: equal-plan derived tables share one indexed DataFrame") {
    // an iloc session re-derives equal-plan tables per call; the plan-keyed
    // memo must hand back the SAME indexed frame (no repeat zipWithIndex job)
    val a = db("region").sortValues("r_regionkey")
    val b = db("region").sortValues("r_regionkey")
    assert(a.iloc(0).getInt(0) == 0)
    assert(b.iloc(1).getInt(0) == 1) // hits the memo from `a`'s plan
    assert((a ne b) && (a.indexed eq b.indexed))
  }

  test("column slice + equals (reference test_table.py:365-377)") {
    val li = db("lineitem")
    val sliced = li.select(Seq("l_orderkey", "l_quantity"))
    assert(sliced.columns == Seq("l_orderkey", "l_quantity"))
    assert(sliced.equalsTable(li.select(Seq("l_orderkey", "l_quantity"))))
    assert(!sliced.equalsTable(li.select(Seq("l_orderkey", "l_tax"))
      .applymapStr(identity)))
    intercept[InvalidColumnError](li.select(Seq("nope")))
  }

  test("applymap + col.apply with null propagation") {
    val n = db("nation")
    val upper = n.applymapStr(_.toUpperCase)
    assert(upper.col("n_name").toSeq.forall(v =>
      v == null || v.asInstanceOf[String].forall(c => !c.isLower)))
    val doubled = n.col("n_regionkey").applyLong(_ * 2)
    val orig = n.col("n_regionkey").toSeq.map(_.asInstanceOf[Int].toLong)
    assert(doubled.collect().map(_.getLong(0)).toSeq == orig.map(_ * 2))
  }

  test("applymapNum maps every numeric cell, leaves text alone (reference table.py:211-234)") {
    val r = db("region").sortValues("r_regionkey")
    val out = r.applymapNum(_ * 10.0)
    assert(out.col("r_regionkey").toSeq.map(_.asInstanceOf[Double]).sorted ==
      Seq(0.0, 10.0, 20.0, 30.0, 40.0))
    assert(out.col("r_name").toSeq == r.col("r_name").toSeq) // strings untouched
  }

  test("repr: pandas-style first/last rows with ellipsis + shape footer (reference table.py:445-474)") {
    val li = db("lineitem").sortValues("l_orderkey")
    val r = li.repr()
    assert(r.endsWith(s"[${li.len} rows x ${li.columns.length} columns]"), r.takeRight(60))
    assert(r.contains("..."), "long table should shrink")
    assert(r.linesIterator.next().contains("l_orderkey"), "header row")
    val small = db("region").repr()
    assert(!small.contains("...") &&
      small.endsWith(s"[5 rows x ${db("region").columns.length} columns]"), small)
    val cr = db("region").col("r_name").repr()
    assert(cr.endsWith("Name: r_name, dtype: string"), cr)
    assert(cr.linesIterator.size == 6, cr) // 5 values + footer
  }

  test("error messages match the reference's asserted regexes") {
    // "Given index out of range" — reference tests/test_table.py:224-233
    val r = db("region")
    val ix = intercept[IndexOutOfBoundsError](r.iloc(99))
    assert(ix.getMessage.contains("Given index out of range"), ix.getMessage)
    // "Cannot concatenate two expressions from different tables" —
    // reference tests/test_expression.py:23-29
    val ex = intercept[ExpressionError](
      (db("lineitem")("l_quantity") > 5) && (db("orders")("o_totalprice") > 100))
    assert(ex.getMessage.contains("Cannot concatenate two expressions from different tables"),
      ex.getMessage)
  }

  test("arithmetic: scalar broadcast, column-column, floor division") {
    val li = db("lineitem")
    val plus = li.col("l_quantity") + 1.0
    assert(plus.collect().map(_.getDouble(0)).min ==
      li.col("l_quantity").min.asInstanceOf[Double] + 1.0)
    val revenue = li.col("l_extendedprice") * li.col("l_discount")
    assert(revenue.columns.toSeq == Seq("l_extendedprice"))
    val fd = li.col("l_quantity").floorDiv(7.0).collect().map(_.getLong(0))
    val expect = li.col("l_quantity").toSeq.map(v => math.floor(v.asInstanceOf[Double] / 7.0).toLong)
    assert(fd.toSeq == expect)
  }

  test("raw SQL + duplicate-column rename (reference utils.py:177-197)") {
    val out = db.query(
      "SELECT n_name AS x, r_name AS x, r_regionkey AS x FROM nation JOIN region ON n_regionkey = r_regionkey")
    assert(out.columns.toSeq == Seq("x", "x_2", "x_3"))
    // rename_duplicates=False keeps the raw duplicate names
    // (reference connection.py:168-189)
    val raw = db.query(
      "SELECT n_name AS x, r_name AS x FROM nation JOIN region ON n_regionkey = r_regionkey",
      renameDuplicates = false)
    assert(raw.columns.toSeq == Seq("x", "x"))
    assert(raw.count() == 25)
  }

  test("query cache: memo hit, size caps, disabled bypass (reference cache.py)") {
    val cache = new QueryCache(enabled = true, maxItemMb = 2.0, maxTotalMb = 100.0)
    var computes = 0
    def get: Long = cache.getOrElseUpdate("k") { computes += 1; 42L }
    assert(get == 42L && get == 42L && computes == 1)

    // an item over the per-item cap is returned but not stored
    val tiny = new QueryCache(enabled = true, maxItemMb = 1e-6, maxTotalMb = 100.0)
    tiny.getOrElseUpdate("big")(Array.fill(1000)(7L))
    assert(!tiny.contains("big"))

    val off = new QueryCache(enabled = false)
    var n = 0
    off.getOrElseUpdate("k") { n += 1; 1 }
    off.getOrElseUpdate("k") { n += 1; 1 }
    assert(n == 2)
  }

  test("plan-keyed memoization: same aggregate twice = one compute path") {
    val li = db("lineitem")
    val a = li.col("l_quantity").sum
    val b = li.col("l_quantity").sum // served from cache (same canonical plan)
    assert(a == b)
    assert(db.cache.size > 0)
  }

  test("null handling end-to-end via a temp parquet table with nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftnull").toString
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, null), (3L, "a"), (null, "b"))
      .toDF("id", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val ndb = Database.open(spark, dir)
    val t = ndb("t")
    assert(t.col("id").nullCount == 1 && t.col("id").count == 3)
    assert(t.col("s").valueCounts == Seq(("a", 2L), ("b", 1L))) // null excluded
    assert(t.col("s").mode == Map[Any, Long]("a" -> 2L)) // a wins over null+b ties
    assert(t.col("s").unique.toSet == Set("a", "b", null)) // null included
    assert(t.filter(t("s") === null).len == 1) // IS NULL sugar
    assert(t.filter(t("s") =!= null).len == 3)
    // null-first ascending sort (SQLite default, SURVEY §4.3.5)
    val sortedIds = t.sortValues("id").col("id").toSeq
    assert(sortedIds.head == null)
  }
}
