package graft.api

import java.nio.file.{Files, StandardCopyOption}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{QueryMeter, SparkSuite}

/** The fused memo warm-up ([[Database.populateCache]]: one aggregate per
  * table, one grouped pass per column) leaves exactly the memo that
  * calling every [[Col]] getter leaves — same keys, equal values, same
  * runtime classes — in the job shape it promises, on every input kind,
  * and fails loudly per column.
  */
class FusedStatsSpec extends SparkSuite {

  private def res(name: String): String = getClass.getResource("/" + name).getPath

  /** A parquet directory with one table of every awkward value — nulls, an
    * all-null column, NaN, ±0.0, ±Infinity, tied modes, strings whose UTF-8
    * order differs from their UTF-16 order (U+1F600 against U+FFFD),
    * Decimal, Longs above 2^53, Boolean, Date, Timestamp, Binary, even and
    * odd non-null counts — and one empty table.
    */
  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graftfused").toString
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("none", DoubleType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("dec", DecimalType(20, 4)), StructField("big", LongType),
      StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("bin", BinaryType),
      StructField("f", FloatType)))
    val smile = "\uD83D\uDE00"
    val p53 = 9007199254740993L // 2^53 + 1: not a double
    def dec(s: String) = if (s == null) null else new java.math.BigDecimal(s)
    def day(s: String) = if (s == null) null else Date.valueOf(s)
    def at(s: String) = if (s == null) null else Timestamp.valueOf(s)
    def bytes(b: Int*) = b.map(_.toByte).toArray
    val rows = Seq(
      Row(3, null, Double.NaN, smile, dec("1.2345"), p53, true, day("2024-02-29"),
        at("2024-01-01 00:00:00"), bytes(1, 2), 1.5f),
      Row(1, null, 0.0, "\uFFFD", dec("-3.5"), p53 + 2, false, day("1970-01-01"),
        at("1999-12-31 23:59:59.999999"), bytes(), -0.0f),
      Row(null, null, -0.0, "a", null, -p53, true, null, null, null, 0.0f),
      Row(3, null, Double.PositiveInfinity, null, dec("100.0001"), 1L, null,
        day("2024-02-29"), at("2024-01-01 00:00:00"), bytes(1, 2), Float.NaN),
      Row(1, null, Double.NegativeInfinity, smile, dec("1.2345"), 2L, true,
        day("2000-06-15"), at("2030-05-05 05:05:05"), bytes(255), null),
      Row(1, null, null, "\uFFFD", dec("0"), 3L, false, null,
        at("1970-01-01 00:00:01"), bytes(0), 2.25f),
      Row(5, null, 1.5, "b", dec("7.25"), p53, false, day("1970-01-01"), null,
        bytes(1, 2), 2.25f),
      Row(3, null, 1.5, "a", null, 5L, true, day("2100-12-31"),
        at("2024-01-01 00:00:00"), null, -1.0f),
      Row(4, null, 2.0, "", dec("2.5"), 6L, null, day("2024-02-29"),
        at("1950-01-01 12:00:00"), bytes(127, 128), 1.5f))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.parquet(s"$dir/mixed.parquet")
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("e_id", LongType), StructField("e_s", StringType),
        StructField("e_d", DoubleType))))
      .write.parquet(s"$dir/empty.parquet")
    dir
  }

  /** The memo the pre-fusion warm-up built: every getter, one at a time. */
  private def fillByGetters(db: Database, distinctStatMaxRows: Long = 1000000L): Unit =
    db.tables.foreach { tn =>
      val t = db(tn)
      val small = t.len <= distinctStatMaxRows
      t.columns.foreach { cn =>
        val c = t.col(cn)
        c.count; c.nullCount; c.min; c.max
        if (c.isNumeric) { c.sum; c.avg; c.median }
        if (small) { c.mode; c.unique; c.valueCounts }
      }
    }

  /** Equal, with identical runtime classes all the way down; NaN equals
    * NaN, arrays compare by content, Rows by schema and fields.
    */
  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ if x.getClass != y.getClass => false
    case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
    case (a: java.lang.Double, b: java.lang.Double) => a.equals(b)
    case (a: java.lang.Float, b: java.lang.Float) => a.equals(b)
    case (a: Row, b: Row) => a.schema == b.schema && a.length == b.length &&
      (0 until a.length).forall(i => same(a.get(i), b.get(i)))
    case (a: scala.collection.Map[_, _], b: scala.collection.Map[_, _]) =>
      a.size == b.size && a.forall { case (k, v) =>
        b.exists { case (k2, v2) => same(k, k2) && same(v, v2) }
      }
    case (a: Seq[_], b: Seq[_]) =>
      a.length == b.length && a.zip(b).forall { case (p, q) => same(p, q) }
    case (a: Product, b: Product) => a.productArity == b.productArity &&
      a.productIterator.zip(b.productIterator).forall { case (p, q) => same(p, q) }
    case _ => x == y
  }

  private def assertSameMemo(got: Map[String, Any], want: Map[String, Any]): Unit = {
    assert(got.keySet == want.keySet,
      s"\nonly fused: ${got.keySet -- want.keySet}\nonly getters: ${want.keySet -- got.keySet}")
    want.foreach { case (k, v) =>
      assert(same(got(k), v), s"\nunder key $k\nfused:   ${got(k)}\ngetters: $v")
    }
  }

  /** Warm `path` both ways on fresh Databases and compare the memos. */
  private def assertEquivalent(path: String, distinctStatMaxRows: Long): Map[String, Any] = {
    val fused = Database.open(spark, path)
    fused.populateCache(distinctStatMaxRows)
    val byGetters = Database.open(spark, path)
    fillByGetters(byGetters, distinctStatMaxRows)
    assert(fused.cacheReady)
    assertSameMemo(fused.cache.snapshot, byGetters.cache.snapshot)
    fused.cache.snapshot
  }

  test("fused populateCache memo equals the every-getter memo (grouped-pass side)") {
    val memo = assertEquivalent(fixtureDir, 1000000L)
    // the fixture reaches every holistic stat of both tables
    assert(memo.size > 100)
  }

  test("fused populateCache memo equals the every-getter memo (over distinctStatMaxRows)") {
    // mixed (9 rows) is over the guard: no mode/unique/valueCounts, the
    // exact median alone; empty (0 rows) is under it
    assertEquivalent(fixtureDir, 3L)
  }

  test("fused populateCache memo equals the every-getter memo on a .db through SqliteFile") {
    assertEquivalent(res("sqlite_edge_cases.db"), 1000000L)
  }

  test("a spill of the fused memo reloads every entry, as the getters' does") {
    def spillAndReload(fill: Database => Unit): (Map[String, Any], Database) = {
      val spill = Files.createTempDirectory("graftfusedspill").toString + "/spill"
      val db = Database.open(spark, fixtureDir, cacheDir = spill)
      fill(db)
      val warm = db.cache.snapshot
      db.exit()
      (warm, Database.open(spark, fixtureDir, cacheDir = spill))
    }
    val (fusedWarm, fusedReload) = spillAndReload(_.populateCache())
    val (getterWarm, getterReload) = spillAndReload(fillByGetters(_))
    assert(fusedReload.cache.size == fusedWarm.size)
    assert(fusedReload.cache.size == getterReload.cache.size)
    assertSameMemo(fusedReload.cache.snapshot, fusedWarm)
    assertSameMemo(fusedReload.cache.snapshot, getterWarm)
  }

  test("grouped-pass median matches exactPercentiles on NaN, ±0.0, ±Infinity, Decimal, Long > 2^53") {
    val db = Database.open(spark, fixtureDir)
    val t = db("mixed")
    for (cn <- Seq("i", "none", "d", "dec", "big", "f")) {
      val viaSelection = t.col(cn).median
      val viaCounts = Stats.grouped(t.toDf, cn, numeric = true).median
      assert(java.lang.Double.compare(viaCounts, viaSelection) == 0 ||
        (viaCounts == 0.0 && viaSelection == 0.0), s"$cn: $viaCounts vs $viaSelection")
    }
  }

  // ---- job shape ---------------------------------------------------------

  /** Spark jobs `body` submits under job group `group`, as the
    * [[graft.QueryMeter]] records them.
    */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val meter = new QueryMeter(spark)
    try {
      sc.setJobGroup(group, group)
      val jobs = try meter.measure(body).jobs finally sc.clearJobGroup()
      jobs.count(_.group == group)
    } finally meter.close()
  }

  private def smallTable(): String = {
    val dir = Files.createTempDirectory("graftjobs").toString
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 3.5), (3L, "a", Double.NaN), (4L, null, 1.0))
      .toDF("id", "s", "v").write.parquet(s"$dir/t.parquet")
    dir
  }

  test("populateCache job shape: at most 2 + 3·C jobs cold, 0 warm, 0 after a spill reload") {
    val dir = smallTable()
    val spill = Files.createTempDirectory("graftjobsspill").toString + "/spill"
    val db = Database.open(spark, dir, cacheDir = spill)
    val cold = jobsIn("fused-cold")(db.populateCache())
    val c = db("t").columns.length
    assert(cold > 0 && cold <= 2 + 3 * c, s"cold populateCache ran $cold jobs for $c columns")
    assert(jobsIn("fused-warm")(db.populateCache()) == 0)
    db.exit()
    val again = Database.open(spark, dir, cacheDir = spill)
    assert(again.cache.size == db.cache.size)
    assert(jobsIn("fused-reload")(again.populateCache()) == 0)
    // every stat a getter serves is now a memo hit
    assert(jobsIn("fused-hits") {
      val t = again("t")
      t.len
      t.columns.foreach { cn =>
        val col = t.col(cn)
        col.describe; col.count; col.nullCount; col.min; col.max
        col.mode; col.unique; col.valueCounts
        if (col.isNumeric) { col.sum; col.avg; col.median }
      }
    } == 0)
  }

  test("populateCache with the memo disabled runs no job") {
    val db = Database.open(spark, smallTable(), cacheEnabled = false)
    assert(jobsIn("fused-off")(db.populateCache()) == 0)
    assert(db.cache.size == 0)
  }

  // ---- populateCache = true on every input kind -----------------------------

  private def assertWarmAfterOpen(path: String): Unit = {
    val db = Database.open(spark, path, populateCache = true)
    try {
      assert(db.cacheReady, s"$path: not every table warmed")
      assert(db.cache.size > 0)
      val t = db("regions")
      assert(jobsIn("open-warm") {
        t.len; t.col("region").valueCounts; t.col("income_group").mode
      } == 0, s"$path: stats were not memoized by open")
    } finally db.exit()
  }

  test("open(populateCache = true) warms the memo for a .sql dump") {
    assertWarmAfterOpen(res("forestation_subset.sql"))
  }

  test("open(populateCache = true) warms the memo for .db, .sqlite and .sqlite3 files") {
    val dir = Files.createTempDirectory("graftext")
    for (ext <- Seq("db", "sqlite", "sqlite3")) {
      val f = dir.resolve(s"forestation.$ext")
      Files.copy(java.nio.file.Paths.get(res("forestation_subset.db")), f,
        StandardCopyOption.REPLACE_EXISTING)
      assertWarmAfterOpen(f.toString)
    }
  }

  // ---- loud failures ---------------------------------------------------------

  test("populateCache names every failed column, and still warms the rest") {
    val dir = Files.createTempDirectory("graftfail").toString
    import spark.implicits._
    Seq((1L, 2.0), (2L, 3.0)).toDF("k", "w").write.parquet(s"$dir/good.parquet")
    Seq((1, Map("a" -> 1), "x"), (2, Map("b" -> 2), "y")).toDF("id", "m", "label")
      .write.parquet(s"$dir/bad.parquet")
    val db = Database.open(spark, dir)
    val e = intercept[CacheWarmupError](db.populateCache())
    assert(e.failures.map { case (t, c, _) => (t, c) } == Seq(("bad", Some("m"))))
    assert(e.getMessage.contains("bad.m"), e.getMessage)
    assert(e.getSuppressed.length == 1)
    assert(!db.cacheReady)
    // the good table and the bad table's other columns were warmed
    assert(jobsIn("fail-rest") {
      db("good").col("w").median; db("good").col("k").valueCounts
      db("bad").col("label").mode; db("bad").col("id").sum; db("bad").len
    } == 0)
  }
}
