package graft.api

import java.io.File
import java.nio.file.Files

import graft.SparkSuite

/** Every memo entry is keyed by its table, stat and column
  * ([[Table.memoKey]]): two same-schema tables never share a stat, in
  * memory or through a spill; tables mapped by different UDFs share no
  * stat; a row index lives and dies with its
  * Database and keeps apart tables mapped by different UDFs; a spill of another format is discarded; a failed spill is
  * loud.
  */
class MemoKeySpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  // two tables of one schema, (id BIGINT), different values
  private val ids = Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(10L, 20L))

  private def parquetDir(): String = {
    val dir = tmp("graftkeys")
    ids.foreach { case (tn, vs) => vs.toDF("id").coalesce(1).write.parquet(s"$dir/$tn.parquet") }
    dir
  }

  private def sqlDump(): String = {
    val f = new File(tmp("graftkeysql"), "ab.sql")
    val ddl = ids.toSeq.sortBy(_._1).map { case (tn, vs) =>
      (s"CREATE TABLE $tn (id INTEGER);" +: vs.map(v => s"INSERT INTO \"$tn\" VALUES($v);"))
        .mkString("\n")
    }
    Files.write(f.toPath, ("BEGIN TRANSACTION;\n" + ddl.mkString("\n") + "\nCOMMIT;\n")
      .getBytes("UTF-8"))
    f.getPath
  }

  /** Every memoized getter of `tn.id` against the values it holds. */
  private def assertStats(db: Database, tn: String, state: String): Unit = {
    val vs = ids(tn)
    val n = vs.length.toLong
    val sorted = vs.sorted
    val median =
      if (n % 2 == 1) sorted((n / 2).toInt).toDouble
      else (sorted((n / 2).toInt - 1) + sorted((n / 2).toInt)) / 2.0
    val c = db(tn).col("id")
    val got = Seq("len" -> c.len, "count" -> c.count, "nullCount" -> c.nullCount,
      "min" -> c.min, "max" -> c.max, "sum" -> c.sum, "avg" -> c.avg,
      "median" -> c.median, "mode" -> c.mode, "unique" -> c.unique,
      "valueCounts" -> c.valueCounts)
    val want = Seq("len" -> n, "count" -> n, "nullCount" -> 0L,
      "min" -> sorted.head, "max" -> sorted.last, "sum" -> vs.sum.toDouble,
      "avg" -> vs.sum.toDouble / n, "median" -> median,
      "mode" -> vs.map(_ -> 1L).toMap, "unique" -> sorted,
      "valueCounts" -> sorted.map(_ -> 1L))
    got.zip(want).foreach { case ((stat, g), (_, w)) =>
      assert(g == w, s"$state: $tn.id $stat")
    }
  }

  /** Cold getters, then getters after populateCache, then getters after an
    * exit → reopen spill round trip: each table's own values every time.
    */
  private def assertNoSharedStats(path: String): Unit = {
    val tables = ids.keys.toSeq.sorted
    val cold = Database.open(spark, path)
    tables.foreach(assertStats(cold, _, "cold"))
    cold.exit()

    val spill = tmp("graftkeyspill") + "/spill"
    val warmed = Database.open(spark, path, cacheDir = spill)
    warmed.populateCache()
    val entries = warmed.cache.size
    tables.foreach(assertStats(warmed, _, "after populateCache"))
    assert(warmed.cache.size == entries, "a getter missed the warmed memo")
    warmed.exit()

    val reopened = Database.open(spark, path, cacheDir = spill)
    assert(reopened.cache.size == entries)
    tables.foreach(assertStats(reopened, _, "after a spill round trip"))
    assert(reopened.cache.size == entries, "a getter missed the reloaded memo")
    reopened.exit()
  }

  test("same-schema parquet tables never share a memoized stat") {
    assertNoSharedStats(parquetDir())
  }

  test("same-schema tables of a .sql dump never share a memoized stat") {
    assertNoSharedStats(sqlDump())
  }

  test("a row index does not outlive its Database: a rewritten file reads afresh") {
    val dir = tmp("graftrowidx")
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    val db1 = Database.open(spark, dir)
    assert(db1("t").iloc(0).getLong(0) == 1L)
    db1.exit()
    Seq(7L, 8L).toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val db2 = Database.open(spark, dir)
    assert(db2("t").iloc(0).getLong(0) == 7L)
    assert(db2("t").iloc(-1).getLong(0) == 8L)
    db2.exit()
  }

  test("tables mapped by different UDFs keep their own row index") {
    val dir = tmp("graftudfidx")
    Seq("ab", "cd").toDF("s").coalesce(1).write.parquet(s"$dir/t.parquet")
    val db = Database.open(spark, dir)
    val t = db("t")
    assert(t.applymapStr(_.toUpperCase).iloc(0).getString(0) == "AB")
    assert(t.applymapStr(_.reverse).iloc(0).getString(0) == "ba")
    assert(t.applymapStr(_.reverse).iloc(0L, 2L).map(_.getString(0)) == Seq("ba", "dc"))
    db.exit()
  }

  test("tables mapped by different UDFs never share a memoized stat") {
    val dir = tmp("graftudfstat")
    Seq(("ab", 1.0), ("cd", 2.0)).toDF("s", "n").coalesce(1).write.parquet(s"$dir/t.parquet")
    val db = Database.open(spark, dir)
    val t = db("t")
    assert(t.applymapStr(_.toUpperCase).col("s").max == "CD")
    assert(t.applymapStr(_.reverse).col("s").max == "dc")
    assert(t.applymapNum(_ * 10).col("n").sum == 30.0)
    assert(t.applymapNum(_ + 1).col("n").sum == 5.0)
    assert(t.applymapNum(_ + 1).len == 2L)
    // the base table's stats are still memoized; none of a mapped table's
    // are, so none of them can spill either
    assert(t.col("s").max == "cd")
    assert(db.cache.size == 1)
    db.exit()
  }

  test("a spill stamped in the unversioned format loads 0 entries") {
    val dump = sqlDump()
    val spill = tmp("graftspillfmt") + "/spill"
    val db = Database.open(spark, dump, cacheDir = spill)
    db.populateCache()
    val entries = db.cache.size
    db.exit()
    val again = Database.open(spark, dump, cacheDir = spill)
    assert(again.cache.size == entries)
    again.exit()
    // the same entries, stamped as spills were before the format carried a
    // version: the reserved row holds the bare source fingerprint
    val stampKey = "__graft_source_fingerprint__"
    val bare = Database.sourceFingerprint(Seq(new File(dump)))
    val old = tmp("graftspillold") + "/spill"
    spark.read.parquet(spill).as[(String, Array[Byte])].collect()
      .filter(_._1 != stampKey).toSeq
      .:+(stampKey -> bare.getBytes("UTF-8"))
      .toDF("key", "value").coalesce(1).write.parquet(old)
    val stale = Database.open(spark, dump, cacheDir = old)
    assert(stale.cache.size == 0)
    stale.exit()
  }

  test("saveCache fails loudly; exit still drops its views and temp tables, then rethrows") {
    val dir = tmp("graftloud")
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/loud_base.parquet")
    val blocker = Files.createTempFile("graftblocker", ".file").toString
    val db = Database.open(spark, dir, cacheDir = s"$blocker/spill")
    val t = db("loud_base")
    assert(t.col("id").max == 2L)
    val saveError = intercept[Exception](db.saveCache())
    db.createView("loud_view", t.filter(t.col("id") > 1L))
    db.createTempTable("loud_temp", t)
    assert(intercept[Exception](db.exit()).getClass == saveError.getClass)
    for (n <- Seq("loud_view", "loud_temp", "loud_base"))
      assert(!spark.catalog.tableExists(n), s"$n survived exit")
  }
}
