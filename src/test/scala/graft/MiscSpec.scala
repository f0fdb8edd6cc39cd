package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.StatsOps

/** SQL extension registration + approximate stats + streaming dedup. */
class MiscSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // honored only if this creates the session
      .getOrCreate()
    GraftExtensions.register(s) // running-session path (idempotent)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  test("custom expressions callable from SQL via SparkSessionExtensions") {
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head().getDouble(0)
    assert(dot == 32.0)
    val sh = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val fp = spark.sql("SELECT winnow_fingerprints('abcdefghijklmno', 5, 4) AS f")
      .head().getSeq[Long](0)
    assert(fp.nonEmpty)
    // and over a real table
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("docs_ext")
    val cnt = spark.sql(
      "SELECT count(*) FROM docs_ext WHERE size(word_shingles(text)) > 0")
      .head().getLong(0)
    assert(cnt == 500)
  }

  test("approx stats land within tolerance of exact") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val approx = StatsOps.approxDistinct(li, Seq("l_orderkey"), rsd = 0.02)
      .head().getLong(0)
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)

    val Seq(q50) = StatsOps.approxQuantiles(li, "l_quantity", Seq(0.5), 0.001)
    val exactMed = li.select(median(col("l_quantity"))).head().getDouble(0)
    assert(math.abs(q50 - exactMed) <= 1.0)

    val prof = StatsOps.profile(li.select("l_orderkey", "l_quantity"))
    assert(prof.count() == 2)
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("l_orderkey").getLong(1) == 6000L)
    assert(rows("l_orderkey").getLong(2) == 0L)
  }

  test("exactPercentiles: selection equals the built-in percentile aggregate") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    for (colName <- Seq("l_quantity", "l_extendedprice")) {
      val fracs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
      val got = StatsOps.exactPercentiles(li, colName, fracs)
      val exp = li.select(expr(
          s"percentile($colName, array(${fracs.mkString(",")}))"))
        .head().getSeq[Double](0)
      got.zip(exp).foreach { case (g, e) =>
        assert(math.abs(g - e) <= math.abs(e) * 1e-12 + 1e-12,
          s"$colName: $g != $e") }
    }
    // interpolation + duplicate values + a partition-boundary-sized set
    import spark.implicits._
    val tiny = Seq(1.0, 2.0, 2.0, 3.0, 10.0).toDF("v")
    assert(StatsOps.exactPercentiles(tiny, "v", Seq(0.5)) == Seq(2.0))
    // r = 0.25*(5-1) = 1 exactly -> v[1] = 2.0; r = 0.875*4 = 3.5 -> 6.5
    assert(StatsOps.exactPercentiles(tiny, "v", Seq(0.25, 0.875)) ==
      Seq(2.0, 6.5))
    // nulls dropped
    val withNull = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(StatsOps.exactPercentiles(withNull, "v", Seq(0.5)) == Seq(2.0))
  }

  test("streaming exact dedup: dropDuplicates with watermark drops replays") {
    val dir = java.nio.file.Files.createTempDirectory("graftdedup").toString
    val lines = Seq(
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000Z","user_id":1,"event_type":"view","value":1.0,"props":"{}"}""",
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000Z","user_id":1,"event_type":"view","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00.000Z","user_id":1,"event_type":"view","value":2.0,"props":"{}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "e.json"),
      lines.mkString("\n").getBytes)
    val deduped = graft.streaming.EventStream.readEvents(spark, dir, "json")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0) == 2)
  }
}
