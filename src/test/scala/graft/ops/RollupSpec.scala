package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Incremental rollup maintenance: fold equivalence (N refreshes = 1),
  * decimal-exact double sums, and the no-op fast path (exactly-once
  * across crashes is CrashSpec's fault-injection case). The data path (final rollup vs direct
  * DuckDB aggregate) is under the hash gate via q_rollup_incremental.
  */
class RollupSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def freshBase(): String =
    java.nio.file.Files.createTempDirectory("rollup_spec_").toString

  test("three incremental folds equal one full fold; no-op when nothing new") {
    val b = freshBase()
    val storeA = s"$b/storeA"; val rollA = s"$b/rollA"
    val storeB = s"$b/storeB"; val rollB = s"$b/rollB"
    for (i <- 0 to 2) {
      val slice = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      Layout.appendBatch(slice, storeA, "lang", Seq("doc_id"))
      Layout.appendBatch(slice, storeB, "lang", Seq("doc_id"))
      // A refreshes after every batch; B folds once at the end
      Rollup.maintain(spark, storeA, rollA, Seq("lang"), Seq("n_chars"))
    }
    assert(Rollup.maintain(spark, storeB, rollB, Seq("lang"), Seq("n_chars")) === 2L)
    val a = Rollup.read(spark, rollA).orderBy("lang").collect()
    val bb = Rollup.read(spark, rollB).orderBy("lang").collect()
    assert(a.sameElements(bb), "incremental fold diverged from one-shot fold")
    // no new batches → version unchanged and the fold is skipped
    assert(Rollup.version(rollA) === 2L)
    assert(Rollup.maintain(spark, storeA, rollA, Seq("lang"), Seq("n_chars")) === 2L)
  }

  test("double sums are decimal-exact and refresh-order-independent") {
    import graft.queries.Q
    val b = freshBase()
    val store = s"$b/store"; val roll = s"$b/roll"
    val ev = Q.t(spark, sfDir, "events")
      .select(col("event_type"), col("value"), pmod(col("event_id"), lit(2)).as("half"))
    Layout.appendBatch(ev.filter(col("half") === 0).drop("half"),
      store, "event_type", Seq("value"))
    Rollup.maintain(spark, store, roll, Seq("event_type"), Seq("value"))
    Layout.appendBatch(ev.filter(col("half") === 1).drop("half"),
      store, "event_type", Seq("value"))
    Rollup.maintain(spark, store, roll, Seq("event_type"), Seq("value"))
    val got = Rollup.read(spark, roll)
      .select(col("event_type"), col("sum_value").cast("string").as("s"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getString(1)))
    val want = ev.groupBy("event_type")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast(org.apache.spark.sql.types.DecimalType(30, 6)).cast("string").as("s"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sameElements(want))
    // schema stays pinned across generations (no decimal widening drift)
    assert(Rollup.read(spark, roll).schema("sum_value").dataType ===
      org.apache.spark.sql.types.DecimalType(30, 6))
  }

  test("double values >= 1e12 survive the per-row cast — no silent overflow") {
    val sp = spark
    import sp.implicits._
    val b = freshBase()
    val store = s"$b/store"; val roll = s"$b/roll"
    // 3e12 overflowed the old DECIMAL(18,6) per-row cast to NULL under
    // non-ANSI, silently vanishing from sum_v
    val big = Seq(("a", 3.0e12), ("a", 1.5), ("b", -2.0e12))
      .toDF("k", "v")
    Layout.appendBatch(big, store, "k", Seq("v"))
    Rollup.maintain(spark, store, roll, Seq("k"), Seq("v"))
    val got = Rollup.read(spark, roll).orderBy("k")
      .select(col("k"), col("sum_v").cast("double"), col("n_rows"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 3.0e12 + 1.5, 2L), ("b", -2.0e12, 1L)))
  }

  test("DECIMAL sum columns keep their scale — no silent cents truncation") {
    import spark.implicits._
    val b = freshBase()
    val store = s"$b/store"; val roll = s"$b/roll"
    val df = Seq(("en", BigDecimal("10.25")), ("en", BigDecimal("0.50")),
      ("fr", BigDecimal("3.99"))).toDF("lang", "price")
      .select(col("lang"), col("price").cast(
        org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
    Layout.appendBatch(df, store, "lang", Seq("price"))
    Rollup.maintain(spark, store, roll, Seq("lang"), Seq("price"))
    val sums = Rollup.read(spark, roll)
      .select(col("lang"), col("sum_price").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sums("en") === "10.75" && sums("fr") === "3.99",
      s"decimal sum truncated: $sums")
    assert(Rollup.read(spark, roll).schema("sum_price").dataType ===
      org.apache.spark.sql.types.DecimalType(28, 2))
  }

  test("absent store and empty rollup read") {
    val b = freshBase()
    assert(Rollup.maintain(spark, s"$b/nostore", s"$b/noroll",
      Seq("lang"), Seq("n_chars")) === -1L)
    assert(Rollup.read(spark, s"$b/noroll").isEmpty)
    assert(Rollup.version(s"$b/noroll") === -1L)
  }
}
