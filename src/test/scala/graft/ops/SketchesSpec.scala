package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** HLL sketch ops: estimation error within the published bound, sketches
  * merge associatively (the persisted-rollup pattern), and the aggregation
  * plans with a map-side partial like any algebraic aggregate.
  */
class SketchesSpec extends SparkSuite {

  test("estimate within the 1.04/sqrt(2^lgK) bound in the estimation regime") {
    val n = 200000L
    val df = spark.range(n).select(col("id").as("v"))
    val global = df.agg(
      hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))).as("e"))
      .head().getLong(0)
    // lgK=12 -> relative standard error ~1.6%; allow 3 sigma
    assert(math.abs(global - n).toDouble / n < 0.05, s"estimate $global vs $n")
  }

  test("union of per-partition sketches equals the whole-table sketch estimate") {
    val df = spark.range(150000L).select(col("id").as("v"),
      pmod(col("id"), lit(16)).as("part"))
    val whole = df.agg(
      hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12)))).head().getLong(0)
    val partial = Sketches.hllSketch(df, Seq("part"), "v")
    val merged = Sketches.estimateAll(partial)
    assert(merged == whole, s"merged $merged != whole $whole")
  }

  test("rollup over a persisted sketch table matches direct estimates") {
    // Q.t normalizes ts to the epoch-nanos long contract regardless of the
    // parquet encoding generation (nanos vs micros)
    val events = graft.queries.Q.t(spark, sfDir, "events")
    // "persist" daily sketches (the write-once table), then roll up
    val daily = Sketches.hllSketch(
      events.withColumn("day", expr("ts div 86400000000000")),
      Seq("day", "event_type"), "user_id")
    val rolled = Sketches.rollup(daily, Seq("event_type"))
      .orderBy("event_type").collect()
    val direct = Sketches.approxDistinct(events, Seq("event_type"), "user_id")
      .orderBy("event_type").collect()
    assert(rolled.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("frequentItems: exact counts under maxItemsTracked, top-k selection, skewed tail") {
    // skewed synthetic: item i appears 2^(10-i) times, i in 0..9
    val rows = (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"item_$i"))
    import spark.implicits._
    val df = rows.toDF("w").repartition(4)
    val top3 = Sketches.frequentItems(df, "w", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top3.toSeq == Seq(("item_0", 1024L), ("item_1", 512L), ("item_2", 256L)))
    // k beyond the vocabulary returns every item, still exact
    val all = Sketches.frequentItems(df, "w", k = 40)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(all.size == 10 && (0 until 10).forall(i => all(s"item_$i") == (1L << (10 - i))))
  }

  test("frequentItems accepts column names needing backquoting (dots, spaces, hyphens)") {
    import spark.implicits._
    val df = Seq("a", "a", "b").toDF("the word")
      .withColumn("dot.ted", org.apache.spark.sql.functions.col("`the word`"))
    assert(Sketches.frequentItems(df, "the word", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 1L)))
    assert(Sketches.frequentItems(df, "dot.ted", k = 1)
      .head().getString(0) == "a")
  }

  test("sketch aggregation plans with a map-side partial") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val plan = Sketches.approxDistinct(events, Seq("event_type"), "user_id")
      .queryExecution.executedPlan.toString
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final ObjectHashAggregate:\n$plan")
  }

  test("theta sketches: exact union/intersect/difference below capacity") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // A = {0..99}, B = {50..149}: |A∩B| = 50, |A\B| = 50, |A∪B| = 150
    val df = Seq.tabulate(100)(i => ("a", i.toLong)) ++
      Seq.tabulate(100)(i => ("b", i.toLong + 50))
    val sk = Sketches.thetaSketch(df.toDF("g", "id"), Seq("g"), "id")
    val row = sk.groupBy().pivot("g").agg(first("sketch"))
      .select(
        theta_sketch_estimate(theta_intersection(col("a"), col("b"))).as("i"),
        theta_sketch_estimate(theta_difference(col("a"), col("b"))).as("d"),
        theta_sketch_estimate(theta_union(col("a"), col("b"))).as("u"))
      .head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((50L, 50L, 150L)))
  }

  test("audienceMatrix: every unordered pair, exact counts below capacity") {
    val spark2 = spark
    import spark2.implicits._
    // A = {0..99}, B = {50..149}, C = {0..9}: known pairwise overlaps
    val df = (Seq.tabulate(100)(i => ("a", i.toLong)) ++
      Seq.tabulate(100)(i => ("b", i.toLong + 50)) ++
      Seq.tabulate(10)(i => ("c", i.toLong))).toDF("g", "id")
    val m = Sketches.audienceMatrix(Sketches.thetaSketch(df, Seq("g"), "id"), "g")
      .orderBy("dim_a", "dim_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(m.toSeq === Seq(
      ("a", "b", 100L, 100L, 50L, 150L),
      ("a", "c", 100L, 10L, 10L, 100L),
      ("b", "c", 100L, 10L, 0L, 110L)))
  }

  test("theta union agg rolls a sketch table up to the direct sketch") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val perType = Sketches.thetaSketch(events, Seq("event_type"), "user_id")
    val rolled = perType.agg(
      theta_sketch_estimate(theta_union_agg(col("sketch"))).as("n")).head().getLong(0)
    val direct = events.select(countDistinct("user_id")).head().getLong(0)
    assert(rolled === direct)
  }

  test("theta sketches stay mergeable across partitionings (repartition-invariant)") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    def est(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(theta_sketch_estimate(theta_sketch_agg(col("user_id"))).as("n"))
        .head().getLong(0)
    assert(est(events) === est(events.repartition(13)))
  }

  test("theta estimation regime: error within the published bound past capacity") {
    import org.apache.spark.sql.functions._
    val n = 100000L
    val lgK = 10 // capacity 1024 << n: deep estimation mode
    val df = spark.range(n)
    val got = df.agg(theta_sketch_estimate(theta_sketch_agg(col("id"), lgK)).as("n"))
      .head().getLong(0)
    val rse = 1.0 / math.sqrt(1 << lgK) // theta sketch RSE ~ 1/sqrt(k)
    assert(math.abs(got - n) < n * 5 * rse,
      s"estimate $got outside 5 RSE of $n")
  }

  test("count-min never underestimates; exact when w dwarfs the key space") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val items = Seq.fill(3000)(s"k${rnd.nextInt(40)}").toDF("item")
    val exact = items.groupBy("item").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tight sketch: collisions expected → upper bound only
    val tight = Sketches.countMinEstimate(
        Sketches.countMinCells(items, "item", d = 3, w = 16),
        items, "item", d = 3, w = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(tight(k) >= n, s"$k underestimated: ${tight(k)} < $n")
    }
    // roomy sketch: 3 rows of 4096 buckets for 40 keys → min is exact
    val roomy = Sketches.countMinEstimate(
        Sketches.countMinCells(items, "item", d = 3, w = 4096),
        items, "item", d = 3, w = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roomy === exact)
  }

  test("count-min cells merge by cell-wise addition == whole-corpus build") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = (1 to 500).map(i => s"x${i % 23}").toDF("item")
    val b = (1 to 700).map(i => s"x${i % 31}").toDF("item")
    val merged = Sketches.countMinCells(a, "item")
      .unionByName(Sketches.countMinCells(b, "item"))
      .groupBy("j", "h").agg(sum("c").as("c"))
    val whole = Sketches.countMinCells(a.unionByName(b), "item")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    assert(rows(merged) === rows(whole))
  }
}
