package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{Scratch, StagedSource}

import Q._

/** Mergeable-sketch queries over the `events` table (graft.ops.Sketches).
  *
  * At the verified scale factors the key spaces are far below the sketch's
  * coupon capacity, so the DataSketches HLL estimate is exact and the
  * queries are oracle-checked against DuckDB's exact COUNT(DISTINCT) —
  * the approximation-error regime is covered by SketchesSpec instead
  * (estimates within the published 1.04/√2^lgK bound of exact, and
  * union-of-partial-sketches == whole-table sketch).
  */
object SketchOps {

  type Fn = (SparkSession, String) => DataFrame

  private val NS_PER_DAY = 24L * 3600L * 1000 * 1000 * 1000

  /** The count-min oracle (build cells, probe, compare to exact) shared
    * VERBATIM by q_cms_estimate and q_stream_cms — additivity makes the
    * streaming store's merged cells identical to the batch build, so one
    * SQL definition grades both and the two gates can never drift.
    */
  private val cmsOracleSql: String =
    """WITH keyed AS (SELECT event_type || '#' ||
      |    regexp_extract(props, '"k": ([0-9]+)', 1) AS item FROM events),
      |cells AS MATERIALIZED (
      |  SELECT j, ('0x' || substr(md5(j || ':' || item), 1, 15))::BIGINT % 64 AS h,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM keyed CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) rows_
      |  GROUP BY 1, 2),
      |probes AS (
      |  SELECT item, j,
      |    ('0x' || substr(md5(j || ':' || item), 1, 15))::BIGINT % 64 AS h
      |  FROM (SELECT DISTINCT item FROM keyed)
      |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) rows_),
      |est AS (SELECT p.item, min(coalesce(c.c, 0)) AS est
      |  FROM probes p LEFT JOIN cells c ON p.j = c.j AND p.h = c.h
      |  GROUP BY 1)
      |SELECT e.item, CAST(e.est AS BIGINT) AS est,
      |  CAST(x.exact AS BIGINT) AS exact
      |FROM est e JOIN (SELECT item, count(*) AS exact FROM keyed GROUP BY 1) x
      |  USING (item)
      |ORDER BY item""".stripMargin

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- per-type approx distinct users via HLL sketch + estimate; plans as
    //    partial objHashAggregate map-side + merge, like any sum ------------
    ("q_hll_distinct",
      (s: SparkSession, d: String) =>
        graft.ops.Sketches.approxDistinct(
            t(s, d, "events"), Seq("event_type"), "user_id")
          .orderBy("event_type"),
      "SELECT event_type, count(DISTINCT user_id) AS approx_distinct " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // -- the persisted-sketch pattern: daily (day, type) sketches built
    //    once, rolled up to per-day distinct users by sketch UNION — the
    //    raw table is scanned exactly once no matter how many rollups ------
    ("q_hll_rollup",
      (s: SparkSession, d: String) => {
        val daily = graft.ops.Sketches.hllSketch(
          t(s, d, "events")
            .withColumn("day_epoch", expr(s"ts div ${NS_PER_DAY}L") * 86400L),
          Seq("day_epoch", "event_type"), "user_id")
        graft.ops.Sketches.rollup(daily, Seq("day_epoch"))
          .orderBy("day_epoch")
      },
      "SELECT cast(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch, " +
        "count(DISTINCT user_id) AS approx_distinct " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // -- mergeable positional quantile sketch (percentile_approx). Accuracy
    //    is pinned above the verified group sizes so the sketch retains every
    //    value and returns the exact nearest-rank quantile — which is what
    //    DuckDB's quantile_disc computes, making the query oracle-checkable;
    //    at 100 TB you lower the accuracy and trade exactness for the GK
    //    sketch's bounded memory (graft.ops.Sketches.approxQuantiles) -------
    ("q_approx_quantile",
      (s: SparkSession, d: String) => {
        val qs = graft.ops.Sketches.approxQuantiles(
          "l_quantity", Seq(0.25, 0.5, 0.75), accuracy = 1000000)
        t(s, d, "lineitem")
          .groupBy("l_returnflag").agg(qs.as("q"))
          .select(col("l_returnflag"),
            element_at(col("q"), 1).as("q25"),
            element_at(col("q"), 2).as("q50"),
            element_at(col("q"), 3).as("q75"))
          .orderBy("l_returnflag")
      },
      "SELECT l_returnflag, quantile_disc(l_quantity, 0.25) AS q25, " +
        "quantile_disc(l_quantity, 0.5) AS q50, " +
        "quantile_disc(l_quantity, 0.75) AS q75 " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // -- heavy hitters via the ApproxTopK sketch: full vocabulary audit of
    //    the corpus (k exceeds the true distinct count here, so the sketch
    //    tracks every item and counts are exact → DuckDB's exact
    //    GROUP BY is the oracle; at real scale the same query returns
    //    bounded-memory lower-bound estimates). Mergeable partial
    //    aggregation — one scan, no word-level shuffle of raw rows --------
    ("q_topk_freq",
      (s: SparkSession, d: String) => {
        val tok = t(s, d, "documents")
          .select(explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
        graft.ops.Sketches.frequentItems(tok, "word", k = 40)
          .select(col("item").as("word"), col("cnt"))
      },
      """SELECT word, cast(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS word FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 40""".stripMargin),

    // -- theta-sketch set algebra: day-over-day retention/churn from ONE
    //    scan of events. Per-day theta sketches of user_id (mergeable,
    //    planned like sum), then a self-join of the tiny sketch table
    //    computes |d ∩ d+1| / |d \ d+1| / |d ∪ d+1| in sketch space — the
    //    intersection/difference HLL cannot do. Below sketch capacity the
    //    estimates are exact, so DuckDB's exact distinct-set joins are the
    //    oracle (the estimation regime is SketchesSpec's) -----------------
    ("q_theta_retention",
      (s: SparkSession, d: String) => {
        // `div` = exact integer division (ts is epoch-nanos LONG; a double
        // `/` would round the 1.7e18 numerator at ulp ~256 ns)
        val ev = t(s, d, "events")
          .withColumn("day", expr(s"ts div ${NS_PER_DAY}L"))
        val sk = graft.ops.Sketches.thetaSketch(ev, Seq("day"), "user_id")
        graft.ops.Sketches.retention(sk, "day").orderBy("day")
      },
      """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
        |            FROM events),
        |n AS (SELECT day, count(*) AS nd FROM du GROUP BY 1),
        |j AS (SELECT x.day AS day, count(*) AS n_both
        |      FROM du x JOIN du y ON y.day = x.day + 1 AND y.user_id = x.user_id
        |      GROUP BY 1)
        |SELECT n1.day, coalesce(j.n_both, 0) AS retained,
        |  n1.nd - coalesce(j.n_both, 0) AS churned,
        |  n1.nd + n2.nd - coalesce(j.n_both, 0) AS either
        |FROM n n1 JOIN n n2 ON n2.day = n1.day + 1
        |LEFT JOIN j ON j.day = n1.day
        |ORDER BY 1""".stripMargin),

    // -- two-level sketch rollup: ONE (day × event_type) sketch table
    //    built from one scan answers BOTH "distinct users per day" (union
    //    across types) and "per type overall" (union across days) without
    //    touching events again — the persist-once/re-aggregate-anywhere
    //    property that makes sketch tables the 100 TB profiling layer.
    //    theta_union_agg is the rollup operator; exact below capacity ----
    ("q_theta_rollup",
      (s: SparkSession, d: String) => {
        val sk = graft.ops.Sketches.thetaSketch(
          t(s, d, "events").withColumn("day", expr(s"ts div ${NS_PER_DAY}L")),
          Seq("day", "event_type"), "user_id")
        val perDay = sk.groupBy("day")
          .agg(theta_sketch_estimate(theta_union_agg(col("sketch")))
            .as("users"))
          .select(col("day").cast("string").as("grp"),
            lit("day").as("level"), col("users"))
        val perType = sk.groupBy("event_type")
          .agg(theta_sketch_estimate(theta_union_agg(col("sketch")))
            .as("users"))
          .select(col("event_type").as("grp"),
            lit("type").as("level"), col("users"))
        perDay.unionByName(perType).orderBy("level", "grp")
      },
      """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day,
        |              event_type, user_id FROM events),
        |d AS (SELECT cast(day AS VARCHAR) AS grp, 'day' AS level,
        |        count(DISTINCT user_id) AS users FROM du GROUP BY 1),
        |t AS (SELECT event_type AS grp, 'type' AS level,
        |        count(DISTINCT user_id) AS users FROM du GROUP BY 1)
        |SELECT * FROM (SELECT * FROM d UNION ALL SELECT * FROM t)
        |ORDER BY level, grp""".stripMargin),

    // -- theta audience matrix: pairwise user-overlap of ALL event-type
    //    pairs from ONE sketch table (retention generalized across a
    //    dimension). The pair join is over 5 sketch rows, not events rows;
    //    below the 2^12 capacity every estimate is exact, which is what
    //    lets DuckDB's exact COUNT(DISTINCT) act as the oracle ------------
    ("q_theta_audience",
      (s: SparkSession, d: String) => {
        val sk = graft.ops.Sketches.thetaSketch(
          t(s, d, "events"), Seq("event_type"), "user_id")
        graft.ops.Sketches.audienceMatrix(sk, "event_type")
          .orderBy("dim_a", "dim_b")
      },
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, count(*) AS nd FROM du GROUP BY 1),
        |ov AS (SELECT x.event_type AS dim_a, y.event_type AS dim_b,
        |         count(*) AS n_both
        |       FROM du x JOIN du y
        |         ON x.user_id = y.user_id AND x.event_type < y.event_type
        |       GROUP BY 1, 2)
        |SELECT na.event_type AS dim_a, nb.event_type AS dim_b,
        |  na.nd AS n_a, nb.nd AS n_b,
        |  coalesce(ov.n_both, 0) AS overlap,
        |  na.nd + nb.nd - coalesce(ov.n_both, 0) AS either
        |FROM n na JOIN n nb ON na.event_type < nb.event_type
        |LEFT JOIN ov ON ov.dim_a = na.event_type AND ov.dim_b = nb.event_type
        |ORDER BY 1, 2""".stripMargin),

    // -- count-min sketch: point-frequency estimates for every (type, page)
    //    event key from a 3×64-cell sketch, beside the exact counts so the
    //    gated rows PROVE est >= exact with bounded overshoot. The cells
    //    are bit-deterministic (md5 row hashes), so DuckDB replays the
    //    sketch itself — estimates hash-compare, not just bound-check.
    //    Scale: the build is one groupBy with a d·w-bounded key space
    //    (map-side partials make each partition's shuffle ≤ 192 rows);
    //    probes join the KB-sized cell table, never the corpus ------------
    ("q_cms_estimate",
      (s: SparkSession, d: String) => {
        val keyed = t(s, d, "events").select(
          concat(col("event_type"), lit("#"),
            regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)).as("key"))
        val cells = graft.ops.Sketches.countMinCells(keyed, "key")
        val exact = keyed.groupBy(col("key").as("item"))
          .agg(count(lit(1)).as("exact"))
        graft.ops.Sketches.countMinEstimate(cells, keyed, "key")
          .join(exact, Seq("item"))
          .orderBy("item")
      },
      cmsOracleSql),

    // -- STREAMING count-min maintenance under the gate: the events keys
    //    arrive as three staged files under maxFilesPerTrigger=1, each
    //    micro-batch sketches ITSELF and lands its d×w delta cells at an
    //    idempotent per-batch path (overwrite of cells/batch=<id> — an
    //    at-least-once replay rewrites the same bytes, the foreachBatch
    //    twin of q_stream_join's keyed screen), and the final probe runs
    //    over the cell-wise SUM of the per-batch tables. Count-min cells
    //    are additive, so the merged sketch is bit-identical to the
    //    whole-table build — proven here against the SAME DuckDB oracle
    //    that grades the batch q_cms_estimate, estimates and exacts
    //    hash-compared. The store pattern is the 100 TB shape: per-window
    //    KB-sized sketch tables, rollup by addition, no raw-row rescan ----
    ("q_stream_cms",
      (s: SparkSession, d: String) => {
        val keyed = t(s, d, "events").select(
          concat(col("event_type"), lit("#"),
            regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)).as("key"),
          col("event_id"))
        StagedSource.replay("stream_cms",
            keyed.withColumn("__slice", pmod(col("event_id"), lit(3))),
            "__slice", Some(1)) { (stream, tmp) =>
          val cellDir = s"$tmp/cells"
          graft.streaming.StreamTune.withGateConfAt(s,
              Seq(s"$d/events.parquet")) {
            StagedSource.runBatches(stream, tmp,
                org.apache.spark.sql.streaming.OutputMode.Append,
                "staged cms stream") { (b, id) =>
              graft.ops.Sketches.countMinCells(b, "key")
                .coalesce(1).write.mode("overwrite")
                .parquet(s"$cellDir/batch=$id")
            }
          }
          val cells = s.read.parquet(cellDir)
            .groupBy("j", "h").agg(sum(col("c")).as("c"))
          val exact = keyed.groupBy(col("key").as("item"))
            .agg(count(lit(1)).as("exact"))
          val res = graft.ops.Sketches.countMinEstimate(cells, keyed, "key")
            .join(exact, Seq("item"))
            .orderBy("item")
          // materialize (distinct-key-sized) before the cells are deleted
          Scratch.collected(res)
        }
      },
      cmsOracleSql))
}
