package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Q._

/** Verified queries covering the reference's operator inventory
  * (SURVEY.md §2). Triple = (name, spark impl, DuckDB oracle SQL).
  */
object Parity {

  type Fn = (SparkSession, String) => DataFrame

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- A1/A2 len & shape (reference table.py:155-167) -------------------
    ("q_len",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(count(lit(1)).as("n_rows")),
      "SELECT count(*) AS n_rows FROM lineitem"),

    // -- A5 min/max numeric (reference column.py:174-184) -----------------
    ("q_minmax_num",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(
          min(col("l_extendedprice")).as("mn_price"),
          max(col("l_extendedprice")).as("mx_price"),
          min(col("l_quantity")).as("mn_qty"),
          max(col("l_quantity")).as("mx_qty")),
      "SELECT min(l_extendedprice) AS mn_price, max(l_extendedprice) AS mx_price, " +
        "min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty FROM lineitem"),

    // -- A5 min/max lexicographic on text (reference README.md:228-233) ---
    ("q_minmax_text",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").agg(
          min(col("c_name")).as("mn_name"),
          max(col("c_name")).as("mx_name"),
          min(col("c_mktsegment")).as("mn_seg"),
          max(col("c_mktsegment")).as("mx_seg")),
      "SELECT min(c_name) AS mn_name, max(c_name) AS mx_name, " +
        "min(c_mktsegment) AS mn_seg, max(c_mktsegment) AS mx_seg FROM customer"),

    // -- A6/A7 sum & avg, exact via decimal (reference column.py:186-208) -
    ("q_sum_avg",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(
          dsum(col("l_quantity")).as("sum_qty"),
          davg(col("l_quantity")).as("avg_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          davg(col("l_extendedprice")).as("avg_price")),
      s"SELECT ${sqlDsum("l_quantity")} AS sum_qty, ${sqlDavg("l_quantity")} AS avg_qty, " +
        s"${sqlDsum("l_extendedprice")} AS sum_price, ${sqlDavg("l_extendedprice")} AS avg_price FROM lineitem"),

    // -- A8 exact median (reference column.py:210-231, SURVEY §4.3.2) —
    //    via distributed order-statistic SELECTION (StatsOps
    //    .exactPercentiles): built-in `median` merges the full value→count
    //    map on one reducer, a choke point on high-cardinality columns ----
    ("q_median",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val mq = graft.ops.StatsOps.exactPercentiles(li, "l_quantity", Seq(0.5)).head
        val mp = graft.ops.StatsOps.exactPercentiles(li, "l_extendedprice", Seq(0.5)).head
        li.sparkSession.range(1).select(
          round(lit(mq), 4).as("med_qty"),
          round(lit(mp), 4).as("med_price"))
      },
      "SELECT round(median(l_quantity), 4) AS med_qty, round(median(l_extendedprice), 4) AS med_price FROM lineitem"),

    // -- A9 mode: ALL tied modes, null included (reference column.py:233-249)
    ("q_mode",
      (s: SparkSession, d: String) => {
        // agg-max + broadcast equality join (same plan as Col.modePlan /
        // q_mode_hc): counts stay distributed, only the 1-row max broadcasts.
        // A Window.partitionBy() global-max would sort all distinct values
        // on one partition — a choke point at high cardinality.
        val counts = t(s, d, "lineitem").groupBy(col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
        val mx = counts.agg(max(col("cnt")).as("mx"))
        counts.join(broadcast(mx), col("cnt") === col("mx"))
          .select(col("l_quantity").as("value"), col("cnt"))
          .orderBy("value")
      },
      "SELECT l_quantity AS value, count(*) AS cnt FROM lineitem GROUP BY 1 " +
        "HAVING count(*) = (SELECT count(*) AS c FROM lineitem GROUP BY l_quantity ORDER BY c DESC LIMIT 1) ORDER BY value"),

    // -- A10 value_counts: null excluded, count DESC then value ASC
    //    (reference column.py:289-304) --------------------------------------
    ("q_value_counts",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").filter(col("l_returnflag").isNotNull)
          .groupBy(col("l_returnflag").as("value"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("value")),
      "SELECT l_returnflag AS value, count(*) AS cnt FROM lineitem WHERE l_returnflag IS NOT NULL " +
        "GROUP BY 1 ORDER BY cnt DESC, value ASC"),

    // -- A11 unique (reference column.py:281-287) -------------------------
    ("q_unique",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").select(col("o_orderpriority").as("value"))
          .distinct().orderBy("value"),
      "SELECT DISTINCT o_orderpriority AS value FROM orders ORDER BY value"),

    // -- A12 describe, numeric column (reference column.py:251-279) -------
    ("q_describe_num",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val med = graft.ops.StatsOps
          .exactPercentiles(li, "l_extendedprice", Seq(0.5)).head
        li.agg(
          count(lit(1)).as("len_rows"),
          count(col("l_extendedprice")).as("cnt"),
          min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"),
          dsum(col("l_extendedprice")).as("sm"),
          davg(col("l_extendedprice")).as("av"),
          round(lit(med), 4).as("med"))
      },
      s"SELECT count(*) AS len_rows, count(l_extendedprice) AS cnt, min(l_extendedprice) AS mn, " +
        s"max(l_extendedprice) AS mx, ${sqlDsum("l_extendedprice")} AS sm, ${sqlDavg("l_extendedprice")} AS av, " +
        "round(median(l_extendedprice), 4) AS med FROM lineitem"),

    // -- A12 describe, text column ----------------------------------------
    ("q_describe_text",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").agg(
          count(lit(1)).as("len_rows"),
          count(col("c_mktsegment")).as("cnt"),
          min(col("c_mktsegment")).as("mn"),
          max(col("c_mktsegment")).as("mx"),
          countDistinct(col("c_mktsegment")).as("n_unique")),
      "SELECT count(*) AS len_rows, count(c_mktsegment) AS cnt, min(c_mktsegment) AS mn, " +
        "max(c_mktsegment) AS mx, count(DISTINCT c_mktsegment) AS n_unique FROM customer"),

    // -- F1/F3/F9 compound filter through the engine API (Expr && Expr;
    //    reference table.py:252-284, expression.py:37-47) ------------------
    ("q_filter_compound",
      (s: SparkSession, d: String) => {
        val db = Q.db(s, d)
        val li = db("lineitem")
        li.filter((li("l_quantity") >= 30) && (li("l_discount") > 0.05))
          .select(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))
          .toDf.orderBy("l_orderkey", "l_linenumber")
      },
      "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem " +
        "WHERE l_quantity >= 30 AND l_discount > 0.05 ORDER BY l_orderkey, l_linenumber"),

    // -- F4 equality filter (reference column.py:709-727) -----------------
    ("q_filter_eq",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_name").orderBy("c_custkey"),
      "SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"),

    // -- F5 isin (reference column.py:729-736) ----------------------------
    ("q_isin",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("seg"),
      "SELECT c_mktsegment AS seg, count(*) AS cnt FROM customer " +
        "WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') GROUP BY 1 ORDER BY seg"),

    // -- F6 between, inclusive (reference column.py:738-746) --------------
    ("q_between",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").filter(col("o_totalprice").between(1000.0, 5000.0))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sm")),
      s"SELECT count(*) AS cnt, ${sqlDsum("o_totalprice")} AS sm FROM orders " +
        "WHERE o_totalprice BETWEEN 1000.0 AND 5000.0"),

    // -- F7 case-INSENSITIVE like → ilike (SURVEY §4.3.4) -----------------
    ("q_like_ci",
      (s: SparkSession, d: String) =>
        t(s, d, "part").filter(col("p_name").ilike("%RING%"))
          .select("p_partkey", "p_name").orderBy("p_partkey"),
      "SELECT p_partkey, p_name FROM part WHERE p_name ILIKE '%RING%' ORDER BY p_partkey"),

    // -- F10 membership probe (reference column.py:589-595) ---------------
    ("q_contains",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").filter(col("l_orderkey") === 42L)
          .agg((count(lit(1)) > 0).as("present")),
      "SELECT count(*) > 0 AS present FROM lineitem WHERE l_orderkey = 42"),

    // -- O1 multi-key sort + O3 limit = distributed top-k
    //    (reference table.py:286-329; TakeOrderedAndProject, no full sort) --
    ("q_sort_topk",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy(asc("o_orderstatus"), desc("o_totalprice"), asc("o_orderkey"))
          .limit(100),
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC LIMIT 100"),

    // -- O3 head-n in key order (reference table.py:320-329) --------------
    ("q_limit_head",
      (s: SparkSession, d: String) =>
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — l_quantity joins the sort so the 20-row cut is the
        // same set in every engine (Spark, DuckDB, and the sqlite twin)
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity").limit(20),
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 20"),

    // -- O5/O6 positional slice rows [1000,1010) over an explicit order
    //    (reference IndexLoc, table.py:58-106). Top-k first, then a window
    //    over only the surviving 1010 rows — never a full-table window. ----
    ("q_iloc_slice",
      (s: SparkSession, d: String) => {
        val top = t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber").limit(1010)
        top.withColumn("rn",
            row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
          .filter(col("rn") > 1000 && col("rn") <= 1010)
          .drop("rn")
      },
      "SELECT l_orderkey, l_linenumber, l_quantity FROM " +
        "(SELECT l_orderkey, l_linenumber, l_quantity, row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem) " +
        "WHERE rn > 1000 AND rn <= 1010 ORDER BY l_orderkey, l_linenumber"),

    // -- P1 column slice (reference table.py:387-396) ---------------------
    ("q_proj",
      (s: SparkSession, d: String) => {
        val db = Q.db(s, d)
        db("nation").select(Seq("n_name", "n_regionkey")).toDf.orderBy("n_name")
      },
      "SELECT n_name, n_regionkey FROM nation ORDER BY n_name"),

    // -- S6/§2.7 raw SQL 3-table join through Database.query
    //    (reference connection.py:168-189; Catalyst picks broadcast joins) --
    ("q_sql_join",
      (s: SparkSession, d: String) => {
        val db = Q.db(s, d)
        db.query(
          """SELECT r_name, count(*) AS n_cust,
            |round(cast(sum(cast(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4) AS acctbal
            |FROM customer
            |JOIN nation ON c_nationkey = n_nationkey
            |JOIN region ON n_regionkey = r_regionkey
            |GROUP BY r_name ORDER BY r_name""".stripMargin)
      },
      s"SELECT r_name, count(*) AS n_cust, ${sqlDsum("c_acctbal")} AS acctbal FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),

    // -- S6 duplicate-output-column rename a,a → a,a_2
    //    (reference utils.py:177-197) --------------------------------------
    ("q_dup_rename",
      (s: SparkSession, d: String) => {
        val db = Q.db(s, d)
        db.query(
          """SELECT n_name AS name, r_name AS name
            |FROM nation JOIN region ON n_regionkey = r_regionkey
            |ORDER BY n_name""".stripMargin)
      },
      "SELECT n_name AS name, r_name AS name_2 FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_name"),

    // -- U5 concat (reference utils.py:127-152 → concat_ws) ---------------
    ("q_concat",
      (s: SparkSession, d: String) =>
        t(s, d, "nation").alias("n")
          .join(t(s, d, "region").alias("r"),
            col("n.n_regionkey") === col("r.r_regionkey"))
          .select(concat_ws("-", col("n_name"), col("r_name")).as("nr"))
          .orderBy("nr"),
      "SELECT concat_ws('-', n_name, r_name) AS nr FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY nr"),

    // -- U3/U4 element-wise arithmetic incl. floor division
    //    (reference column.py:597-675) -------------------------------------
    ("q_arith",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").filter(col("l_orderkey") < 100)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
            floor(col("l_quantity") / 7).cast("long").as("qdiv7"))
          .orderBy("l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_linenumber, round(l_extendedprice * (1.0 - l_discount), 4) AS revenue, " +
        "cast(floor(l_quantity / 7) AS BIGINT) AS qdiv7 FROM lineitem WHERE l_orderkey < 100 " +
        "ORDER BY l_orderkey, l_linenumber"),

    // -- U1/U2 per-cell function (reference column.py:338-364; expressed
    //    with codegen'd built-ins, not a UDF — functions-not-UDFs rule) -----
    ("q_applymap",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").filter(col("c_custkey") < 100)
          .select(col("c_custkey"), upper(col("c_name")).as("uname"),
            length(col("c_name")).cast("long").as("name_len"))
          .orderBy("c_custkey"),
      "SELECT c_custkey, upper(c_name) AS uname, cast(length(c_name) AS BIGINT) AS name_len " +
        "FROM customer WHERE c_custkey < 100 ORDER BY c_custkey"),

    // -- M5 group-by (the reference's own unchecked TODO README.md:643):
    //    TPC-H Q1-style flagship --------------------------------------------
    ("q_groupby_agg",
      (s: SparkSession, d: String) => {
        // exact-integer aggregation paths (the q1 cents treatment):
        // quantity is integral → long sums; price is 2-dec money → cents;
        // ep·dm has ≤4 decimal places so the cents product over 10^4 equals
        // the oracle's DECIMAL(18,6) cast of the double product exactly —
        // no per-row double→decimal cast survives in the hot scan
        val qy = col("l_quantity").cast("long")
        val ep = cents(col("l_extendedprice"))
        val dm = cents(lit(1.0) - col("l_discount"))
        def dec28(c: org.apache.spark.sql.Column) = c.cast(DecimalType(28, 0))
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(qy).cast("double"), 4).as("sum_qty"),
            round(sum(dec28(ep)).cast("double") / 100.0, 4).as("sum_base"),
            round(sum(dec28(ep * dm)).cast("double") / 10000.0, 4).as("sum_disc"),
            count(lit(1)).as("n"),
            round(sum(qy).cast("double") / count(col("l_quantity")), 4)
              .as("avg_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      // oracle mirrors the cents tree term-for-term (q_tpch_q1 convention):
      // both engines sum exact integer cents and divide once at the end, so
      // the equality is bit-identity by construction — not a coincidence of
      // double rounding that a larger SF could break
      s"SELECT l_returnflag, l_linestatus, ${sqlDsum("l_quantity")} AS sum_qty, " +
        "round(cast(sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_base, " +
        s"count(*) AS n, ${sqlDavg("l_quantity")} AS avg_qty, " +
        "round(cast(sum(cast(round(l_extendedprice * 100) AS BIGINT) * " +
        "cast(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS sum_disc " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),

    // -- M5 join+agg: revenue per nation; small dims broadcast ------------
    ("q_join_agg",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy("n_name"),
      s"SELECT n_name, count(*) AS n_orders, ${sqlDsum("o_totalprice")} AS revenue FROM orders " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1 ORDER BY 1"),

    // -- window function: top order per customer --------------------------
    ("q_window_rank",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .withColumn("rn", row_number().over(
            Window.partitionBy("o_custkey")
              .orderBy(desc("o_totalprice"), asc("o_orderkey"))))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey"),
      "SELECT o_custkey, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) " +
        "WHERE rn = 1 ORDER BY o_custkey"),

    // -- exact distributional stats beyond the reference (stddev, corr) via
    //    order-independent decimal power sums: partial aggregation is exact,
    //    so Spark's shuffle tree and DuckDB's serial scan agree bit-for-bit -
    ("q_stats_exact",
      (s: SparkSession, d: String) => {
        // power sums in exact integers: quantity is integral, price is
        // 2-decimal money -> cents (Q.cents). cents² and x·cents stay
        // exact in DECIMAL(38,0) (cents² ≤ 1e14/row — a long sum would
        // overflow by ~1e5 rows x 1e14); /100-scale restored in double
        // AFTER the exact sums, mirrored by the oracle tree
        val x = col("l_quantity")
        val cy = cents(col("l_extendedprice"))
        def s38(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(38, 0))).cast("double")
        t(s, d, "lineitem")
          .agg(
            count(lit(1)).cast("double").as("n"),
            s38(x).as("sx"), s38(x * x).as("sxx"),
            (s38(cy) / 100.0).as("sy"), (s38(cy * cy) / 10000.0).as("syy"),
            (s38(x * cy) / 100.0).as("sxy"))
          .select(
            round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 4)
              .as("stddev_qty"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr_qty_price"))
      },
      """WITH c AS (SELECT l_quantity AS x,
        |             cast(round(l_extendedprice * 100) AS BIGINT) AS cy
        |           FROM lineitem),
        |s AS (SELECT cast(count(*) AS DOUBLE) AS n,
        |  cast(sum(x) AS DOUBLE) AS sx,
        |  cast(sum(x * x) AS DOUBLE) AS sxx,
        |  cast(sum(cy) AS DOUBLE) / 100.0 AS sy,
        |  cast(sum(cy * cy) AS DOUBLE) / 10000.0 AS syy,
        |  cast(sum(x * cy) AS DOUBLE) / 100.0 AS sxy
        |  FROM c)
        |SELECT round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_qty,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
        |FROM s""".stripMargin)
  )
}
