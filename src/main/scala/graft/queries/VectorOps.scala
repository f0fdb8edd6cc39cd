package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs.vecDot
import Q._

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Dot products run through graft.functions.DotProduct — a native Catalyst
  * expression generating a fused loop in whole-stage codegen (float read,
  * double accumulate, sequential fold — bit-identical to DuckDB's
  * list_dot_product over double-cast lists, so the oracle compare is exact,
  * and ~10× cheaper than zip_with+aggregate which allocates per row).
  *
  * Scale design: brute-force top-k broadcasts the (tiny) query side and is a
  * single scan. All-pairs queries precompute each vector's norm ONCE in a
  * projection before the join, so the O(n²) stage does exactly one dot per
  * pair. The 100 TB path is the LSH-bucketed variant in graft.ops.Similarity
  * (random-hyperplane signatures → equi-join on bucket).
  */
object VectorOps {

  type Fn = (SparkSession, String) => DataFrame

  /** IVF index (k-means cell assignments + centroids) per (session, dir):
    * training scans the corpus repeatedly, so it runs ONCE and the
    * assignments persist — the session-local analogue of writing the
    * assignments out bucketed by cell id (ops.Partitioning.saveBucketed,
    * exercised in PartitioningSpec) on a real cluster.
    */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.ops.Similarity.IvfIndex]

  /** Query names that read the persisted IVF index — see
    * TextOps.cacheConsumers for the scheduling contract.
    */
  val cacheConsumers: Set[String] =
    Set("q_ann_ivf", "q_ann_ivf_exhaustive", "q_ann_recall_ivf")

  /** Unpersist + drop the cached IVF assignments (idempotent). */
  def clearCaches(): Unit = {
    ivfCache.values.foreach(i =>
      try i.assigned.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
    ivfCache.clear()
  }

  private def ivfIdx(s: SparkSession, d: String): graft.ops.Similarity.IvfIndex =
    ivfCache.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      val corpus = t(s, d, "embeddings").filter(col("vec_id") >= 3)
        .select("vec_id", "embedding")
      val idx = graft.ops.Similarity.ivfIndex(corpus, "vec_id", "embedding",
        nCells = 16, seed = 42L)
      // Capture the trained centroids driver-side (16 x 64 doubles — tiny):
      // they are the only non-ANSI-SQL ingredient of the q_ann_ivf plan, so
      // embedding them as literals lets dynamicOracles emit a full DuckDB
      // oracle for the PRODUCTION ivf path. Verify dumps oracle_sql.json
      // after the queries run, so the capture is populated there by
      // construction.
      capturedCentroids = idx.centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      idx.copy(assigned = idx.assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })

  @volatile private var capturedCentroids: Array[(Int, Array[Double])] = Array.empty

  /** Hyperplanes shared between q_ann_lsh_oracle's Spark plan and its
    * GENERATED oracle SQL: the seeded gaussians are embedded as double
    * literals (Double.toString round-trips exactly), so the "seeded planes
    * aren't ANSI-SQL" objection disappears for a small-parameter variant
    * and the whole LSH path (signature → bucket join → re-rank) sits under
    * the driver's hash-compare. dim pinned to the embeddings tables' 64.
    */
  private val lshOracleDim = 64
  private val lshOraclePlanes =
    graft.ops.Similarity.hyperplanes(seed = 7L, tables = 2, bits = 4, dim = lshOracleDim)

  private def planeLit(p: Array[Double]): String =
    p.map(java.lang.Double.toString).mkString("[", ", ", "]")

  /** DuckDB signature of vector column `v` for table `t`: bit b set iff the
    * sequential dot with plane (t, b) is >= 0 — LshSignatures' convention.
    */
  private def sigSql(v: String, t: Int): String =
    (0 until 4).map { b =>
      s"(CASE WHEN list_dot_product(${planeLit(lshOraclePlanes(t)(b))}, $v) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  /** PRODUCTION-parameter LSH planes (the exact array q_ann_lsh's Spark plan
    * uses: seed 42, 16 tables x 6 bits, dim 64), for the generated DuckDB
    * oracle below. 96 planes x 64 doubles is ~130 KB of literals — too big
    * to inline per signature bit the way sigSql does, so they go into ONE
    * `(t, b, pl)` VALUES table and signatures are computed relationally:
    * sig(vec, t) = sum_b (1<<b when list_dot_product(pl, v) >= 0).
    */
  private val lshProdTables = 16
  private val lshProdBits = 6
  private val lshProdPlanes =
    graft.ops.Similarity.hyperplanes(seed = 42L, tables = lshProdTables,
      bits = lshProdBits, dim = lshOracleDim)

  private def planesValues(planes: Array[Array[Array[Double]]]): String =
    (for {
      t <- planes.indices
      b <- planes(t).indices
    } yield s"($t, $b, ${planeLit(planes(t)(b))})").mkString(",\n    ")

  /** Generated oracle for q_ann_lsh at production parameters: the full LSH
    * pipeline (per-table bit signature -> (table, bucket) equi-join ->
    * exact cosine re-rank -> per-query top-k) in ANSI-ish DuckDB SQL with
    * the seeded planes as a VALUES table. Signature arithmetic matches
    * LshSignatures bit-for-bit: plane-first sequential dot, >= 0 sets bit b.
    */
  private def lshProdOracle: String =
    s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |planes AS (SELECT * FROM (VALUES
       |    ${planesValues(lshProdPlanes)}) AS p(t, b, pl)),
       |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
       |c0 AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
       |cs AS (SELECT c0.vec_id, p.t,
       |         cast(sum(CASE WHEN list_dot_product(p.pl, c0.v) >= 0 THEN (1 << p.b) ELSE 0 END) AS INTEGER) AS sig
       |       FROM c0 CROSS JOIN planes p GROUP BY 1, 2),
       |cb AS (SELECT cs.vec_id, c0.v, cs.t, cs.sig FROM cs JOIN c0 USING (vec_id)),
       |qs AS (SELECT q0.qid, p.t,
       |         cast(sum(CASE WHEN list_dot_product(p.pl, q0.qv) >= 0 THEN (1 << p.b) ELSE 0 END) AS INTEGER) AS sig
       |       FROM q0 CROSS JOIN planes p GROUP BY 1, 2),
       |qb AS (SELECT qs.qid, q0.qv, qs.t, qs.sig FROM qs JOIN q0 USING (qid)),
       |cand AS (
       |  SELECT DISTINCT qb.qid, cb.vec_id,
       |    list_dot_product(cb.v, qb.qv) /
       |      (sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(qb.qv, qb.qv))) AS cos
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.sig = qb.sig),
       |ranked AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM cand)
       |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
       |ORDER BY qid, vec_id""".stripMargin

  /** Generated oracle for q_ann_ivf, available once ivfIdx has trained in
    * this JVM (always true under Verify's run-then-dump order): centroids as
    * literals, cell assignment = argmin Euclidean distance over the
    * L2-normalized vector (KMeans' EuclideanDistanceMeasure keeps the FIRST
    * of tied minima, matched here by the `ORDER BY dist, cell` row_number),
    * probe = nProbe nearest cells by -dot(unit, centroid), exact cosine
    * re-rank inside probed cells.
    */
  private def ivfProdOracle(cents: Array[(Int, Array[Double])]): String = {
    val values = cents.map { case (i, c) => s"($i, ${planeLit(c)})" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |u AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |        [x / sqrt(list_dot_product(v, v)) for x in v] AS unit FROM e),
       |cents AS (SELECT * FROM (VALUES
       |    $values) AS c(cell, cv)),
       |assigned AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT u.vec_id, u.v, u.nrm, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY list_distance(u.unit, c.cv), c.cell) AS rk
       |    FROM u CROSS JOIN cents c WHERE u.vec_id >= 3) WHERE rk = 1),
       |probed AS (
       |  SELECT qid, qv, qnrm, cell FROM (
       |    SELECT u.vec_id AS qid, u.v AS qv, u.nrm AS qnrm, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY -list_dot_product(u.unit, c.cv), c.cell) AS pr
       |    FROM u CROSS JOIN cents c WHERE u.vec_id < 3) WHERE pr <= 4),
       |scored AS (
       |  SELECT p.qid, a.vec_id, list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) AS cos
       |  FROM assigned a JOIN probed p USING (cell)),
       |ranked AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
       |ORDER BY qid, vec_id""".stripMargin
  }

  /** Oracles that need runtime-derived literals (trained k-means centroids).
    * Empty until q_ann_ivf's index builds; SparkEntry.oracleSql merges this
    * in, and Verify's run-then-dump order guarantees it is populated there.
    */
  def dynamicOracles: Map[String, String] =
    if (capturedCentroids.nonEmpty)
      Map("q_ann_ivf" -> ivfProdOracle(capturedCentroids),
        "q_ann_recall_ivf" -> ivfRecallOracle(capturedCentroids))
    else Map.empty

  /** Generated oracle for q_ann_recall_ivf: the [[ivfProdOracle]] pipeline
    * (captured centroids, nProbe = 4 of 16) overlapped per probe against
    * brute-force exact top-5 — the IVF twin of q_ann_recall's LSH gate.
    */
  private def ivfRecallOracle(cents: Array[(Int, Array[Double])]): String = {
    val values = cents.map { case (i, c) => s"($i, ${planeLit(c)})" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |u AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |        [x / sqrt(list_dot_product(v, v)) for x in v] AS unit FROM e),
       |cents AS (SELECT * FROM (VALUES
       |    $values) AS c(cell, cv)),
       |assigned AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT u.vec_id, u.v, u.nrm, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY list_distance(u.unit, c.cv), c.cell) AS rk
       |    FROM u CROSS JOIN cents c WHERE u.vec_id >= 3) WHERE rk = 1),
       |probed AS (
       |  SELECT qid, qv, qnrm, cell FROM (
       |    SELECT u.vec_id AS qid, u.v AS qv, u.nrm AS qnrm, c.cell,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY -list_dot_product(u.unit, c.cv), c.cell) AS pr
       |    FROM u CROSS JOIN cents c WHERE u.vec_id < 3) WHERE pr <= 4),
       |scored AS (
       |  SELECT p.qid, a.vec_id, list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) AS cos
       |  FROM assigned a JOIN probed p USING (cell)),
       |ivf AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |    FROM scored) WHERE rk <= 5),
       |q0 AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM u WHERE vec_id < 3),
       |bscored AS (
       |  SELECT q0.qid, c.vec_id, list_dot_product(c.v, q0.qv) / (c.nrm * q0.qnrm) AS cos
       |  FROM u c, q0 WHERE c.vec_id >= 3),
       |brute AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |    FROM bscored) WHERE rk <= 5),
       |hits AS (SELECT qid, count(*) AS h
       |         FROM ivf JOIN brute USING (qid, vec_id) GROUP BY 1)
       |SELECT q0.qid, CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(h.h, 0) * 100 // 5 AS BIGINT) AS recall_pct
       |FROM q0 LEFT JOIN hits h USING (qid) ORDER BY qid""".stripMargin
  }

  private val KmK = 8
  private val KmIters = 3
  /** q_ann_recall_sweep probe widths — must stay <= KmK. */
  private val SweepProbes = Seq(1, 2, 4)
  private val KmDim = 64
  private val KmQuant = 1000000L
  private val KmNProbe = 3
  // PQ params (declared BEFORE `entries`, which evaluates the oracle
  // builders at object init): 4 subspaces × 16 dims, 4 codes each, 2
  // exact Lloyd rounds, ADC shortlist of 10 re-ranked to top 5
  private val PqM = 4
  private val PqSub = KmDim / PqM
  private val PqKs = 4
  private val PqIters = 2
  private val PqShort = 10

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- brute-force cosine top-k against one query vector ----------------
    ("q_knn",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        val q = e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qnrm"))
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4).as("cos"))
          .orderBy(desc("cos"), asc("vec_id"))
          .limit(10)
      },
      """WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
        |FROM e, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // -- most-similar pairs (embedding near-dup detection, top-20);
    //    norms precomputed, one dot per pair in the O(n²) stage -------------
    ("q_sim_pairs",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        // single-file parquet arrives as ONE partition; the nested-loop
        // pair join streams that side, so without this repartition the
        // whole O(n²) stage runs on one core
        val a = e.repartition(s.sparkContext.defaultParallelism)
          .select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, col("a") < col("b"))
          .select(col("a"), col("b"),
            round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos"))
          .orderBy(desc("cos"), asc("a"), asc("b"))
          .limit(20)
      },
      """WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, a, b LIMIT 20""".stripMargin),

    // -- ColBERT-style MaxSim late interaction (Khattab & Zaharia 2020):
    //    each 64-dim embedding chunked into 4 16-dim "token" vectors;
    //    score(q, doc) = Σ_i max_j cos(q_i, doc_j) — the retrieval scorer
    //    that keeps per-token granularity without an all-token join
    //    blowup. Shape: the bounded query-token frame BROADCASTS against
    //    the corpus token stream (16 pairs per doc — linear in corpus);
    //    per-token maxes are plain doubles (bitwise-deterministic), the
    //    4-term sum dec6-rounded first so accumulation order is free.
    //    Top-5 per query by exact decimal score, window over the bounded
    //    query partitions only ---------------------------------------------
    ("q_maxsim",
      (s: SparkSession, d: String) => {
        val toks = t(s, d, "embeddings")
          .select(col("vec_id"), explode(expr(
            "transform(sequence(0, 3), c -> " +
              "struct(c AS ti, slice(embedding, c * 16 + 1, 16) AS tv))"))
            .as("tk"))
          .select(col("vec_id"), col("tk.ti").as("ti"), col("tk.tv").as("tv"))
          .withColumn("nrm", sqrt(vecDot(col("tv"), col("tv"))))
        val qt = toks.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("ti").as("qi"),
            col("tv").as("qv"), col("nrm").as("qn"))
        val dt = toks.filter(col("vec_id") >= 3)
          .select(col("vec_id").as("did"), col("tv").as("dv"),
            col("nrm").as("dn"))
        val dec = org.apache.spark.sql.types.DecimalType(18, 6)
        // zero-norm guard: an all-zero 16-dim chunk gives 0/0 = NaN in
        // Spark but NULL in DuckDB (the q_welch_t/q_zipf_fit engine
        // split) — NULL both sides; max/sum then skip the term alike
        val best = dt.crossJoin(broadcast(qt))
          .groupBy("qid", "did", "qi")
          .agg(max(when(col("qn") * col("dn") > 0.0,
            vecDot(col("qv"), col("dv")) / (col("qn") * col("dn"))))
            .as("mx"))
        val scored = best.groupBy("qid", "did")
          .agg(sum(round(col("mx"), 6).cast(dec)).as("score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("score"), asc("did"))
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5L)
          .select(col("qid"), col("rk"), col("did"),
            round(col("score").cast("double"), 4).as("maxsim"))
          .orderBy("qid", "rk")
      },
      """WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v
        |           FROM embeddings),
        |tok AS (SELECT vec_id, c AS ti, v[c*16+1 : c*16+16] AS tv
        |        FROM e, range(0, 4) r(c)),
        |tn AS (SELECT vec_id, ti, tv, sqrt(list_dot_product(tv, tv)) AS nrm
        |       FROM tok),
        |qt AS (SELECT vec_id AS qid, ti AS qi, tv AS qv, nrm AS qn
        |       FROM tn WHERE vec_id < 3),
        |dt AS (SELECT vec_id AS did, tv AS dv, nrm AS dn
        |       FROM tn WHERE vec_id >= 3),
        |best AS (SELECT qid, did, qi,
        |           max(CASE WHEN qn * dn > 0 THEN
        |                 list_dot_product(qv, dv) / (qn * dn) END) AS mx
        |         FROM qt, dt GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, did,
        |         sum(cast(round(mx, 6) AS DECIMAL(18,6))) AS score
        |       FROM best GROUP BY 1, 2),
        |rk AS (SELECT qid, did, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rk
        |       FROM sc)
        |SELECT qid, rk, did, round(cast(score AS DOUBLE), 4) AS maxsim
        |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // -- per-label embedding stats (norm distribution) --------------------
    ("q_embed_stats",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
          .select(col("label"), sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        e.groupBy("label")
          .agg(count(lit(1)).as("cnt"), davg(col("nrm")).as("avg_norm"),
            round(min(col("nrm")), 4).as("min_norm"), round(max(col("nrm")), 4).as("max_norm"))
          .orderBy("label")
      },
      s"""WITH e AS (
         |  SELECT label, sqrt(list_dot_product([cast(x AS DOUBLE) for x in embedding],
         |                                      [cast(x AS DOUBLE) for x in embedding])) AS nrm
         |  FROM embeddings)
         |SELECT label, count(*) AS cnt, ${sqlDavg("nrm")} AS avg_norm,
         |  round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- approximate NN via random-hyperplane LSH (the 100 TB path): bucket
    //    join + exact re-rank at PRODUCTION parameters. The seeded planes
    //    are embedded in the generated oracle as a (t, b, plane) VALUES
    //    table (~130 KB of double literals), putting the production path
    //    under the driver's hash gate; recall is additionally asserted
    //    against bruteTopK in graft.ops.OpsSpec. dim pinned to the table's
    //    64 so the Spark planes and the oracle literals are the same array --
    ("q_ann_lsh",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        val corpus = emb.filter(col("vec_id") >= 3).select("vec_id", "embedding")
        graft.ops.Similarity.lshTopK(corpus, queries, "vec_id", "qid", "embedding",
            k = 5, tables = lshProdTables, bits = lshProdBits, seed = 42L,
            dim = lshOracleDim)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      lshProdOracle),

    // -- ANN RECALL@K gate: the production-parameter LSH top-5 overlapped
    //    against brute-force exact top-5, per probe — the approximation
    //    QUALITY measured, not asserted (the engine ships approximate
    //    operators; this is the differential-oracle pattern applied to
    //    recall). 20 probes for statistics; hits and recall_pct are exact
    //    integers (hits*100 div 5), so the gate is hash-stable. The oracle
    //    replays BOTH pipelines in DuckDB: the LSH side from the same
    //    seeded plane literals (the lshProdOracle VALUES table), the exact
    //    side as plain brute-force cosine top-k — the overlap count is
    //    computed independently end-to-end ---------------------------------
    ("q_ann_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding"))
        val corpus = emb.filter(col("vec_id") >= 20)
          .select("vec_id", "embedding")
        val approx = graft.ops.Similarity.lshTopK(corpus, queries, "vec_id",
            "qid", "embedding", k = 5, tables = lshProdTables,
            bits = lshProdBits, seed = 42L, dim = lshOracleDim)
          .select(col("qid"), col("vec_id"))
        val exact = graft.ops.Similarity.bruteTopK(corpus, queries, "vec_id",
            "qid", "embedding", k = 5)
          .select(col("qid"), col("vec_id"))
        val hits = approx.join(exact, Seq("qid", "vec_id"))
          .groupBy("qid").agg(count(lit(1)).as("h"))
        queries.select("qid").join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("h"), lit(0L)).as("hits"))
          .withColumn("recall_pct",
            expr("cast(hits * 100 div 5 AS BIGINT)"))
          .orderBy("qid")
      },
      s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES
         |    ${planesValues(lshProdPlanes)}) AS p(t, b, pl)),
         |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
         |c0 AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
         |cs AS (SELECT c0.vec_id, p.t,
         |         cast(sum(CASE WHEN list_dot_product(p.pl, c0.v) >= 0 THEN (1 << p.b) ELSE 0 END) AS INTEGER) AS sig
         |       FROM c0 CROSS JOIN planes p GROUP BY 1, 2),
         |cb AS (SELECT cs.vec_id, c0.v, cs.t, cs.sig FROM cs JOIN c0 USING (vec_id)),
         |qs AS (SELECT q0.qid, p.t,
         |         cast(sum(CASE WHEN list_dot_product(p.pl, q0.qv) >= 0 THEN (1 << p.b) ELSE 0 END) AS INTEGER) AS sig
         |       FROM q0 CROSS JOIN planes p GROUP BY 1, 2),
         |qb AS (SELECT qs.qid, q0.qv, qs.t, qs.sig FROM qs JOIN q0 USING (qid)),
         |cand AS (
         |  SELECT DISTINCT qb.qid, cb.vec_id,
         |    list_dot_product(cb.v, qb.qv) /
         |      (sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(qb.qv, qb.qv))) AS cos
         |  FROM cb JOIN qb ON cb.t = qb.t AND cb.sig = qb.sig),
         |lsh AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM cand) WHERE rk <= 5),
         |bscored AS (
         |  SELECT q0.qid, c0.vec_id,
         |    list_dot_product(c0.v, q0.qv) /
         |      (sqrt(list_dot_product(c0.v, c0.v)) * sqrt(list_dot_product(q0.qv, q0.qv))) AS cos
         |  FROM c0, q0),
         |brute AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM bscored) WHERE rk <= 5),
         |hits AS (SELECT qid, count(*) AS h
         |         FROM lsh JOIN brute USING (qid, vec_id) GROUP BY 1)
         |SELECT q0.qid, CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.h, 0) * 100 // 5 AS BIGINT) AS recall_pct
         |FROM q0 LEFT JOIN hits h USING (qid) ORDER BY qid""".stripMargin),

    // -- random-hyperplane LSH with the planes embedded in the oracle SQL
    //    as double literals: the full LSH pipeline (fused signature expr →
    //    (table, bucket) equi-join → exact re-rank → per-query top-k) under
    //    the driver's hash-compare. Small parameters (2 tables × 4 bits) to
    //    keep the generated SQL compact; q_ann_lsh keeps the production
    //    parameters with the recall spec ------------------------------------
    ("q_ann_lsh_oracle",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        val corpus = emb.filter(col("vec_id") >= 3).select("vec_id", "embedding")
        graft.ops.Similarity.lshTopK(corpus, queries, "vec_id", "qid", "embedding",
            k = 5, tables = 2, bits = 4, seed = 7L, dim = lshOracleDim)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
         |q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |c0 AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
         |cb AS (SELECT vec_id, v, 0 AS t, ${sigSql("v", 0)} AS sig FROM c0
         |       UNION ALL
         |       SELECT vec_id, v, 1 AS t, ${sigSql("v", 1)} AS sig FROM c0),
         |qb AS (SELECT qid, qv, 0 AS t, ${sigSql("qv", 0)} AS sig FROM q0
         |       UNION ALL
         |       SELECT qid, qv, 1 AS t, ${sigSql("qv", 1)} AS sig FROM q0),
         |cand AS (
         |  SELECT DISTINCT qb.qid, cb.vec_id,
         |    list_dot_product(cb.v, qb.qv) /
         |      (sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(qb.qv, qb.qv))) AS cos
         |  FROM cb JOIN qb ON cb.t = qb.t AND cb.sig = qb.sig),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |  FROM cand)
         |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
         |ORDER BY qid, vec_id""".stripMargin),

    // -- semantic near-dup grouping (SemDeDup-style): LSH buckets propose,
    //    exact cosine confirms, each duplicate points at its lowest-id
    //    confirmed neighbor — single-pass star grouping, no transitive
    //    closure iteration. Small-parameter planes embedded as literals in
    //    the generated SQL (the q_ann_lsh_oracle house trick) so the whole
    //    pipeline sits under the driver's hash gate --------------------------
    ("q_semdedup",
      (s: SparkSession, d: String) =>
        graft.ops.Similarity.semanticDedup(
            t(s, d, "embeddings").select("vec_id", "embedding"),
            "vec_id", "embedding", threshold = 0.40,
            tables = 2, bits = 4, seed = 7L, dim = lshOracleDim)
          .select(col("vec_id"), col("rep_id"), round(col("cos"), 4).as("cos"))
          .orderBy("vec_id"),
      s"""WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
         |cb AS (SELECT vec_id, v, 0 AS t, ${sigSql("v", 0)} AS sig FROM e
         |       UNION ALL
         |       SELECT vec_id, v, 1 AS t, ${sigSql("v", 1)} AS sig FROM e),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |         FROM cb x JOIN cb y ON x.t = y.t AND x.sig = y.sig
         |           AND x.vec_id < y.vec_id),
         |conf AS (
         |  SELECT c.a, c.b,
         |    list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
         |  FROM cand c JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
         |  WHERE list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.40),
         |rep AS (SELECT b AS vec_id, min(a) AS rep_id FROM conf GROUP BY 1)
         |SELECT r.vec_id, r.rep_id, round(c.cos, 4) AS cos
         |FROM rep r JOIN conf c ON c.a = r.rep_id AND c.b = r.vec_id
         |ORDER BY r.vec_id""".stripMargin),

    // -- SemDeDup proper (k-means cells bound the pair search): with
    //    nCells = 1 the within-cell stage is exhaustive, so the ENTIRE
    //    code path (k-means assign → within-cell pairs → exact cosine →
    //    star grouping) equals exact all-pairs star grouping and runs
    //    under the driver's hash gate — the q_ann_ivf_exhaustive trick.
    //    Production uses nCells >> 1 (Σ|cell|² work) --------------------------
    ("q_semdedup_cells",
      (s: SparkSession, d: String) => {
        val idx = graft.ops.Similarity.ivfIndex(
          t(s, d, "embeddings").select("vec_id", "embedding"),
          "vec_id", "embedding", nCells = 1, seed = 5L)
        graft.ops.Similarity.semanticDedupByCell(idx, "vec_id", threshold = 0.40)
          .select(col("vec_id"), col("rep_id"), round(col("cos"), 4).as("cos"))
          .orderBy("vec_id")
      },
      """WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        |scored AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    list_dot_product(x.v, y.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id),
        |conf AS (SELECT * FROM scored WHERE cos >= 0.40),
        |rep AS (SELECT b AS vec_id, min(a) AS rep_id FROM conf GROUP BY 1)
        |SELECT r.vec_id, r.rep_id, round(c.cos, 4) AS cos
        |FROM rep r JOIN conf c ON c.a = r.rep_id AND c.b = r.vec_id
        |ORDER BY r.vec_id""".stripMargin),

    // -- IVF ANN, exhaustive probe (nProbe == nCells): identical to brute
    //    force by construction, so the whole IVF path (k-means assignment,
    //    cell probe, in-cell re-rank) runs end-to-end under the DRIVER's
    //    oracle gate — the oracle is plain brute-force cosine top-k ---------
    ("q_ann_ivf_exhaustive",
      (s: SparkSession, d: String) => {
        val queries = t(s, d, "embeddings").filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        graft.ops.Similarity.ivfTopK(ivfIdx(s, d), queries, "vec_id", "qid",
            "embedding", k = 5, nProbe = 16)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      """WITH e AS (SELECT vec_id, [cast(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
        |scored AS (
        |  SELECT qid, vec_id,
        |    list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
        |  FROM c, q),
        |ranked AS (
        |  SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
        |ORDER BY qid, vec_id""".stripMargin),

    // -- IVF ANN (k-means cells + probe + exact re-rank); seeded k-means is
    //    not ANSI-SQL-expressible -> rows-only; exhaustive-probe equivalence
    //    to brute force asserted in OpsSpec AND oracle-checked end-to-end by
    //    q_ann_ivf_exhaustive above ----------------------------------------
    ("q_ann_ivf",
      (s: SparkSession, d: String) => {
        val queries = t(s, d, "embeddings").filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        graft.ops.Similarity.ivfTopK(ivfIdx(s, d), queries, "vec_id", "qid",
            "embedding", k = 5, nProbe = 4)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      null),

    // -- IVF recall@k: the production probe (nProbe = 4 of 16 cells)
    //    overlapped per query against brute-force exact top-5 — the IVF
    //    twin of q_ann_recall. Oracle is GENERATED (captured centroids as
    //    literals, dynamicOracles) and recomputes both pipelines plus the
    //    overlap in DuckDB ------------------------------------------------
    ("q_ann_recall_ivf",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding"))
        val corpus = emb.filter(col("vec_id") >= 3)
          .select("vec_id", "embedding")
        val approx = graft.ops.Similarity.ivfTopK(ivfIdx(s, d), queries,
            "vec_id", "qid", "embedding", k = 5, nProbe = 4)
          .select(col("qid"), col("vec_id"))
        val exact = graft.ops.Similarity.bruteTopK(corpus, queries, "vec_id",
            "qid", "embedding", k = 5)
          .select(col("qid"), col("vec_id"))
        val hits = approx.join(exact, Seq("qid", "vec_id"))
          .groupBy("qid").agg(count(lit(1)).as("h"))
        queries.select("qid").join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("h"), lit(0L)).as("hits"))
          .withColumn("recall_pct",
            expr("cast(hits * 100 div 5 AS BIGINT)"))
          .orderBy("qid")
      },
      null),

    // -- exact-integer Lloyd's k-means: the TRAINING fixed point itself
    //    under the hash gate (deterministic smallest-id init, quantized
    //    long distances, truncating-division means — graft.ops.Lloyd). The
    //    oracle replays all 3 rounds as unrolled CTEs, PageRank-style ------
    ("q_kmeans",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings").filter(col("vec_id") >= 3)
        val m = graft.ops.Lloyd.train(emb, "vec_id", "embedding",
          k = KmK, iters = KmIters)
        graft.ops.Lloyd.centroidsDf(s, m).orderBy("cluster", "pos")
      },
      s"""$kmeansCtes
         |SELECT cl AS cluster, cast(n AS BIGINT) AS n, cast(pos AS BIGINT) AS pos, cval
         |FROM (SELECT cl, n, unnest(c) AS cval, unnest(range(0, $KmDim)) AS pos
         |      FROM c$KmIters)
         |ORDER BY cluster, pos""".stripMargin),

    // -- the trained codebook in use: one assignment pass with the FINAL
    //    model (cells for IVF / SemDeDup), label mix per cell. The oracle
    //    runs a 4th assignment-only round against c3 ------------------------
    ("q_kmeans_cells",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings").filter(col("vec_id") >= 3)
        val m = graft.ops.Lloyd.train(emb, "vec_id", "embedding",
          k = KmK, iters = KmIters)
        graft.ops.Lloyd.assign(emb, "vec_id", "embedding", m)
          .join(t(s, d, "embeddings").select(col("vec_id").as("id"),
            col("label").cast("long").as("label")), "id")
          .groupBy("cluster", "label").agg(count(lit(1)).as("cnt"))
          .orderBy("cluster", "label")
      },
      s"""$kmeansCtes,
         |d4 AS (
         |  SELECT e.vec_id, c.cl,
         |    cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT) AS dist
         |  FROM e CROSS JOIN c$KmIters c),
         |a4 AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk FROM d4)
         |  WHERE rk = 1)
         |SELECT a.cl AS cluster, cast(m.label AS BIGINT) AS label, count(*) AS cnt
         |FROM a4 a JOIN embeddings m ON a.vec_id = m.vec_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- IVF ANN over the EXACT-trained codebook: because Lloyd's whole
    //    training fixed point is SQL-replayable, the complete production
    //    IVF path — train → assign cells → probe nProbe nearest cells →
    //    exact cosine re-rank — sits under ONE STATIC oracle, no runtime
    //    centroid capture (q_ann_ivf needs dynamicOracles for its
    //    seeded-MLlib codebook). Corpus side: one codegen-kernel scan for
    //    cells; query side: the O(#queries × k) probe runs driver-side
    //    (query batches are tiny by nature), candidates ride a broadcast
    //    join on cell id --------------------------------------------------
    ("q_ann_ivf_lloyd",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 3)
        val m = graft.ops.Lloyd.train(corpus, "vec_id", "embedding",
          k = KmK, iters = KmIters)
        val withCell = corpus.select(col("vec_id"), col("embedding"),
          graft.functions.VectorExprs.nearestCentroid(
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(KmQuant.toDouble))),
            m.centroids).cast("long").as("cluster"))
        val probes = graft.ops.Lloyd
          .quantize(emb.filter(col("vec_id") < 3), "vec_id", "embedding", KmQuant)
          .collect()
          .flatMap { r =>
            val qid = r.getLong(0)
            val qv = r.getSeq[Long](1).toArray
            m.centroids.zipWithIndex.map { case (c, j) =>
              (qid, j.toLong,
                c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
            }.sortBy(t => (t._3, t._2)).take(KmNProbe).map(t => (t._1, t._2))
          }.toSeq.toDF("qid", "cluster")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("qnrm"))
        // rank on the RAW cosine, round only in the output — the oracle's
        // ranked CTE orders unrounded, and ranking on a rounded value
        // would break 4-dp ties differently at the rk=5 boundary
        withCell.join(broadcast(probes), "cluster")
          .join(broadcast(queries), "qid")
          .select(col("qid"), col("vec_id"),
            (vecDot(col("embedding"), col("qv")) /
              (sqrt(vecDot(col("embedding"), col("embedding"))) * col("qnrm")))
              .as("cos_raw"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("qid").orderBy(desc("cos_raw"), asc("vec_id"))))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("vec_id"), round(col("cos_raw"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      s"""$kmeansCtes,
         |asn AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM e CROSS JOIN c$KmIters c) WHERE rk = 1),
         |qq AS (
         |  SELECT vec_id AS qid,
         |    [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding ] AS q,
         |    [ cast(x AS DOUBLE) for x in embedding ] AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |qp AS (
         |  SELECT qid, cl FROM (
         |    SELECT qq.qid, c.cl,
         |      row_number() OVER (PARTITION BY qq.qid ORDER BY
         |        cast(list_sum([ (qq.q[i]-c.c[i])*(qq.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM qq CROSS JOIN c$KmIters c) WHERE rk <= $KmNProbe),
         |ce AS (SELECT vec_id, [ cast(x AS DOUBLE) for x in embedding ] AS v
         |       FROM embeddings WHERE vec_id >= 3),
         |scored AS (
         |  SELECT qp.qid, a.vec_id,
         |    list_dot_product(ce.v, qq.qv) /
         |      (sqrt(list_dot_product(ce.v, ce.v)) * sqrt(list_dot_product(qq.qv, qq.qv))) AS cos
         |  FROM qp JOIN asn a USING (cl) JOIN ce ON ce.vec_id = a.vec_id
         |  JOIN qq ON qq.qid = qp.qid),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
         |ORDER BY qid, vec_id""".stripMargin),

    // -- RECALL-vs-nPROBE SWEEP: recall@5 as a FUNCTION of probe width
    //    (1 / 2 / 4 of the 8 Lloyd cells), one brute-force top-5 reused as
    //    the measuring stick for every point — the recall/latency trade-off
    //    as a measured monotone curve instead of the single operating point
    //    q_ann_recall_ivf gates. Same exact-integer Lloyd codebook as
    //    q_ann_ivf_lloyd, so the WHOLE sweep (training included) sits under
    //    one STATIC oracle. Scale: the corpus is scanned once for cell
    //    assignment and once for the brute twin (the yardstick, bounded to
    //    3 probes by design); the sweep itself only widens the tiny
    //    query-side probe list — candidates ride the same broadcast join,
    //    so probe width never reshuffles the corpus -----------------------
    ("q_ann_recall_sweep",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 3)
        val m = graft.ops.Lloyd.train(corpus, "vec_id", "embedding",
          k = KmK, iters = KmIters)
        val withCell = corpus.select(col("vec_id"), col("embedding"),
          graft.functions.VectorExprs.nearestCentroid(
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(KmQuant.toDouble))),
            m.centroids).cast("long").as("cluster"))
        // probe RANKS driver-side (3 queries x 8 cells), then one row per
        // (sweep point, qid, probed cell)
        val probes = graft.ops.Lloyd
          .quantize(emb.filter(col("vec_id") < 3), "vec_id", "embedding", KmQuant)
          .collect()
          .flatMap { r =>
            val qid = r.getLong(0)
            val qv = r.getSeq[Long](1).toArray
            m.centroids.zipWithIndex.map { case (c, j) =>
              (qid, j.toLong,
                c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
            }.sortBy(t => (t._3, t._2)).zipWithIndex.flatMap {
              case ((q, cl, _), i) =>
                SweepProbes.filter(np => i < np).map(np => (np.toLong, q, cl))
            }
          }.toSeq.toDF("nprobe", "qid", "cluster")
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("qnrm"))
        def top5(df: org.apache.spark.sql.DataFrame, part: Seq[String]) =
          df.withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(part.map(col): _*)
                .orderBy(desc("cos_raw"), asc("vec_id"))))
            .filter(col("rk") <= 5)
        val cosCol = (vecDot(col("embedding"), col("qv")) /
          (sqrt(vecDot(col("embedding"), col("embedding"))) * col("qnrm")))
          .as("cos_raw")
        val approx = top5(
          withCell.join(broadcast(probes), "cluster")
            .join(broadcast(queries), "qid")
            .select(col("nprobe"), col("qid"), col("vec_id"), cosCol),
          Seq("nprobe", "qid")).select("nprobe", "qid", "vec_id")
        val exact = top5(
          corpus.crossJoin(broadcast(queries))
            .select(col("qid"), col("vec_id"), cosCol),
          Seq("qid")).select("qid", "vec_id")
        val hits = approx.join(exact, Seq("qid", "vec_id"))
          .groupBy("nprobe").agg(count(lit(1)).as("h"))
        SweepProbes.map(_.toLong).toDF("nprobe")
          .join(hits, Seq("nprobe"), "left")
          .select(col("nprobe"), coalesce(col("h"), lit(0L)).as("hits"))
          .withColumn("recall_pct",
            expr("cast(hits * 100 div 15 AS BIGINT)"))
          .orderBy("nprobe")
      },
      s"""$kmeansCtes,
         |asn AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM e CROSS JOIN c$KmIters c) WHERE rk = 1),
         |qq AS (
         |  SELECT vec_id AS qid,
         |    [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding ] AS q,
         |    [ cast(x AS DOUBLE) for x in embedding ] AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |qpr AS (
         |  SELECT qid, cl, rk FROM (
         |    SELECT qq.qid, c.cl,
         |      row_number() OVER (PARTITION BY qq.qid ORDER BY
         |        cast(list_sum([ (qq.q[i]-c.c[i])*(qq.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM qq CROSS JOIN c$KmIters c)),
         |sweep AS (SELECT cast(unnest([${SweepProbes.mkString(", ")}]) AS BIGINT) AS nprobe),
         |qp AS (SELECT s.nprobe, q.qid, q.cl FROM qpr q JOIN sweep s ON q.rk <= s.nprobe),
         |ce AS (SELECT vec_id, [ cast(x AS DOUBLE) for x in embedding ] AS v
         |       FROM embeddings WHERE vec_id >= 3),
         |scored AS (
         |  SELECT qp.nprobe, qp.qid, a.vec_id,
         |    list_dot_product(ce.v, qq.qv) /
         |      (sqrt(list_dot_product(ce.v, ce.v)) * sqrt(list_dot_product(qq.qv, qq.qv))) AS cos
         |  FROM qp JOIN asn a USING (cl) JOIN ce ON ce.vec_id = a.vec_id
         |  JOIN qq ON qq.qid = qp.qid),
         |ivf AS (
         |  SELECT nprobe, qid, vec_id FROM (
         |    SELECT nprobe, qid, vec_id,
         |      row_number() OVER (PARTITION BY nprobe, qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 5),
         |bscored AS (
         |  SELECT qq.qid, ce.vec_id,
         |    list_dot_product(ce.v, qq.qv) /
         |      (sqrt(list_dot_product(ce.v, ce.v)) * sqrt(list_dot_product(qq.qv, qq.qv))) AS cos
         |  FROM ce CROSS JOIN qq),
         |brute AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM bscored) WHERE rk <= 5),
         |hits AS (SELECT nprobe, count(*) AS h
         |         FROM ivf JOIN brute USING (qid, vec_id) GROUP BY 1)
         |SELECT s.nprobe, CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.h, 0) * 100 // 15 AS BIGINT) AS recall_pct
         |FROM sweep s LEFT JOIN hits h USING (nprobe) ORDER BY nprobe""".stripMargin),

    // -- PQ/ADC under ONE static oracle: per-subvector codebooks trained
    //    by the SAME exact-integer Lloyd recurrence (4 subspaces × 16
    //    dims, ks=4, 2 iters), the corpus ENCODED to 4 small codes per
    //    vector, queries answered via ADC — a broadcast m×ks lookup table
    //    of exact subspace distances, approximate distance = 4 table
    //    lookups + adds per corpus row (never dim-length arithmetic in
    //    the scan) — shortlist top-10 by integer ADC distance, then the
    //    standard exact-cosine re-rank of the shortlist to top-5. DuckDB
    //    replays codebooks, codes, tables, shortlist and re-rank
    //    identically, so the hash compare grades the ENTIRE IVF-PQ-style
    //    retrieval stack, training included ------------------------------
    ("q_ann_pq",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 3)
        val model = graft.ops.Pq.train(corpus, "vec_id", "embedding",
          m = PqM, ks = PqKs, iters = PqIters, quant = KmQuant)
        val codes = graft.ops.Pq.encode(corpus, "vec_id", "embedding", model)
        val luts = graft.ops.Lloyd
          .quantize(emb.filter(col("vec_id") < 3), "vec_id", "embedding", KmQuant)
          .collect()
          .map { r => (r.getLong(0),
            graft.ops.Pq.lookupTable(r.getSeq[Long](1).toArray, model)) }
          .toSeq.toDF("qid", "lut")
        // shortlist via the mergeable bounded-heap aggregation, not a
        // per-query window — see Pq.adcShortlist's scaladoc
        val short = graft.ops.Pq.adcShortlist(codes, luts, PqKs, PqShort)
        rerankShortlist(emb, short, 5)
      },
      s"""WITH ${(0 until PqM).map(pqSubCtes).mkString(",\n")},
         |${(0 until PqM).map(pqCodeLutCtes).mkString(",\n")},
         |adist AS (
         |  SELECT l0.qid, a0.vec_id, l0.d + l1.d + l2.d + l3.d AS ad
         |  FROM asn0 a0
         |  JOIN asn1 a1 USING (vec_id) JOIN asn2 a2 USING (vec_id)
         |  JOIN asn3 a3 USING (vec_id)
         |  JOIN lut0 l0 ON l0.cl = a0.code
         |  JOIN lut1 l1 ON l1.cl = a1.code AND l1.qid = l0.qid
         |  JOIN lut2 l2 ON l2.cl = a2.code AND l2.qid = l0.qid
         |  JOIN lut3 l3 ON l3.cl = a3.code AND l3.qid = l0.qid),
         |short AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rk
         |    FROM adist)
         |  WHERE rk <= $PqShort),
         |$rerankSqlTail""".stripMargin),

    // -- the PRODUCTION retrieval composition, IVF-PQ, under one oracle:
    //    coarse cells from the q_ann_ivf_lloyd k-means, fine codes from
    //    the q_ann_pq codebooks, queries probe their KmNProbe nearest
    //    cells and ADC-scan ONLY those cells' codes (at 100 TB the scan
    //    touches probe-fraction × 4-bytes-per-vector instead of the raw
    //    table), bounded-heap shortlist, exact-cosine re-rank. DuckDB
    //    replays BOTH trainings, the cell restriction, the table-lookup
    //    distances and the re-rank — the deepest single gate entry -------
    ("q_ann_ivfpq",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 3)
        val ivf = graft.ops.Lloyd.train(corpus, "vec_id", "embedding",
          k = KmK, iters = KmIters)
        val cells = corpus.select(col("vec_id").as("id"),
          graft.functions.VectorExprs.nearestCentroid(
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(KmQuant.toDouble))),
            ivf.centroids).cast("long").as("cluster"))
        val pq = graft.ops.Pq.train(corpus, "vec_id", "embedding",
          m = PqM, ks = PqKs, iters = PqIters, quant = KmQuant)
        val codes = graft.ops.Pq.encode(corpus, "vec_id", "embedding", pq)
        val qRows = graft.ops.Lloyd
          .quantize(emb.filter(col("vec_id") < 3), "vec_id", "embedding", KmQuant)
          .collect()
        val probes = qRows.toSeq.flatMap { r =>
          val qid = r.getLong(0)
          val qv = r.getSeq[Long](1).toArray
          ivf.centroids.zipWithIndex.map { case (c, j) =>
            (qid, j.toLong,
              c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
          }.sortBy(p => (p._3, p._2)).take(KmNProbe).map(p => (p._1, p._2))
        }.toDF("qid", "cluster")
        val luts = qRows.toSeq.map { r => (r.getLong(0),
          graft.ops.Pq.lookupTable(r.getSeq[Long](1).toArray, pq)) }
          .toDF("qid", "lut")
        val scored = codes.join(cells, "id")
          .join(broadcast(probes), "cluster")
          .join(broadcast(luts), "qid")
          .select(col("qid"), col("id"),
            graft.ops.Pq.adcDistance(col("codes"), col("lut"), PqKs).as("adist"))
        val short = graft.ops.Pq.heapShortlist(scored, PqShort)
        val w = org.apache.spark.sql.expressions.Window
        val ce = corpus.select(col("vec_id"), col("embedding").as("v"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        val qv = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("qnrm"))
        ce.join(broadcast(short), "vec_id").join(broadcast(qv), "qid")
          .select(col("qid"), col("vec_id"),
            (vecDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
              .as("cos_raw"))
          .withColumn("rk", row_number().over(
            w.partitionBy("qid").orderBy(desc("cos_raw"), asc("vec_id"))))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("vec_id"), round(col("cos_raw"), 4).as("cos"))
          .orderBy("qid", "vec_id")
      },
      s"""$kmeansCtes,
         |asn AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM e CROSS JOIN c$KmIters c) WHERE rk = 1),
         |qq AS (
         |  SELECT vec_id AS qid,
         |    [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding ] AS q
         |  FROM embeddings WHERE vec_id < 3),
         |qp AS (
         |  SELECT qid, cl FROM (
         |    SELECT qq.qid, c.cl,
         |      row_number() OVER (PARTITION BY qq.qid ORDER BY
         |        cast(list_sum([ (qq.q[i]-c.c[i])*(qq.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT), c.cl) AS rk
         |    FROM qq CROSS JOIN c$KmIters c) WHERE rk <= $KmNProbe),
         |${(0 until PqM).map(pqSubCtes).mkString(",\n")},
         |${(0 until PqM).map(pqCodeLutCtes).mkString(",\n")},
         |adist AS (
         |  SELECT qp.qid, a.vec_id, l0.d + l1.d + l2.d + l3.d AS ad
         |  FROM asn a JOIN qp ON qp.cl = a.cl
         |  JOIN asn0 a0 ON a0.vec_id = a.vec_id
         |  JOIN asn1 a1 ON a1.vec_id = a.vec_id
         |  JOIN asn2 a2 ON a2.vec_id = a.vec_id
         |  JOIN asn3 a3 ON a3.vec_id = a.vec_id
         |  JOIN lut0 l0 ON l0.cl = a0.code AND l0.qid = qp.qid
         |  JOIN lut1 l1 ON l1.cl = a1.code AND l1.qid = qp.qid
         |  JOIN lut2 l2 ON l2.cl = a2.code AND l2.qid = qp.qid
         |  JOIN lut3 l3 ON l3.cl = a3.code AND l3.qid = qp.qid),
         |short AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rk
         |    FROM adist)
         |  WHERE rk <= $PqShort),
         |$rerankSqlTail""".stripMargin),

    // -- contrastive TRIPLET mining for embedding training: per anchor one
    //    same-label positive and one cross-label negative, both picked by
    //    a deterministic md5 rank over (anchor, candidate) — seedless,
    //    engine-replayable pseudo-randomness (the shuffle/split/shard
    //    convention), with the anchor-candidate margins alongside. The
    //    per-anchor winner is a min_by AGGREGATION, not a row_number
    //    window: a hash-agg computes the same row map-side-combined in
    //    one pass with parallelism unbounded by the anchor count, where
    //    the window had to SORT every anchor's full candidate set. The
    //    bench shape joins a bounded anchor set against the corpus; the
    //    100 TB negative source is the hash-sampled broadcast pool gated
    //    as q_contrastive_sampled below ----------------------------------
    ("q_contrastive",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings").filter(col("vec_id") >= 3)
          .select(col("vec_id"), col("label"), col("embedding").as("v"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        val a = e.filter(col("vec_id") < 23)
          .select(col("vec_id").as("anchor"), col("label").as("albl"),
            col("v").as("av"), col("nrm").as("anrm"))
        def pick(sameLabel: Boolean, outId: String, outCos: String) = {
          val cond = if (sameLabel)
            col("label") === col("albl") && col("vec_id") =!= col("anchor")
          else col("label") =!= col("albl")
          // anchors are the bounded side — broadcast them so the corpus
          // is never exchanged (the label equi-join would otherwise
          // shuffle every embedding; 54.8 MB at 100×, 0 after this)
          pickMinByHash(broadcast(a).join(e, cond), outId, outCos)
        }
        pick(sameLabel = true, "pos_id", "pos_cos")
          .join(pick(sameLabel = false, "neg_id", "neg_cos"), "anchor")
          .orderBy("anchor")
      },
      """WITH e AS (
        |  SELECT vec_id, label, [cast(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings WHERE vec_id >= 3),
        |a AS (SELECT vec_id AS anchor, label AS albl, v AS av FROM e WHERE vec_id < 23),
        |pos AS (
        |  SELECT anchor, vec_id AS pos_id,
        |    round(list_dot_product(v, av) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))), 4) AS pos_cos,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY md5(cast(anchor AS VARCHAR) || '|' || cast(vec_id AS VARCHAR))) AS rk
        |  FROM a JOIN e ON e.label = a.albl AND e.vec_id <> a.anchor),
        |neg AS (
        |  SELECT anchor, vec_id AS neg_id,
        |    round(list_dot_product(v, av) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))), 4) AS neg_cos,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY md5(cast(anchor AS VARCHAR) || '|' || cast(vec_id AS VARCHAR))) AS rk
        |  FROM a JOIN e ON e.label <> a.albl)
        |SELECT p.anchor, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
        |FROM pos p JOIN neg n ON p.anchor = n.anchor AND p.rk = 1 AND n.rk = 1
        |ORDER BY p.anchor""".stripMargin),

    // -- the 100 TB negative source for contrastive mining: instead of
    //    anchors × the whole cross-label corpus, candidates come from a
    //    DETERMINISTIC hash-sampled pool (~20%: md5('negpool|'||vec_id)
    //    mod 5 — content-addressed like split/shard assignment, so the
    //    pool is stable across runs and engines and the oracle replays
    //    it exactly). The pool is corpus-rate-sized and broadcast: the
    //    join is map-side, no shuffle of the corpus, and the md5-rank
    //    winner falls out of the same min_by aggregation — anchors ×
    //    pool replaces anchors × corpus, collapsing the quadratic term
    //    by the sample rate while keeping selection seedless ------------
    ("q_contrastive_sampled",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings").filter(col("vec_id") >= 3)
          .select(col("vec_id"), col("label"), col("embedding").as("v"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        val a = e.filter(col("vec_id") < 23)
          .select(col("vec_id").as("anchor"), col("label").as("albl"),
            col("v").as("av"), col("nrm").as("anrm"))
        val pool = e.filter(
          conv(substring(md5(concat(lit("negpool|"),
            col("vec_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 5 === 0)
        pickMinByHash(a.join(broadcast(pool), col("label") =!= col("albl")),
          "neg_id", "neg_cos")
          .orderBy("anchor")
      },
      """WITH e AS (
        |  SELECT vec_id, label, [cast(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings WHERE vec_id >= 3),
        |a AS (SELECT vec_id AS anchor, label AS albl, v AS av FROM e WHERE vec_id < 23),
        |pool AS (SELECT * FROM e
        |  WHERE ('0x'||substr(md5('negpool|'||cast(vec_id AS VARCHAR)),1,15))::BIGINT % 5 = 0),
        |neg AS (
        |  SELECT anchor, vec_id AS neg_id,
        |    round(list_dot_product(v, av) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))), 4) AS neg_cos,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY md5(cast(anchor AS VARCHAR) || '|' || cast(vec_id AS VARCHAR))) AS rk
        |  FROM a JOIN pool ON pool.label <> a.albl)
        |SELECT anchor, neg_id, neg_cos FROM neg WHERE rk = 1
        |ORDER BY anchor""".stripMargin)
  )

  /** Per-anchor winner under the deterministic md5 rank, as ONE hash
    * aggregation: `min_by` over a struct carrying the candidate id and its
    * cosine. Partial (map-side) aggregation reduces each task to one
    * candidate per anchor before the exchange and nothing ever sorts —
    * the `row_number` window this replaced sorted every anchor's FULL
    * candidate set with parallelism bounded by the anchor count (the
    * round-10 suite's worst 100× scaling row; see SCALE.md round 11).
    * Expects the joined frame's columns: anchor, vec_id, v, nrm, av, anrm.
    */
  private def pickMinByHash(cands: DataFrame, outId: String,
      outCos: String): DataFrame =
    cands
      .select(col("anchor"),
        md5(concat_ws("|", col("anchor").cast("string"),
          col("vec_id").cast("string"))).as("__rk"),
        struct(col("vec_id").as("id"),
          round(vecDot(col("v"), col("av")) / (col("nrm") * col("anrm")), 4)
            .as("cos")).as("__cand"))
      .groupBy("anchor")
      .agg(min_by(col("__cand"), col("__rk")).as("__w"))
      .select(col("anchor"), col("__w")("id").as(outId),
        col("__w")("cos").as(outCos))

  /** The e/c0/d_i/a_i/m_i/c_i CTE chain mirroring Lloyd.train term for
    * term: quantize (floor of the identical IEEE double product), init =
    * k smallest vec_ids, per round argmin assignment (ties to the smallest
    * cluster — the `ORDER BY dist, cl` row_number matches NearestCentroid's
    * strict `<`), exact truncating-division means (DuckDB's `//` truncates
    * toward zero like Spark's `div` — verified on negatives), empty
    * clusters carry their centroid with n = 0.
    */
  private def kmeansIterCte(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""d$i AS (
       |  SELECT e.vec_id, e.q, c.cl,
       |    cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${KmDim + 1}) ]) AS BIGINT) AS dist
       |  FROM e CROSS JOIN $prev c),
       |a$i AS (
       |  SELECT vec_id, q, cl FROM (
       |    SELECT vec_id, q, cl, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk FROM d$i)
       |  WHERE rk = 1),
       |m$i AS (
       |  SELECT cl, pos, cast(sum(val) // count(*) AS BIGINT) AS cval, count(*) AS n
       |  FROM (SELECT cl, unnest(q) AS val, unnest(range(0, $KmDim)) AS pos FROM a$i)
       |  GROUP BY 1, 2),
       |c$i AS (
       |  SELECT cl, list(cval ORDER BY pos) AS c, any_value(n) AS n FROM m$i GROUP BY 1
       |  UNION ALL
       |  SELECT cl, c, 0 AS n FROM $prev WHERE cl NOT IN (SELECT cl FROM a$i))""".stripMargin
  }

  private lazy val kmeansCtes: String =
    s"""WITH e AS (
       |  SELECT vec_id, [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding ] AS q
       |  FROM embeddings WHERE vec_id >= 3),
       |c0 AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, q AS c, cast(0 AS BIGINT) AS n
       |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT $KmK)),
       |${(1 to KmIters).map(kmeansIterCte).mkString(",\n")}""".stripMargin

  // -- PQ oracle: per-subspace replay of the SAME exact-integer Lloyd
  //    recurrence (kmeansIterCte's structure with subspace-suffixed CTE
  //    names and the sliced, PqSub-dim vectors), then codes, per-query
  //    ADC lookup tables, and the table-lookup distance sum ------------

  /** One subspace's e/c0 + unrolled iteration CTEs over the sliced
    * embedding (`embedding[lo:hi]`, DuckDB 1-based inclusive slice —
    * matching Spark's `slice(vec, j*sub+1, sub)`).
    */
  private def pqSubCtes(j: Int): String = {
    val lo = j * PqSub + 1
    val hi = (j + 1) * PqSub
    val init =
      s"""e$j AS (
         |  SELECT vec_id, [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding[$lo:$hi] ] AS q
         |  FROM embeddings WHERE vec_id >= 3),
         |c${j}_0 AS (
         |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, q AS c, cast(0 AS BIGINT) AS n
         |  FROM (SELECT vec_id, q FROM e$j ORDER BY vec_id LIMIT $PqKs))""".stripMargin
    val iters = (1 to PqIters).map { i =>
      val prev = s"c${j}_${i - 1}"
      s"""d${j}_$i AS (
         |  SELECT e.vec_id, e.q, c.cl,
         |    cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${PqSub + 1}) ]) AS BIGINT) AS dist
         |  FROM e$j e CROSS JOIN $prev c),
         |a${j}_$i AS (
         |  SELECT vec_id, q, cl FROM (
         |    SELECT vec_id, q, cl, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk FROM d${j}_$i)
         |  WHERE rk = 1),
         |m${j}_$i AS (
         |  SELECT cl, pos, cast(sum(val) // count(*) AS BIGINT) AS cval, count(*) AS n
         |  FROM (SELECT cl, unnest(q) AS val, unnest(range(0, $PqSub)) AS pos FROM a${j}_$i)
         |  GROUP BY 1, 2),
         |c${j}_$i AS (
         |  SELECT cl, list(cval ORDER BY pos) AS c, any_value(n) AS n FROM m${j}_$i GROUP BY 1
         |  UNION ALL
         |  SELECT cl, c, 0 AS n FROM $prev WHERE cl NOT IN (SELECT cl FROM a${j}_$i))""".stripMargin
    }
    (init +: iters).mkString(",\n")
  }

  /** Exact-cosine re-rank of a `(qid, vec_id)` shortlist to top `k` —
    * the shared tail of q_ann_pq / q_ann_ivfpq: the shortlist (queries ×
    * shortlist-size rows) broadcasts, the corpus side is filtered
    * map-side and never exchanged; ranking on the RAW cosine, rounding
    * only in the output (the rk-boundary tie convention of the other ANN
    * gates). `def`, not `val`: `entries` evaluates at object init.
    */
  private def rerankShortlist(emb: DataFrame, short: DataFrame,
      k: Int): DataFrame = {
    val ce = emb.filter(col("vec_id") >= 3)
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
    val qv = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
    ce.join(broadcast(short), "vec_id").join(broadcast(qv), "qid")
      .select(col("qid"), col("vec_id"),
        (vecDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cos_raw"))
      .withColumn("rk", row_number().over(
        w.partitionBy("qid").orderBy(desc("cos_raw"), asc("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy("qid", "vec_id")
  }

  /** [[rerankShortlist]]'s oracle twin: the ce/qvv/scored/ranked tail
    * shared verbatim by the q_ann_pq and q_ann_ivfpq SQL (expects an
    * upstream CTE `short(qid, vec_id)`).
    */
  private def rerankSqlTail: String =
    """ce AS (SELECT vec_id, [ cast(x AS DOUBLE) for x in embedding ] AS v
      |       FROM embeddings WHERE vec_id >= 3),
      |qvv AS (SELECT vec_id AS qid, [ cast(x AS DOUBLE) for x in embedding ] AS qv
      |        FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT s.qid, s.vec_id,
      |    list_dot_product(ce.v, qvv.qv) /
      |      (sqrt(list_dot_product(ce.v, ce.v)) * sqrt(list_dot_product(qvv.qv, qvv.qv))) AS cos
      |  FROM short s JOIN ce ON ce.vec_id = s.vec_id JOIN qvv ON qvv.qid = s.qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT qid, vec_id, round(cos, 4) AS cos FROM ranked WHERE rk <= 5
      |ORDER BY qid, vec_id""".stripMargin

  /** One subspace's final code assignment + per-query ADC lookup rows. */
  private def pqCodeLutCtes(j: Int): String = {
    val lo = j * PqSub + 1
    val hi = (j + 1) * PqSub
    s"""asn$j AS (
       |  SELECT vec_id, cl AS code FROM (
       |    SELECT e.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        cast(list_sum([ (e.q[i]-c.c[i])*(e.q[i]-c.c[i]) for i in range(1, ${PqSub + 1}) ]) AS BIGINT), c.cl) AS rk
       |    FROM e$j e CROSS JOIN c${j}_$PqIters c) WHERE rk = 1),
       |qq$j AS (
       |  SELECT vec_id AS qid, [ cast(floor(cast(x AS DOUBLE) * $KmQuant) AS BIGINT) for x in embedding[$lo:$hi] ] AS q
       |  FROM embeddings WHERE vec_id < 3),
       |lut$j AS (
       |  SELECT qq.qid, c.cl,
       |    cast(list_sum([ (qq.q[i]-c.c[i])*(qq.q[i]-c.c[i]) for i in range(1, ${PqSub + 1}) ]) AS BIGINT) AS d
       |  FROM qq$j qq CROSS JOIN c${j}_$PqIters c)""".stripMargin
  }
}
