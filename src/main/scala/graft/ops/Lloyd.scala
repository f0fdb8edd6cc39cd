package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-arithmetic Lloyd's k-means over an embedding column — the codebook
  * trainer of vector curation (IVF cell lists for ANN, SemDeDup-style
  * cluster-then-dedup cells, coreset/stratum construction), here as the
  * third training loop the engine runs UNDER the hash-compare oracle gate
  * (with [[Graph.pageRank]] and [[Bpe.train]]): every step is integer
  * arithmetic, so the trained model — not just its downstream use — is
  * exactly reproducible across engines, partitionings and reruns.
  *
  * Why exact: float k-means results depend on reduction order (both the
  * per-cluster mean and the distance comparisons), so two runs of the same
  * job on the same data can assign boundary points differently — a
  * retry-resume hazard for a 100 TB pipeline that wants the codebook to be
  * a stable content key. Quantizing to integer units (`floor(x · quant)`,
  * exact on IEEE doubles) makes distances exact long sums and means exact
  * truncating divisions; ties break toward the smallest cluster id.
  *
  * Scale shape (the MLlib architecture, kept deliberately): per iteration
  * ONE scan of the quantized corpus — assignment via the codegen'd
  * [[graft.functions.NearestCentroid]] kernel (k×dim multiplies in a fused
  * loop, no per-row allocation) — feeding a (cluster, pos) partial-agg
  * whose shuffle is k×dim rows after map-side combine, then k×dim longs to
  * the driver for the update. The corpus is localCheckpoint'ed once; the
  * model is O(k·dim) and broadcasts as a literal into the next round's
  * kernel. Nothing data-sized ever reaches the driver.
  */
object Lloyd {

  /** A trained codebook: `centroids(j)(i)` in quantized integer units,
    * `sizes(j)` = points assigned to j at the LAST iteration (0 for a
    * cluster that went empty — its centroid is carried forward unchanged).
    */
  final case class Model(centroids: Array[Array[Long]], sizes: Array[Long],
      quant: Long) {
    def k: Int = centroids.length
    def dim: Int = centroids.head.length
  }

  /** `(id, q)` with q = floor(vec · quant) per component as array<bigint>.
    * float→double is exact and the double multiply is correctly rounded
    * identically in any IEEE engine, so quantization never disagrees.
    */
  def quantize(points: DataFrame, idCol: String, vecCol: String,
      quant: Long): DataFrame =
    points.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(quant.toDouble))).as("q"))

  /** Train `k` centroids by `iters` Lloyd rounds. Init = the `k` rows with
    * the smallest id (deterministic, engine-replayable); update = exact
    * component-wise `sum div n` (truncation toward zero — DuckDB's `//`
    * agrees); a cluster with no points keeps its previous centroid.
    */
  def train(points: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, quant: Long = 1000000L): Model = {
    require(k >= 1 && iters >= 1, "kMeans: k and iters must be >= 1")
    val q = quantize(points, idCol, vecCol, quant).localCheckpoint(true)
    // orderBy + limit + collect returns rows IN sort order (GlobalLimit
    // preserves it) — cluster j is the j-th smallest id for ANY orderable
    // id type, no driver-side re-sort (a hashCode re-sort would scramble
    // string ids)
    val init = q.orderBy(col("id")).limit(k).collect()
    require(init.length == k, s"kMeans: need >= $k points, got ${init.length}")
    var cents: Array[Array[Long]] =
      init.map(_.getSeq[Long](1).toArray)
    var sizes: Array[Long] = Array.fill(k)(0L)
    for (_ <- 1 to iters) {
      val assigned = q.withColumn("cluster",
        graft.functions.VectorExprs.nearestCentroid(col("q"), cents))
      val sums = assigned
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val newC = cents.map(_.clone())
      val newN = Array.fill(k)(0L)
      sums.foreach { r =>
        val cl = r.getInt(0)
        val pos = r.getInt(1)
        newC(cl)(pos) = r.getLong(2) / r.getLong(3)
        newN(cl) = r.getLong(3)
      }
      cents = newC
      sizes = newN
    }
    Model(cents, sizes, quant)
  }

  /** Per-point cell assignment under a trained model: `(id, cluster)`.
    * One scan through the same codegen'd kernel training used — this is
    * the IVF "write each vector to its cell" pass.
    */
  def assign(points: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    quantize(points, idCol, vecCol, model.quant)
      .select(col("id"),
        graft.functions.VectorExprs.nearestCentroid(col("q"), model.centroids)
          .cast("long").as("cluster"))

  /** The model exploded relationally: one row per (cluster, component) with
    * the last-iteration cluster size alongside — the shape the oracle gate
    * hash-compares and a catalog would persist.
    */
  def centroidsDf(spark: SparkSession, model: Model): DataFrame = {
    val rows = for {
      j <- model.centroids.indices
      i <- 0 until model.dim
    } yield Row(j.toLong, model.sizes(j), i.toLong, model.centroids(j)(i))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cval",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
