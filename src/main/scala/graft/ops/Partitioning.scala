package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning strategies for shuffle elimination and skew resistance —
  * the knobs that matter most at 100 TB.
  *
  *  - [[saveBucketed]] / co-located joins: write both join sides bucketed by
  *    the join key into the session catalog; subsequent equi-joins on that
  *    key run WITHOUT an Exchange on either side (asserted in
  *    PartitioningSpec). On a real cluster this is the difference between a
  *    full-network shuffle of the fact table per join and a local merge.
  *  - [[saltedJoin]]: pre-AQE-style manual skew handling. A hot key floods
  *    one reduce partition; salting splits each big-side key into
  *    `saltFactor` subkeys and replicates the small side per salt, so the
  *    hot key spreads across `saltFactor` tasks. AQE's skew-join handles
  *    sort-merge cases adaptively; explicit salting still wins for
  *    extreme single-key skew and for broadcast-ineligible aggregations.
  */
object Partitioning {

  /** Write `df` as a bucketed+sorted catalog table (parquet). Joins between
    * tables bucketed on the same key with the same bucket count are
    * exchange-free. `path` makes it an EXTERNAL table (data at `path`,
    * bucket metadata in the session catalog) — callers that must keep the
    * bytes out of the warehouse dir (q_bucketed_join's tmp-rooted stores)
    * pass it; plain `saveAsTable` otherwise.
    */
  def saveBucketed(df: DataFrame, tableName: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    val w0 = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    val w1 = path.fold(w0)(p => w0.option("path", p))
    (if (sortCols.nonEmpty) w1.sortBy(sortCols.head, sortCols.tail: _*) else w1)
      .saveAsTable(tableName)
  }

  /** Equi-join two big DataFrames on `key` with the large side's hot keys
    * spread over `saltFactor` partitions: left gets a random salt in
    * [0, saltFactor); right is replicated once per salt value. Result equals
    * a plain inner join (asserted in PartitioningSpec).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 1, s"saltFactor must exceed 1, got $saltFactor")
    val saltedBig = big.withColumn("__salt",
      (rand(42) * saltFactor).cast("int"))
    val saltedSmall = small
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Range-partition + sort within partitions by `cols` — the layout for
    * downstream merge scans and min/max file skipping (write this layout
    * with `df.write.parquet` and parquet row-group stats prune on `cols`).
    */
  def sortedLayout(df: DataFrame, cols: Seq[String], partitions: Int): DataFrame =
    df.repartitionByRange(partitions, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** 16-bit Morton spread: the low 16 bits of `c` spaced out to even bit
    * positions, via the classic magic-mask shifts. Built entirely from
    * codegen'd built-ins — no UDF, no custom expression.
    */
  private def spreadBits16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-value (Morton code) of two columns normalized to 16-bit grid cells:
    * bits of `a` and `b` interleaved, so z-adjacent rows are close in BOTH
    * dimensions.
    */
  def zValue(a: Column, b: Column): Column =
    spreadBits16(a).bitwiseOR(shiftleft(spreadBits16(b), 1))

  /** Multi-dimensional clustering for file skipping: quantile-normalize two
    * numeric columns onto a 2^16 grid and sort the data by the interleaved
    * Z-value, range-partitioned into `partitions` output splits.
    *
    * A plain sort on (a, b) gives parquet min/max stats that prune only
    * `a`-predicates — for a b-only filter every file's b-range spans the
    * whole domain. The Z-layout bounds each file in BOTH dimensions, so box
    * queries prune on either/both (quantified in PartitioningSpec: per-file
    * min/max interval overlap vs the linear layout).
    *
    * Normalization is by RANK (approx-quantile bucket), not min/max
    * scaling: under skew a linear grid crowds most rows into a few low
    * cells and the top interleave bits carry no information, destroying
    * the curve's balance (Delta's OPTIMIZE ZORDER range-partition-ids by
    * the same reasoning). The boundary computation is one approxQuantile
    * pass (driver gets ≤256 doubles); everything per-row is codegen'd.
    * At 100 TB this runs at write/compaction time; every later scan
    * benefits.
    */
  def zOrderLayout(df: DataFrame, aCol: String, bCol: String,
      partitions: Int): DataFrame =
    curveLayout(df, aCol, bCol, partitions, zValue)

  /** Hilbert index on the 2^16 grid — [[zValue]]'s locality-preserving
    * sibling ([[graft.functions.HilbertIndex]]): consecutive indices are
    * always grid-adjacent, where the Z curve jumps at power-of-two seams,
    * so Hilbert-sorted files carry tighter 2-D bounding boxes
    * (quantified against the Z layout in PartitioningSpec; the curve
    * itself is cross-engine-pinned by q_hilbert's unrolled-CTE oracle).
    */
  def hilbertValue(a: Column, b: Column): Column =
    graft.functions.HilbertIndex.hilbert(a, b, 16)

  /** [[zOrderLayout]] with the Hilbert index as the clustering key —
    * identical quantile-normalization and range-partitioned write.
    */
  def hilbertLayout(df: DataFrame, aCol: String, bCol: String,
      partitions: Int): DataFrame =
    curveLayout(df, aCol, bCol, partitions, hilbertValue)

  /** The shared layout machinery behind [[zOrderLayout]] and
    * [[hilbertLayout]]: quantile-normalize both columns onto the 2^16
    * grid (256 approx-quantile buckets scaled up so both dims weigh
    * equally), compute the space-filling-curve index with `indexFn`, and
    * range-partition + sort by it.
    */
  private def curveLayout(df: DataFrame, aCol: String, bCol: String,
      partitions: Int, indexFn: (Column, Column) => Column): DataFrame = {
    def bucketed(d: DataFrame, in: String, out: String): DataFrame = {
      val qs = (1 until 256).map(_ / 256.0).toArray
      val bounds = d.stat.approxQuantile(in, qs, 0.001)
        .distinct.sorted
      val splits = (Double.NegativeInfinity +: bounds :+ Double.PositiveInfinity)
      val nb = splits.length - 1
      val b = new org.apache.spark.ml.feature.Bucketizer()
        .setInputCol(s"__cin_$in").setOutputCol(out).setSplits(splits)
      b.transform(d.withColumn(s"__cin_$in", col(in).cast("double")))
        .withColumn(out, floor(col(out).cast("long") * 65535L / lit(nb.toLong)).cast("long"))
        .drop(s"__cin_$in")
    }
    bucketed(bucketed(df, aCol, "__ca"), bCol, "__cb")
      .withColumn("__ci", indexFn(col("__ca"), col("__cb")))
      .repartitionByRange(partitions, col("__ci"))
      .sortWithinPartitions("__ci")
      .drop("__ca", "__cb", "__ci")
  }
}
