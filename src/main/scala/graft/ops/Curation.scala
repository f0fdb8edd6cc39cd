package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators as a reusable library: deterministic
  * sampling, token-budget packing, curriculum tiers, chunking, and
  * benchmark decontamination. Each mirrors an oracle-verified query in
  * graft.queries.TrainOps (equality asserted in CurationSpec) — the query
  * inventory proves correctness against DuckDB, this module is the API a
  * pipeline composes.
  *
  * All operators are rand()-free: "random" orders come from hashes and
  * weighted selection from integer systematic sampling, so a re-run over
  * the same corpus reproduces the same output — a hard requirement for
  * auditable training-data lineage.
  */
object Curation {

  /** Exactly-k docs per stratum, chosen by deterministic md5-hash order.
    * Plans as WindowGroupLimit (bounded heap per partition, no global
    * sort).
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Weight-proportional systematic sample: a row is selected iff its
    * weight interval [cum-w, cum) crosses a multiple of the per-stratum
    * step (stratum total / target). Selection probability ∝ weight, zero
    * randomness; integer weights keep both the prefix sums and the
    * crossings exact.
    */
  def weightedSample(df: DataFrame, strataCol: String, idCol: String,
      weightCol: String, targetPerStratum: Long): DataFrame = {
    val weighted = df.withColumn("__w", col(weightCol).cast("long"))
    val totals = weighted.groupBy(strataCol)
      .agg(sum(col("__w")).as("__tot"))
      .withColumn("__step", greatest(expr(s"__tot div ${targetPerStratum}L"), lit(1L)))
      .select(strataCol, "__step")
    val w = Window.partitionBy(strataCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weighted
      .withColumn("__cum", sum(col("__w")).over(w))
      // hint-free: totals is one row per stratum, AQE broadcasts it on its
      // own — same convention as the dedup verify joins
      .join(totals, strataCol)
      .filter(expr("(__cum - __w) div __step") < expr("__cum div __step"))
      .drop("__w", "__cum", "__step")
  }

  /** Greedy fixed-budget shard assignment from the exclusive running total
    * of `weightCol` (token counts), per packing unit: adds a `shard`
    * column. The window distributes across units; rows keep their order.
    */
  def packByBudget(df: DataFrame, unitCol: String, orderCol: String,
      weightCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(unitCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(col(weightCol).cast("long")).over(w), lit(0L)))
      .withColumn("shard", expr(s"__before div ${budget}L"))
      .drop("__before")
  }

  /** Equal-count curriculum tiers per stratum over `scoreCol` (ties broken
    * by `idCol` for determinism): adds a `tier` column in 1..nTiers.
    */
  def curriculumTiers(df: DataFrame, strataCol: String, scoreCol: String,
      idCol: String, nTiers: Int): DataFrame =
    df.withColumn("tier", ntile(nTiers).over(
      Window.partitionBy(strataCol).orderBy(col(scoreCol), col(idCol))))

  /** Overlapping fixed-width character chunks of `textCol`: one output row
    * per chunk with `chunk_start` (1-based) and `chunk` columns. Map-only;
    * fan-out = ceil(len/stride) per row.
    */
  def chunk(df: DataFrame, textCol: String, width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    df.filter(length(col(textCol)) > 0)
      .withColumn("chunk_start",
        explode(sequence(lit(1), length(col(textCol)), lit(stride))))
      .withColumn("chunk", substring(col(textCol), col("chunk_start"), lit(width)))
  }

  /** Repeat each row `factors(key)` times (default 1) — deterministic
    * mixture upsampling (high-quality sources seen multiple epochs). Adds
    * an `epoch` column in 1..factor; fan-out bounded by the factor table.
    */
  def upsampleMixture(df: DataFrame, keyCol: String,
      factors: Map[String, Int]): DataFrame = {
    require(factors.values.forall(_ >= 1), "factors must be >= 1")
    val rep = factors.foldLeft(lit(1)) { case (acc, (k, f)) =>
      when(col(keyCol) === k, f).otherwise(acc)
    }
    df.withColumn("epoch", explode(sequence(lit(1), rep)))
  }

  /** End-to-end dedup APPLY: near-dup pairs → full cluster closure
    * (ConnectedComponents star contraction) → drop every cluster member
    * except the minimum id → the filtered corpus. This is the step after
    * any pair-producing pass (MinHash, SimHash, semantic): unlike keeping
    * "rows absent from the pair list", it correctly keeps exactly ONE doc
    * per transitive cluster — a-b + b-c drops b AND c, never strands c
    * because it only paired with b. The drop list is one id per duplicate
    * (small vs the corpus) and anti-joins against it.
    */
  def applyDedup(corpus: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    val comp = ConnectedComponents.components(pairs, aCol, bCol)
    val drop = comp.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  /** Docs of `corpus` sharing at least `minShared` distinct n-gram shingles
    * with `benchmark` (benchmark-overlap decontamination). The benchmark's
    * distinct shingles broadcast; candidate pairs exist only where a
    * shingle co-occurs. Returns (idCol, n_shared).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 5, minShared: Long = 1L): DataFrame = {
    def sh(df: DataFrame): DataFrame = df.select(col(idCol),
      graft.functions.ShingleExpr.wordShingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // hint-free: benchmarks are usually tiny and AQE broadcasts them on its
    // own, but a forced broadcast() would OOM the build side if a caller
    // points this at a corpus-sized "benchmark" — same treatment as the
    // verified-MinHash semi-join.
    val bench = sh(benchmark).select(explode(col("__sh")).as("__g")).distinct()
    sh(corpus).select(col(idCol), explode(col("__sh")).as("__g"))
      .join(bench, "__g")
      .groupBy(idCol)
      .agg(countDistinct(col("__g")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Quality-ordered token-budget cut: keep documents in (scoreCol DESC,
    * idCol ASC) order while the running token total stays ≤ budget — "take
    * the best B tokens", the final selection step of a data-mixture build.
    *
    * The naive form is a global-ORDER-BY window — a single-partition
    * exchange that serializes the whole corpus through one task at scale.
    * (A spark_partition_id-partitioned window doesn't help either: the
    * window's hash-distribution requirement inserts a SECOND full-data
    * exchange on top of the range one.) Instead: ONE range exchange on the
    * sort key (each partition owns a contiguous score range, rows sorted
    * within), then the classic two-phase prefix sum as per-partition
    * imperative logic — pass 1 collects one token total per partition
    * (bounded by cluster width, not data), the driver prefix-sums them into
    * offsets, pass 2 streams each partition adding its offset and STOPS at
    * the first row past the budget (partitions wholly past the cut emit
    * nothing). Both passes map over the same RDD instance, so the shuffle
    * output — and with it the partition layout — is normally computed once
    * and reused. Shuffle reuse is best-effort, though: an executor lost
    * between the passes recomputes its partitions, and the two passes then
    * agree only because the range-partitioned sort key (scoreCol desc,
    * idCol asc) is a TOTAL order — recomputation reproduces the identical
    * layout. Any caller adapting this two-pass pattern to a non-total
    * ordering must persist() the shuffled RDD across the passes instead
    * (same caveat noted on StatsOps.exactPercentiles).
    *
    * Adds `cum_tokens` (running total including the row itself).
    */
  def takeTokenBudget(df: DataFrame, scoreCol: String, idCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    val spark = df.sparkSession
    val ordered = df
      .repartitionByRange(col(scoreCol).desc, col(idCol).asc)
      .sortWithinPartitions(col(scoreCol).desc, col(idCol).asc)
    val tokIdx = ordered.schema.fieldIndex(tokenCol)
    val rdd = ordered.rdd
    val partSums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getAs[Number](tokIdx).longValue)
      Iterator((pid, s))
    }.collect().toMap
    val offsets = (0 until rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + partSums.getOrElse(p, 0L)).init.toArray
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = ordered.schema.add("cum_tokens",
      org.apache.spark.sql.types.LongType, nullable = false)
    val cut = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bOff.value(pid)
      if (acc > budget) Iterator.empty
      else it.map { r =>
        acc += r.getAs[Number](tokIdx).longValue
        (acc, r)
      }.takeWhile(_._1 <= budget)
        .map { case (cum, r) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cum)
        }
    }
    spark.createDataFrame(cut, outSchema)
  }
}
