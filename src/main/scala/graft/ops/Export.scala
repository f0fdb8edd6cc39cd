package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-export operators: the last mile between a curated corpus and
  * the trainer — leakage-free splits, a deterministic global shuffle, and
  * balanced shard assignment. All three are pure plan transformations
  * (no RNG state, no driver-side materialization beyond one
  * #partitions-row collect), so they run identically on 500 rows or 100 TB
  * and replay bit-identically under the DuckDB oracle gate (SinkOps-style
  * md5 derivations).
  *
  * Reference scope: pandas-db hands data out via to_df/iteration
  * (table.py); producing TRAINING shards from a curated table is the
  * pipeline layer this engine adds on top.
  */
object Export {

  /** Content-stable hash bucket in [0, 100): md5 of (id | salt), first 8
    * hex digits. Same id + salt → same bucket on any engine, any run, any
    * partitioning — the property that keeps a train/val/test split
    * leakage-free across reprocessing runs that reorder or re-partition
    * the corpus (a rand()-based split re-deals membership every run).
    */
  def hashBucket(id: Column, salt: String): Column =
    pmod(conv(substring(md5(concat(id.cast("string"), lit("|" + salt))), 1, 8),
      16, 10).cast("long"), lit(100L))

  /** Add a `split` column: train/val/test at (trainPct, valPct, rest). */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val b = hashBucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainPct, "train").when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic global shuffle key: sorting by it yields a seeded
    * pseudo-random training order as a plain distributed sort — no RNG
    * state, no single point of serialization, stable across retries
    * (a task that recomputes after an executor loss re-derives the same
    * order, which `orderBy(rand())` does not guarantee).
    */
  def shuffleKey(id: Column, seed: Long): Column =
    md5(concat(id.cast("string"), lit("|shuffle" + seed)))

  /** Re-shard by SIZE: pack rows, in `orderCols` order (must be a total
    * order), into consecutive shards of ~`targetBytes` by the exclusive
    * running total of `sizeCol` — shard = before div targetBytes. The
    * rebalancing pass a shard store needs when upstream batches left it
    * fragmented into many small archives (WebDataset-style training reads
    * want few large sequential shards, not thousands of KB-sized ones) —
    * write the result through `graft-tar` with
    * `shard_file = concat("shard-", shard, ".tar")`.
    *
    * Every shard except the last lands in (targetBytes − maxRow,
    * targetBytes + maxRow): the greedy order-preserving packing, exactly
    * the assignment a single-threaded repacker would produce, but
    * computed distributed via [[Curation.takeTokenBudget]]'s two-phase
    * prefix sum (one range exchange, a #partitions-row collect, no
    * global window, no one-task funnel). Deterministic given the total
    * order — SQL-replayable, retry-stable (same caveat as
    * takeTokenBudget: the order's totality is what makes recomputed
    * partitions reproduce the layout).
    */
  def reshardBySize(df: DataFrame, orderCols: Seq[Column], sizeCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val spark = df.sparkSession
    val ordered = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val sizeIdx = ordered.schema.fieldIndex(sizeCol)
    val rdd = ordered.rdd
    val partSums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getAs[Number](sizeIdx).longValue)
      Iterator((pid, s))
    }.collect().toMap
    val offsets = (0 until rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + partSums.getOrElse(p, 0L)).init.toArray
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = ordered.schema.add("shard",
      org.apache.spark.sql.types.LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var before = bOff.value(pid)
      it.map { r =>
        val shard = before / targetBytes
        before += r.getAs[Number](sizeIdx).longValue
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ shard)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Assign each row a shard in [0, nShards) by global rank over
    * `orderCols` (must be a total order), round-robin — so shard sizes
    * differ by at most one and, when ordered by a size proxy, shards are
    * balanced on it too.
    *
    * Global rank WITHOUT a global window (a no-partition `row_number()`
    * funnels the corpus through one task): range-repartition on the order,
    * count rows per partition (one #partitions-row collect), then rank =
    * partition offset + local index — Curation.takeTokenBudget's two-phase
    * scheme with row counts instead of token sums. Both passes map the
    * same shuffled RDD instance, so the sort is computed once.
    */
  def assignShards(df: DataFrame, orderCols: Seq[Column], nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val spark = df.sparkSession
    val ordered = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rdd = ordered.rdd
    val partCounts = rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator((pid, it.size.toLong))
    }.collect().toMap
    val offsets = (0 until rdd.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + partCounts.getOrElse(p, 0L)).init.toArray
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = ordered.schema.add("shard",
      org.apache.spark.sql.types.LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = bOff.value(pid)
      it.map { r =>
        val shard = rank % nShards
        rank += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ shard)
      }
    }
    spark.createDataFrame(out, outSchema)
  }
}
