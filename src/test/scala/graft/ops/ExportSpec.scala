package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Structural assertions for the training-export operators; the md5
  * derivations themselves are cross-engine-pinned by ExportOps'
  * q_split_assign / q_shuffle_order / q_shard_assign oracles.
  */
class ExportSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("hashSplit is content-stable: same assignment regardless of partitioning") {
    val a = Export.hashSplit(docs.select("doc_id"), "doc_id", "s1")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Export.hashSplit(docs.select("doc_id").repartition(7).sortWithinPartitions(desc("doc_id")),
        "doc_id", "s1")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    // fractions in the right neighborhood (md5 is uniform; 80/10/10 ± slack)
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.65 && train < 0.95, s"train fraction $train far from 0.8")
    assert(a.values.toSet === Set("train", "val", "test"))
  }

  test("a different salt re-deals the split; the same salt never does") {
    val base = Export.hashSplit(docs.select("doc_id"), "doc_id", "s1")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val same = Export.hashSplit(docs.select("doc_id"), "doc_id", "s1")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val other = Export.hashSplit(docs.select("doc_id"), "doc_id", "s2")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(base === same)
    assert(base.exists { case (k, v) => other(k) != v }, "distinct salts should disagree somewhere")
  }

  test("shuffleKey order is a permutation and differs across seeds") {
    val ids = docs.select("doc_id")
    val o1 = ids.orderBy(Export.shuffleKey(col("doc_id"), 1L), col("doc_id"))
      .collect().map(_.getLong(0))
    val o2 = ids.orderBy(Export.shuffleKey(col("doc_id"), 2L), col("doc_id"))
      .collect().map(_.getLong(0))
    assert(o1.sorted.sameElements(o2.sorted), "both orders contain the same ids")
    assert(!o1.sameElements(o2), "different seeds give different orders")
    assert(!o1.sameElements(o1.sorted), "seeded order is not the natural order")
  }

  test("assignShards: sizes differ by at most one and match the window reference") {
    val n = 8
    val assigned = Export.assignShards(docs.select("doc_id", "n_chars"),
      Seq(col("n_chars").desc, col("doc_id").asc), n)
    val sizes = assigned.groupBy("shard").count().collect()
      .map(_.getLong(1))
    assert(sizes.length === n)
    assert(sizes.max - sizes.min <= 1, s"unbalanced shards: ${sizes.mkString(",")}")
    // semantic twin: no-partition window row_number (fine at spec scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.select("doc_id", "n_chars")
      .withColumn("shard", (row_number().over(w) - 1) % n)
      .select(col("doc_id"), col("shard").cast("long"))
    val got = assigned.select("doc_id", "shard")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("reshardBySize matches the window reference; shard sizes bounded by target + max row") {
    val target = 4096L
    val packed = Export.reshardBySize(docs.select("doc_id", "n_chars"),
      Seq(col("doc_id").asc), "n_chars", target)
    // semantic twin: exclusive running sum via a no-partition window
    // (fine at spec scale), shard = before div target
    val ref = docs.select("doc_id", "n_chars")
      .withColumn("shard",
        expr(s"coalesce(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN " +
          s"UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div ${target}L"))
    assert(packed.select("doc_id", "shard")
      .exceptAll(ref.select("doc_id", "shard")).isEmpty)
    // every shard except the last stays within target + one max row, and
    // shard ids are consecutive from 0
    val stats = packed.groupBy("shard")
      .agg(sum(col("n_chars").cast("long")).as("bytes"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val maxRow = docs.agg(max(col("n_chars").cast("long"))).head().getLong(0)
    assert(stats.map(_._1).toSeq === stats.indices.map(_.toLong))
    stats.dropRight(1).foreach { case (s, b) =>
      assert(b <= target + maxRow && b + maxRow >= target, s"shard $s: $b")
    }
    // determinism across partitionings (the total-order contract)
    val re = Export.reshardBySize(
      docs.select("doc_id", "n_chars").repartition(13),
      Seq(col("doc_id").asc), "n_chars", target)
    assert(packed.select("doc_id", "shard")
      .exceptAll(re.select("doc_id", "shard")).isEmpty)
  }

  test("reshardBySize rejects a non-positive target") {
    val e = intercept[IllegalArgumentException] {
      Export.reshardBySize(docs, Seq(col("doc_id")), "n_chars", 0L)
    }
    assert(e.getMessage.contains("positive"), e.getMessage)
  }
}
