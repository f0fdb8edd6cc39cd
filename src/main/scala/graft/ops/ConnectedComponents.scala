package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the cluster-closure
  * step of large-scale dedup. MinHash/SimHash/semantic passes emit PAIRS;
  * grouping them into components is what turns "a~b, b~c" into one cluster
  * with one canonical representative (the min id), including chains the
  * single-pass star grouping in Similarity.semanticDedup deliberately
  * approximates away.
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014); the
  * edge set converges to per-component stars rooted at the component
  * minimum in O(log n) rounds in practice. Each phase needs one minimum
  * per node, taken as `min(v) over (partition by u)` on the rows already
  * shuffled by `u`, so the edges carry their node's minimum without an
  * aggregate joined back to them. One round runs THREE shuffles: the
  * large-star window, the small-star window and small-star's `distinct`.
  * No per-node adjacency is materialized (no collect_list), so a round
  * shuffles O(|E|) tuples of two longs. Skew: a hub's edges all meet in one window partition, as
  * they met in one join partition before; the window's row buffer spills
  * to disk rather than holding the hub in memory. An iterative min-label
  * propagation would need O(diameter) rounds; star contraction collapses
  * long chains exponentially.
  *
  * Convergence is detected by an order-insensitive edge-set checksum
  * (count + sum of xxhash64(u, v)), observed on the per-round checkpoint
  * job itself (no separate probe job); intermediate edge sets are
  * persisted per round and the previous round unpersisted.
  */
object ConnectedComponents {

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its neighborhood and itself. Input/output edges oriented
    * big → small. One shuffle (the window). The output may repeat an edge;
    * small-star's minimum ignores repeats and its `distinct` drops them.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    sym.select(col("u"), col("v"),
        least(min(col("v")).over(Window.partitionBy("u")), col("u")).as("m"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node connects its SMALLER neighbors (and itself) to
    * the smallest of them. Requires big → small orientation, preserves it.
    * Both edge kinds, (v, m) and (u, m), come out of one projection; two
    * shuffles (the window, then the `distinct` that makes the edge set a
    * set again before the checksum).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    e.select(col("u"), col("v"), min(col("v")).over(Window.partitionBy("u")).as("m"))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u"), col("m").as("v")))).as("e"))
      .select("e.*")
      .filter(col("u") =!= col("v")).distinct()
  }

  /** One contraction round: large-star, then small-star (three shuffles). */
  private[ops] def contract(e: DataFrame): DataFrame = smallStar(largeStar(e))

  /** Order-insensitive edge-set fingerprint: (|E|, Σ xxhash64(u, v) mod p).
    * The hash is bounded below 2³⁰ before summing so the sum cannot
    * overflow a long (ANSI mode throws on overflow) until ~2³³ edges,
    * far past any converged star forest this runs on.
    *
    * Computed as OBSERVED metrics of the per-round checkpoint job itself
    * ([[Ckpt.withMetrics]], optimization round 16): the old shape paid a
    * second full job per round just to re-aggregate the rows the
    * checkpoint had just materialized — one job per contraction round
    * instead of two, same exact values.
    */
  private def checkpointWithChecksum(e: DataFrame): (DataFrame, (Long, Long)) = {
    val (out, m) = Ckpt.withMetrics(e, Seq(
      count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))),
        lit(0L)).as("h")))
    (out, (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
  }

  /** Component label (the minimum member id) for every node appearing in
    * `pairs`. Returns (idCol, component) rows; singleton nodes of the pair
    * graph label themselves (a node only appears if it is in some pair).
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    // ids must be integral: the silent alternative (cast to long) would
    // null out string/UUID ids under non-ANSI mode and collapse the edge
    // set to empty — applyDedup would then "deduplicate" nothing, quietly.
    // Map non-numeric ids through a dense-rank or xxhash64 surrogate first.
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq("bigint", "int", "smallint", "tinyint").contains(dt.simpleString),
        s"components: id column '$c' must be integral, got ${dt.simpleString} — " +
          "assign a surrogate id (dense_rank or xxhash64) before closing pairs")
    }
    // materialize the pair list ONCE: the caller's pair subplan is often
    // expensive (an inverted-index similarity join), and this function
    // reads it for the edge set AND twice for the node universe — without
    // this checkpoint the subplan would execute three times
    val p0 = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint(true)
    val e0 = p0
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // Each round MUST truncate lineage, not just cache: persist shortcuts
    // execution but the logical plan still nests the whole iteration
    // history, so analysis/explain grow exponentially with rounds. An eager
    // localCheckpoint rebases the plan on the materialized partitions
    // (blocks are reclaimed by the ContextCleaner once a round's frame is
    // unreferenced); on a cluster with lossy executors use reliable
    // checkpoint dirs instead.
    var (edges, sig) = checkpointWithChecksum(e0)
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val (next, nextSig) = checkpointWithChecksum(contract(edges))
      // checksum equality is probabilistic; this path's whole point is
      // EXACT cluster closure, so confirm with a set-equality check on the
      // two (converged, tiny, already-materialized) frames. Both are
      // deduplicated (distinct), and the checksum's count component already
      // matched, so equal cardinality + one empty one-sided exceptAll
      // proves set equality in a single distributed action. Runs only on
      // checksum match — once per call in the common case — and turns a
      // hash collision from silent wrong labels into one extra round.
      converged = nextSig == sig && next.exceptAll(edges).isEmpty
      edges = next
      sig = nextSig
      iters += 1
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    // at convergence the edge set is a star forest (u, root); nodes absent
    // as a star leaf are component roots and label themselves
    val nodes = p0.select(col("a").as("id"))
      .union(p0.select(col("b").as("id"))).distinct()
    nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Incremental maintenance: fold a batch of NEW pairs into an existing
    * labeling without re-deriving the old graph. The prior labels enter as
    * (id → component) star edges — a spanning contraction of everything
    * already merged, so closing `labelEdges ∪ newPairs` yields exactly the
    * components of `oldPairs ∪ newPairs` (hash-proven against the full
    * recompute by q_cc_incremental). Component ids stay canonical: the old
    * label IS the component minimum, so an untouched component keeps its
    * id and merged components take the global minimum, same as a rebuild.
    *
    * The 100 TB point is what this SKIPS: the pair GENERATION for old
    * documents (the expensive similarity join) is never redone, the input
    * graph shrinks from all historical pairs to one star edge per old
    * node, and star forests re-converge in O(1) contraction rounds — so
    * per-batch cost follows the batch, not the corpus history. Singleton
    * labels (component == id) ride through as self-edges `components`
    * already tolerates, and stay in the output.
    */
  def incremental(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 50): DataFrame = {
    // same integral-id guard as components — casting first would silently
    // null out string ids before the guard could see them
    Seq(aCol, bCol).foreach { c =>
      val dt = newPairs.schema(c).dataType
      require(Seq("bigint", "int", "smallint", "tinyint").contains(dt.simpleString),
        s"incremental: id column '$c' must be integral, got ${dt.simpleString}")
    }
    val labelEdges = labels
      .select(col("id").cast("long").as(aCol), col("component").cast("long").as(bCol))
    components(
      labelEdges.unionByName(
        newPairs.select(col(aCol).cast("long").as(aCol),
          col(bCol).cast("long").as(bCol))),
      aCol, bCol, maxIters)
  }
}
