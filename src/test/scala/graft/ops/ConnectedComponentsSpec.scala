package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

/** Star-contraction connected components vs a driver-side union-find on
  * graphs whose shapes stress the algorithm: long chains (the case
  * single-pass star grouping gets wrong), multiple mixed components, and
  * deterministic pseudo-random graphs, a hub with a chain through its
  * leaves, and the plan shape of one contraction round.
  */
class ConnectedComponentsSpec extends SparkSuite {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a long chain collapses to one component rooted at the minimum") {
    // 1-2-3-...-20 as a path: star grouping would leave interior links;
    // full CC must label every node 1
    val chain = (1L until 20L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got == (1L to 20L).map(_ -> 1L).toMap)
  }

  test("mixed components: chain + clique + isolated pair + self-dup edges") {
    val edges = Seq[(Long, Long)](
      (5, 6), (6, 7), (7, 8),          // chain -> 5
      (10, 11), (11, 12), (10, 12),    // triangle -> 10
      (20, 21), (21, 20),              // pair, both orientations -> 20
      (30, 30))                        // self-loop: no edge, node labels itself
    val got = run(edges)
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("deterministic pseudo-random graphs match union-find") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(run(edges) == unionFind(edges), s"seed=$seed")
    }
  }

  test("non-integral id columns are rejected, not silently nulled") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.components(
        Seq(("doc-1", "doc-2")).toDF("a", "b"), "a", "b")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("empty pair set yields empty components") {
    import spark.implicits._
    assert(ConnectedComponents.components(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() == 0)
  }

  test("incremental batch == full rebuild: merges, extensions, untouched singletons") {
    import spark.implicits._
    // batch 1: {1,2} {5,6} {8,9} (three components)
    val b1 = Seq((1L, 2L), (5L, 6L), (8L, 9L))
    // batch 2: 2-3 extends {1,2}; 6-8 MERGES {5,6} with {8,9};
    // 10-10 self-pair introduces a new singleton; {1,2} untouched by merges
    val b2 = Seq((2L, 3L), (6L, 8L), (10L, 10L))
    val l1 = ConnectedComponents.components(b1.toDF("a", "b"), "a", "b")
    val inc = ConnectedComponents
      .incremental(l1, b2.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // components keeps self-pair nodes in the universe, so the full
    // rebuild carries 10 -> 10 too
    assert(inc == run(b1 ++ b2))
    // canonical min-ids survive: untouched {1,2} keeps component 1,
    // the merged component takes the global minimum 5
    assert(inc(3L) == 1L && inc(9L) == 5L && inc(10L) == 10L)
  }

  test("incremental random graphs, random batch splits, match union-find") {
    import spark.implicits._
    val n = 40
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val (b1, b2) = edges.partition(_ => rnd.nextBoolean())
      val l1 = ConnectedComponents.components(b1.toDF("a", "b"), "a", "b")
      val inc = ConnectedComponents
        .incremental(l1, b2.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == unionFind(edges), s"seed=$seed")
    }
  }

  test("incremental rejects non-integral new-pair ids like components does") {
    import spark.implicits._
    val l1 = ConnectedComponents.components(
      Seq((1L, 2L)).toDF("a", "b"), "a", "b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.incremental(l1,
        Seq(("x", "y")).toDF("a", "b"), "a", "b")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("one contraction round plans exactly 3 shuffle exchanges") {
    import spark.implicits._
    // large-star window, small-star window, small-star distinct; the
    // aggregate + join-back form ran 6 exchanges here (4 shuffles and the
    // 2 broadcasts AQE made of its joins)
    val round = ConnectedComponents.contract(Seq((2L, 1L), (3L, 2L)).toDF("u", "v"))
    assert(round.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet ==
      Set(2L -> 1L, 3L -> 1L))
    // the plan that ran, walked through its adaptive query stages
    val plan = round.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case x: Exchange => x }
    assert(exchanges.size == 3 && exchanges.forall(_.isInstanceOf[ShuffleExchangeExec]),
      plan.treeString)
  }

  test("a hub with a chain through some of its leaves matches union-find") {
    // hub 10000 linked to leaves 1000..2999; the chain 5-6-...-40 enters at
    // leaf 1500 and leaves at leaf 2999 towards 20000..20010; {7000, 7001}
    // stays apart
    val hub = (1000L to 2999L).map(l => (10000L, l))
    val chain = (5L until 40L).map(i => (i, i + 1)) ++
      Seq((40L, 1500L), (2999L, 20000L)) ++ (20000L until 20010L).map(i => (i + 1, i))
    val edges = hub ++ chain :+ ((7001L, 7000L))
    val got = run(edges)
    assert(got == unionFind(edges))
    assert(got(10000L) == 5L && got(20010L) == 5L && got(7001L) == 7000L)
  }

  test("incremental with no new pairs returns its input labels unchanged") {
    import spark.implicits._
    val l1 = ConnectedComponents.components(
      Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L)).toDF("a", "b"), "a", "b")
    val before = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = ConnectedComponents
      .incremental(l1, Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("maxIters = 1 on a 64-node chain fails loud instead of returning partial labels") {
    import spark.implicits._
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.components(chain, "a", "b", maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
