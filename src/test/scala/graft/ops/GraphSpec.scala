package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[Graph.pageRank]] on tiny graphs with hand-checkable structure. The
  * cross-engine exactness claim is gated separately by q_pagerank's DuckDB
  * oracle; here: ordering, dangling handling, determinism, mass bounds.
  */
class GraphSpec extends SparkSuite {

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    Graph.pageRank(df, "src", "dst", iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("hub gets the highest rank; dangling mass is redistributed, not lost") {
    // 1,2,3 all point to 4; 4 points nowhere (dangling)
    val r = ranks(Seq((1L, 4L), (2L, 4L), (3L, 4L)))
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    assert(r(4L) > r(1L) && r(1L) === r(2L) && r(2L) === r(3L))
    // total mass stays within truncation loss of the scale: each of the
    // 4 nodes can lose <1 unit per div, a handful of divs per iteration
    val total = r.values.sum
    assert(total > 1000000000000L - 100L && total <= 1000000000000L)
  }

  test("symmetric cycle converges to uniform; parallel edges weight") {
    val cyc = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 5)
    assert(cyc.values.toSet.size === 1) // exactly equal by symmetry
    // doubling an edge shifts mass toward its target
    val par = ranks(Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)))
    assert(par(2L) > par(3L))
  }

  test("deterministic across reruns and repartitionings") {
    import spark.implicits._
    val edges = (1L to 400L).map(i => (i % 37, (i * i) % 37)).toDF("src", "dst")
    val a = Graph.pageRank(edges, "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRank(edges.repartition(7), "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
  }

  test("string node ids work unchanged (no silent cast)") {
    import spark.implicits._
    val df = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("s", "d")
    val r = Graph.pageRank(df, "s", "d", iters = 4).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.keySet === Set("a", "b", "c"))
    assert(r("c") > r("b")) // c has two in-routes, b one
  }

  /** Brute-force per-node triangle counts on the canonical simple graph:
    * count node triples with all three edges present.
    */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (p, q, r) = (nodes(i), nodes(j), nodes(k))
      if und((p, q)) && und((p, r)) && und((q, r))
    } yield Seq(p, q, r)
    tris.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("triangles matches brute force on random sparse graphs (incl. hubs, dups, self-loops)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 12 + trial * 3
      val base = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // a hub wired to everything, plus duplicate and reversed edges
      val edges = base ++ (1L until n.toLong).map(i => (0L, i)) ++
        base.take(10).map(_.swap) ++ Seq((3L, 3L))
      val got = Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteTriangles(edges), s"trial $trial")
    }
  }

  test("bfsLevels matches brute-force hop distances; unreached absent; bounded by iters") {
    import spark.implicits._
    // two components: a path 1-2-3-4-5-6 with a chord, and {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 4L), (10L, 11L))
    val got = Graph.bfsLevels(edges.toDF("src", "dst"), "src", "dst",
        org.apache.spark.sql.functions.lit(1L), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dist: 1→0, 2→1, 3→2, 4→2 (via chord), 5→3; 6 needs 4 hops (cut off
    // by iters=3); 10/11 unreachable
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
  }

  test("personalized PageRank concentrates mass near the seeds") {
    import spark.implicits._
    // two symmetric 3-cycles bridged by one edge; seed only in the first
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).flatMap(e => Seq(e, e.swap))
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        seeds, "node", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(3L) && r(3L) > r(5L),
      s"rank should decay with seed distance: $r")
    // integer mass bounded by the scale, never negative
    assert(r.values.forall(_ >= 0L) && r.values.sum <= 1000000000000L)
    // empty seed set fails fast
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq.empty[Long].toDF("node"), "node")
    }
  }

  test("kCore peels cascades: pendant chain dies round by round, clique survives") {
    import spark.implicits._
    def core(edges: Seq[(Long, Long)], k: Int, iters: Int): Map[Long, Long] =
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle {1,2,3} (every degree 2) + path 3-4-5-6 hanging off it.
    // k=2: only 6 (deg 1) dies in round 1; 5 drops to deg 1 and dies in
    // round 2; 4 in round 3 — a genuine cascade, one hop per round.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(edges, 2, 1).keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(core(edges, 2, 2).keySet === Set(1L, 2L, 3L, 4L))
    val done = core(edges, 2, 3)
    assert(done.keySet === Set(1L, 2L, 3L))
    assert(done.values.toSet === Set(2L)) // residual degrees: triangle only
    // k=3 kills everything (no node has 3 surviving neighbors)
    assert(core(edges, 3, 4) === Map.empty)
  }

  test("weightedPageRank: weight shifts mass; uniform weights track pageRank's order") {
    import spark.implicits._
    // 1 splits between 2 and 3, weight 9:1 — node 2 must far outrank 3
    val w = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.weightedPageRank(w, "src", "dst", "w")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > 3 * r(3L), r.toString)
    // total mass stays ~scale (truncation leaks ≤ a few units per node)
    assert(math.abs(r.values.sum - 1000000000000L) < 100L)
    // equal weights: same RANKING as pageRank on the simple-graph edges
    val simple = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val uni = Graph.weightedPageRank(
        simple.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
        "src", "dst", "w")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val pr = ranks(simple)
    assert(uni.toSeq.sortBy(-_._2).map(_._1) === pr.toSeq.sortBy(-_._2).map(_._1))
  }

  test("weightedPageRank guards: non-positive weight and overflow-scale weights fail loud") {
    import spark.implicits._
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val e1 = intercept[IllegalArgumentException] {
      Graph.weightedPageRank(bad, "src", "dst", "w")
    }
    assert(e1.getMessage.contains("positive"), e1.getMessage)
    val big = Seq((1L, 2L, Long.MaxValue / 1000L)).toDF("src", "dst", "w")
    val e2 = intercept[IllegalArgumentException] {
      Graph.weightedPageRank(big, "src", "dst", "w")
    }
    assert(e2.getMessage.contains("overflow"), e2.getMessage)
    // NULL weights (e.g. a non-castable weight column) must fail loud,
    // not silently vanish from the walk — sum() would skip them
    val withNull = Seq((1L, 2L, "3"), (2L, 1L, "oops")).toDF("src", "dst", "w")
    val e3 = intercept[IllegalArgumentException] {
      Graph.weightedPageRank(withNull, "src", "dst", "w")
    }
    assert(e3.getMessage.contains("NULL"), e3.getMessage)
  }

  test("sssp matches brute-force Dijkstra within the hop bound; parallel edges keep cheapest") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 10 + trial * 2
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
        1L + rnd.nextInt(9)))
      val iters = 4
      val got = Graph.sssp(edges.toDF("src", "dst", "w"), "src", "dst", "w",
          org.apache.spark.sql.functions.lit(0L), iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force: min cost over all paths of <= iters hops (symmetric)
      val sym = (edges ++ edges.map(e => (e._2, e._1, e._3)))
        .filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map { case (k, es) => (k._1, k._2, es.map(_._3).min) }
      var dist = Map(0L -> 0L)
      for (_ <- 1 to iters) {
        val relaxed = sym.flatMap { case (a, b, w) =>
          dist.get(a).map(da => b -> (da + w)) }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
        dist = (dist.toSeq ++ relaxed.toSeq).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      // both sides: node 0 at distance 0 plus everything reached in
      // <= iters relaxation rounds (self-loops never improve: w > 0)
      assert(got === dist, s"trial $trial")
    }
  }

  test("sssp refuses non-positive and NULL weights") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Graph.sssp(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), "src", "dst",
        "w", org.apache.spark.sql.functions.lit(1L))
    }
    assert(e.getMessage.contains("positive"), e.getMessage)
    // a NULL weight would relax to dist + NULL = NULL — a "reached" node
    // with no distance; the guard must catch it, `w <= 0` alone doesn't
    val e2 = intercept[IllegalArgumentException] {
      Graph.sssp(Seq((1L, 2L, "nope")).toDF("src", "dst", "w"), "src",
        "dst", "w", org.apache.spark.sql.functions.lit(1L))
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
  }

  test("linkPredict matches brute force; adjacent pairs excluded; hub cap drops hub-only pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val n = 14
    val base = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // a hub (99) wired to every node: with maxDeg below n its wedges
    // must vanish; without the cap it manufactures pairs everywhere
    val edges = base ++ (0L until n.toLong).map(i => (99L, i))
    val df = edges.toDF("src", "dst")
    def brute(maxDeg: Long): Map[(Long, Long), (Long, Long, Long)] = {
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nbrs = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val deg = nbrs.map { case (k, v) => k -> v.size.toLong }
      val cand = for {
        (x, ys) <- nbrs.toSeq if deg(x) >= 2 && deg(x) <= maxDeg
        s = ys.toSeq.sorted; i <- s.indices; j <- (i + 1) until s.size
      } yield (s(i), s(j))
      cand.groupBy(identity).collect {
        case (p, xs) if xs.size >= 2 && !und(p) =>
          p -> (xs.size.toLong, deg(p._1), deg(p._2))
      }.toMap
    }
    for (cap <- Seq(5L, 1000L)) {
      val got = Graph.linkPredict(df, "src", "dst", maxDeg = cap,
          minCommon = 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
      assert(got === brute(cap), s"cap $cap")
    }
    // the hub itself can still APPEAR in pairs (as an endpoint), but no
    // wedge is generated AT it under the cap: capped candidate set is a
    // strict subset of the uncapped one
    val capped = Graph.linkPredict(df, "src", "dst", 5L, 1L).count()
    val full = Graph.linkPredict(df, "src", "dst", 1000L, 1L).count()
    assert(capped < full)
  }

  test("multiBfsLevels/closenessSampled: per-seed distances exact; state keyed by seed") {
    import spark.implicits._
    // path 1-2-3-4-5, seeds {1, 5}: node 3 reached by both at dist 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val m = Graph.multiBfsLevels(edges, "src", "dst", seeds, "node", iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m((1L, 3L)) === 2L && m((5L, 3L)) === 2L)
    assert(m((1L, 5L)) === 4L && m((5L, 1L)) === 4L)
    val c = Graph.closenessSampled(edges, "src", "dst", seeds, "node", iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c(3L) === ((2L, 4L))) // both seeds, 2 + 2
    assert(c(1L) === ((2L, 4L))) // itself at 0 + seed 5 at 4
  }

  test("stressSampled: path and star graphs match hand-computed stress") {
    import spark.implicits._
    // undirected path 1-2-3-4-5, ALL nodes seeded, horizon covers the
    // diameter: stress = ordered-pair counts through each interior node
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val s = Graph.stressSampled(path, "src", "dst", all, "node", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(3L) === 8L) // {1,2}×{4,5} ordered both ways
    assert(s(2L) === 6L && s(4L) === 6L) // 1↔{3,4,5}
    assert(s(1L) === 0L && s(5L) === 0L) // endpoints are never interior
    // star: center 0 with 4 leaves — center carries every ordered leaf pair
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val sAll = Seq(0L, 1L, 2L, 3L, 4L).toDF("node")
    val st = Graph.stressSampled(star, "src", "dst", sAll, "node", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st(0L) === 12L) // 4×3 ordered leaf pairs
    assert((1L to 4L).forall(st(_) === 0L))
    // horizon truncation: iters=2 on the path counts only <=2-hop pairs
    val s2 = Graph.stressSampled(path, "src", "dst", all, "node", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only trees rooted at 2 and 4 still see a suffix beyond 3 inside
    // the 2-hop horizon (roots 1 and 5 reach 3 AT the horizon: psi = 0)
    assert(s2(3L) === 2L)
    assert(s2(3L) < s(3L))
  }

  test("stressSampled: tied shortest paths multiply sigma, not duplicate rows") {
    import spark.implicits._
    // diamond: 1-2-4, 1-3-4 (two shortest 1→4 paths) plus tail 4-5:
    // seeds {1}: sigma(4) = 2, so stress(4) from s=1 = sigma·psi = 2·1
    // (suffix 4→5); nodes 2 and 3 each carry one 1→4 and one 1→5 path
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val st = Graph.stressSampled(dia, "src", "dst", Seq(1L).toDF("node"),
        "node", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st(2L) === 2L && st(3L) === 2L) // each: paths to 4 and to 5
    assert(st(4L) === 2L) // two tied paths continue to 5
    assert(st(5L) === 0L)
  }

  test("kCoreWeighted: strength threshold, parallel-edge pre-sum, cascade") {
    import spark.implicits._
    // triangle with weights 5,5,1 plus a pendant of weight 3:
    // wdeg: 1:(5+5)=10, 2:(5+1)=6, 3:(5+1+3)=9, 4:3
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 1L), (3L, 4L, 3L))
      .toDF("src", "dst", "w")
    val k7 = Graph.kCoreWeighted(edges, "src", "dst", "w", k = 7L, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 drops 2 (6<7) and 4 (3<7); then 1-3 alone: wdeg 5 each -> all gone
    assert(k7.isEmpty)
    val k5 = Graph.kCoreWeighted(edges, "src", "dst", "w", k = 5L, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 drops only 4 (3<5); survivors' wdeg: 1:10, 2:6, 3:6 — stable
    assert(k5 === Map(1L -> 10L, 2L -> 6L, 3L -> 6L))
    // parallel edges pre-sum: two w=3 copies act as one w=6 edge
    val par = Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("src", "dst", "w")
    val p6 = Graph.kCoreWeighted(par, "src", "dst", "w", k = 6L, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p6 === Map(1L -> 6L, 2L -> 6L))
    // positivity guard fails loud
    intercept[IllegalArgumentException] {
      Graph.kCoreWeighted(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w", k = 1L, iters = 1)
    }
  }

  test("peel pin guard: over-budget edge list fails loud without a " +
      "checkpoint dir, spills to reliable checkpoints with one") {
    import spark.implicits._
    val edges = (1L to 40L).map(i => (i % 7, (i * 3) % 7)).toDF("src", "dst")
    // edge rows exceed maxPinnedEdges=3 and no checkpoint dir is set ->
    // the guard must fire BEFORE any peeling round. Force the shared
    // context into the no-dir state rather than asserting it (another
    // suite may have set one)
    spark.sparkContext.setCheckpointDir(null)
    val e1 = intercept[IllegalArgumentException] {
      Graph.kCore(edges, "src", "dst", k = 2, iters = 2, maxPinnedEdges = 3L)
    }
    assert(e1.getMessage.contains("maxPinnedEdges"))
    intercept[IllegalArgumentException] {
      Graph.kTruss(edges, "src", "dst", k = 3, iters = 1, maxPinnedEdges = 3L)
    }
    intercept[IllegalArgumentException] {
      Graph.kCoreWeighted(edges.withColumn("w", lit(2L)), "src", "dst", "w",
        k = 2L, iters = 2, maxPinnedEdges = 3L)
    }
    // with a checkpoint dir the reliable-checkpoint path produces the
    // SAME result as the pinned path
    val dir = java.nio.file.Files.createTempDirectory("graft-peel-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val pinned = Graph.kCore(edges, "src", "dst", k = 2, iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val spilled = Graph.kCore(edges, "src", "dst", k = 2, iters = 3,
          maxPinnedEdges = 3L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spilled === pinned && pinned.nonEmpty)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      graft.streaming.Scratch.deleteRecursively(dir.toFile)
    }
  }

  test("kTruss: cliques survive, bridges and pendants drop, peeling cascades") {
    import spark.implicits._
    // two 4-cliques joined by a bridge, plus a pendant edge
    def clique(ns: Seq[Long]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L), (8L, 9L))).toDF("src", "dst")
    val t4 = Graph.kTruss(edges, "src", "dst", k = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every 4-clique edge sits in exactly 2 triangles; bridge+pendant gone
    assert(t4.keySet === (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(5L, 6L, 7L, 8L))).toSet)
    assert(t4.values.forall(_ === 2L))
    // k=5 needs support 3 — a 4-clique can't provide it
    assert(Graph.kTruss(edges, "src", "dst", k = 5, iters = 3).count() === 0L)
    // cascade: two triangles sharing an edge — round 1 drops the four
    // support-1 edges, round 2 drops the shared edge (its support fell
    // to 0 only AFTER the first peel)
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r1 = Graph.kTruss(twoTri, "src", "dst", k = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 === Set((2L, 3L))) // survives round 1 with stale support 2
    assert(Graph.kTruss(twoTri, "src", "dst", k = 4, iters = 2).count() === 0L)
  }

  test("hits: pure hub and pure authority separate; mass normalizes to scale") {
    import spark.implicits._
    // 1 and 2 both point to 3 and 4: {1,2} are pure hubs, {3,4} pure auths
    val df = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r = Graph.hits(df, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    assert(r(1L)._1 > 0L && r(1L)._2 === 0L) // hub only
    assert(r(3L)._1 === 0L && r(3L)._2 > 0L) // authority only
    assert(r(1L) === r(2L) && r(3L) === r(4L)) // symmetry exact
    // each side L1-normalized to ~1e9 (truncation loses < #nodes units)
    val hubTot = r.values.map(_._1).sum; val authTot = r.values.map(_._2).sum
    assert(hubTot > 1000000000L - 10L && hubTot <= 1000000000L)
    assert(authTot > 1000000000L - 10L && authTot <= 1000000000L)
  }

  test("hits: parallel edges act as multiplicity weights; deterministic") {
    import spark.implicits._
    // 1→3 twice vs 2→3 once: node 1 is the stronger hub; a second
    // authority 4 fed only by 1 keeps both passes non-degenerate
    val df = Seq((1L, 3L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = Graph.hits(df, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._1 > r(2L)._1)
    assert(r(3L)._2 > r(4L)._2)
    val again = Graph.hits(df.repartition(7), "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(again === r)
  }

  test("modularity: two cliques joined by a bridge score near-maximal; exact terms") {
    import spark.implicits._
    // cliques {1,2,3} and {4,5,6} plus bridge 3-4: m = 7
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("node", "label")
    val rows = Graph.modularity(edges, "src", "dst", labels, "node", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // community 0: 3 intra edges, degrees 2+2+3 = 7 → 4·7·3 − 49 = 35
    assert(rows(0L) === ((3L, 3L, 7L, 35L)))
    assert(rows(1L) === ((3L, 3L, 7L, 35L)))
    // scalar Q = Σq_num/(4m²) = 70/196 ≈ 0.357, the textbook value
    assert(rows.values.map(_._4).sum === 70L)
    // one community = zero modularity by definition
    val one = Graph.modularity(edges, "src", "dst",
        labels.select(col("node"), lit(0L).as("label")), "node", "label")
      .collect()
    assert(one.length === 1 && one(0).getLong(4) === 0L)
    // NULL-labeled nodes drop out of membership and intra counts
    val part = Graph.modularity(edges, "src", "dst",
        labels.select(col("node"),
          when(col("node") <= 3L, col("label")).as("label")),
        "node", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(part.keySet === Set(0L) && part(0L)._1 === 3L && part(0L)._2 === 3L)
  }

  test("scc: cycles settle whole with min-member ids, DAG nodes trim as " +
      "singletons, direction matters") {
    import spark.implicits._
    // 1→2→3→1 (SCC {1,2,3}), 3→4→5 (DAG tail), 5→6, 6→5 (SCC {5,6}),
    // 7→3 (DAG head). Undirected CC would be ONE component.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 3L)).toDF("src", "dst")
    val got = Graph.scc(edges, "src", "dst", outer = 3, inner = 8)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // deterministic across reruns
    val again = Graph.scc(edges, "src", "dst", outer = 3, inner = 8)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(again === got)
    // two disjoint 3-cycles never merge (no path between them)
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val t2 = Graph.scc(two, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("betweennessSampled: hand-computed Brandes dependencies on a path " +
      "and a diamond (rational sigma ratios, exact dec6 sums)") {
    import spark.implicits._
    def bc(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val e = edges.toDF("src", "dst")
      val seeds = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      Graph.betweennessSampled(e, "src", "dst", seeds, "node", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // path 1-2-3: only the (1,3) pair crosses node 2, once per direction
    val path = bc(Seq((1L, 2L), (2L, 3L)), iters = 2)
    assert(path(2L) == 2000000L)
    assert(path(1L) == 0L && path(3L) == 0L)
    // diamond 1-2-4, 1-3-4: the (1,4) pair splits sigma=2 ways, so each
    // middle node carries 1/2 per direction (+ the side pairs' halves) —
    // every node lands at exactly 1.0 = 1e6 ppm; the halves exercise the
    // rational sigma_v/sigma_w ratio stress's integer counts can't express
    val diamond = bc(Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L)), iters = 2)
    assert(Seq(1L, 2L, 3L, 4L).forall(n => diamond(n) == 1000000L),
      s"got $diamond")
  }

  test("scc: a cycle longer than any fixed horizon settles WHOLE " +
      "(fixpoint labels), and an insufficient step cap refuses loudly") {
    import spark.implicits._
    // a 12-cycle: under the old fixed 8-step horizon node 1 would peel
    // as a singleton (f=b=1 trivially) and shatter the rest
    val ring = (1L to 12L).map(i => (i, i % 12 + 1)).toDF("src", "dst")
    val got = Graph.scc(ring, "src", "dst", outer = 1, inner = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 12L).map(_ -> 1L).toMap)
    val ex = intercept[IllegalStateException] {
      Graph.scc(ring, "src", "dst", outer = 1, inner = 4).collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("iFUB certification: fringe eccentricities from a high-degree root " +
      "prove the exact diameter on a path, bracket it on a lollipop") {
    import spark.implicits._
    // q_diameter_ifub's composition over multiBfsLevels, hand-checkable:
    // lb = max ecc over the deepest level set F_k of the root's BFS,
    // exact iff lb >= 2(k-1) (Crescenzi et al. 2013, Thm 3 specialized
    // to processing level k only).
    def ifub(edges: Seq[(Long, Long)], iters: Int = 8)
        : (Long, Long, Long, Boolean) = {
      val df = edges.toDF("src", "dst")
      val sym = df.union(df.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val root = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("node")).limit(1).select("node")
      val b1 = Graph.multiBfsLevels(df, "src", "dst", root, "node", iters)
      val k = b1.agg(max(col("dist"))).head().getLong(0)
      val fringe = b1.filter(col("dist") === k).select("node")
      val lb = Graph.multiBfsLevels(df, "src", "dst", fringe, "node", iters)
        .groupBy("seed").agg(max(col("dist")).as("ecc"))
        .agg(max(col("ecc"))).head().getLong(0)
      // the certificate needs BOTH sweeps frontier-exhausted (< cap)
      val complete = k < iters && lb < iters
      val exact = complete && lb >= 2 * (k - 1)
      (k, lb, if (exact) lb else 2 * (k - 1), exact)
    }
    // path 1-2-3-4-5: root ties resolve to node 2 (deg 2), ecc=3,
    // fringe={5}, ecc(5)=4 = diameter; 4 >= 2*(3-1) certifies EXACT
    val (k1, lb1, ub1, ex1) = ifub(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(k1 === 3L && lb1 === 4L && ub1 === 4L && ex1)
    // lollipop: 4-clique {1..4} + tail 4-5-6-7. Root = 4 (deg 4), ecc=3,
    // fringe={7}, ecc(7)=4 = true diameter, certified exact again
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val (k2, lb2, ub2, ex2) =
      ifub(clique ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)))
    assert(k2 === 3L && lb2 === 4L && ub2 === 4L && ex2)
    // star: root = center, k=1 -> fringe is ALL leaves, lb=2 >= 2(k-1)=0,
    // exact diameter 2 at one level's cost
    val (k3, lb3, ub3, ex3) = ifub((2L to 9L).map(i => (1L, i)))
    assert(k3 === 1L && lb3 === 2L && ub3 === 2L && ex3)
    // FALSE-CERTIFICATE regression: hub with two length-4 paths, true
    // diameter 8. At iters=6 the fringe eccs truncate to 6 = 2(k-1),
    // which would certify exact WITHOUT the frontier-exhaustion guard —
    // the guard must refuse (lb hit the cap)
    val twoPaths = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val (k4, lb4, _, ex4) = ifub(twoPaths, iters = 6)
    assert(k4 === 4L && lb4 === 6L && !ex4,
      "capped sweep must not certify exactness")
    // with enough iterations the same graph certifies the true diameter
    val (k5, lb5, ub5, ex5) = ifub(twoPaths, iters = 9)
    assert(k5 === 4L && lb5 === 8L && ub5 === 8L && ex5)
  }
}
