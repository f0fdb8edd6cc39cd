package graft.ops

import graft.SparkSuite

/** Entity.editPairs' PassJoin segment blocking vs a local brute force —
  * the completeness guarantee (pigeonhole + ±k alignment windows + the
  * short-string residual) tested on adversarial inputs the fixture
  * queries don't cover: repetitive strings, strings too short to
  * segment, exact duplicates, and a seeded random corpus with mixed
  * lengths.
  */
class EntitySpec extends SparkSuite {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(recs: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, na) <- recs; (ib, nb) <- recs if ia < ib
      d = lev(na, nb) if d <= k
    } yield (ia, ib, d)).toSet

  private def viaSpark(recs: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    Entity.editPairs(recs.toDF("id", "name"), "id", "name", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("editPairs matches brute force on a seeded random corpus") {
    val rnd = new scala.util.Random(42)
    val words = Seq("spark", "query", "merge", "scan", "batch", "row", "agg")
    val recs = (0L until 120L).map { i =>
      val base = Seq.fill(3 + rnd.nextInt(2))(words(rnd.nextInt(words.length))).mkString(" ")
      val s = if (i % 4 == 0 && base.length > 5) {
        val p = 1 + rnd.nextInt(base.length - 2)
        base.substring(0, p) + base.substring(p + 1) // one deletion
      } else base
      (i, s)
    }
    assert(viaSpark(recs, k = 2) == brute(recs, 2))
  }

  test("repetitive and too-short strings are still matched exactly") {
    // "ab"/"ba" (len < 2*(k+1)) take the broadcast residual path;
    // "aaaaaaaa" exercises repeated segments; mixed lengths exercise the
    // ±k length windows of the probe side
    val recs = Seq[(Long, String)](
      (1L, "aaaaaaaa"), (2L, "aaaaaaa"), (3L, "aaabaaaa"),
      (4L, "bbbbbbbb"), (5L, "ab"), (6L, "ba"), (7L, "ab"),
      (8L, "completely different"))
    assert(viaSpark(recs, k = 2) == brute(recs, 2))
  }

  test("boundary lengths around the residual cutoff stay exact") {
    // lengths 4..8 straddle minLen = 6 for k = 2: pairs must be found
    // across the segment/residual boundary in both directions
    val recs = Seq[(Long, String)](
      (1L, "abcd"), (2L, "abcde"), (3L, "abcdef"), (4L, "abcdefg"),
      (5L, "abcdefgh"), (6L, "zbcdef"), (7L, "abqqef"))
    assert(viaSpark(recs, k = 2) == brute(recs, 2))
  }

  test("exact duplicates pair at distance 0 and resolve to one entity") {
    val recs = Seq[(Long, String)]((10L, "same name"), (20L, "same name"),
      (30L, "same namex"), (40L, "other record"))
    val resolved = Entity.resolve(recs.toDF("id", "name"), "id", "name", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(resolved == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L))
  }

  test("canonicalize elects the longest name, lexicographic tie-break") {
    val resolved = Seq(
      (1L, "short", 1L), (2L, "longer name", 1L), (3L, "longer nbme", 1L),
      (9L, "solo", 9L)).toDF("id", "name", "entity_id")
    val out = Entity.canonicalize(resolved, "name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "longer name", 3L), (9L, "solo", 1L)))
  }

  test("null names are ignored, not matched to each other") {
    val recs = Seq((1L, "alpha"), (2L, null), (3L, null), (4L, "alphb"))
      .toDF("id", "name")
    val pairs = Entity.editPairs(recs, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 4L)))
  }

  test("input spread fires only on an affirmative small inputBytes signal") {
    // r15 advice / r16: unknown bytes (-1, the default) must NOT spread —
    // the old plan-stats fallback under-estimated text columns and fired
    // the spread on exactly the large unions where it costs a full extra
    // pass. Affirmative small input spreads; affirmative large does not.
    val recs = (0L until 40L).map(i => (i, s"record name $i"))
      .toDF("id", "name")
    def spreads(inputBytes: Long): Boolean =
      Entity.editPairs(recs, "id", "name", 2, inputBytes)
        .queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM")
    assert(!spreads(-1L), "unknown input size must not trigger the spread")
    assert(spreads(1024L), "small input must spread to session parallelism")
    assert(!spreads(Long.MaxValue / 4), "large input must not spread")
  }
}
