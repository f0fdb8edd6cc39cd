package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests for the dedup core on RANDOM corpora: the prefix-filtered
  * distributed Jaccard join must equal a driver-side brute force for any
  * generated document set and threshold — this is the exactness claim of
  * the PPJoin prefix filter (no qualifying pair may be lost).
  */
object DedupProperties extends Properties("graft.ops.Dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")

  /** Corpus generator: base docs + mutated near-duplicates. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nBase <- Gen.choose(5, 15)
    baseDocs <- Gen.listOfN(nBase,
      Gen.listOfN(25, Gen.oneOf(vocab)).map(_.mkString(" ")))
    nDup <- Gen.choose(2, 6)
    dups <- Gen.listOfN(nDup, for {
      src <- Gen.choose(0, nBase - 1)
      tweak <- Gen.oneOf(" extra", "", " alpha beta")
    } yield baseDocs(src) + tweak)
  } yield (baseDocs ++ dups).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def brute(corpus: Seq[(Long, String)], n: Int, thr: Double): Map[(Long, Long), Double] = {
    val sets = corpus.map { case (id, text) =>
      id -> text.split("\\s+").filter(_.nonEmpty)
        .sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      jac = if (sa.size + sb.size - inter == 0) 0.0
        else inter.toDouble / (sa.size + sb.size - inter)
      if jac >= thr
    } yield (a, b) -> jac).toMap
  }

  property("ngramJaccardPairs == driver brute force for random corpora/thresholds") =
    forAll(corpusGen, Gen.oneOf(0.5, 0.7, 0.8, 0.9)) { (corpus, thr) =>
      import spark.implicits._
      val df = corpus.toDF("id", "text")
      val got = Dedup.ngramJaccardPairs(df, "id", "text", 3, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val expect = brute(corpus, 3, thr)
      got.keySet == expect.keySet &&
        got.forall { case (k, v) => math.abs(v - expect(k)) < 1e-12 }
    }

  property("exact dedup keeps one row per distinct text, the lowest id") =
    forAll(corpusGen) { corpus =>
      import spark.implicits._
      val df = corpus.toDF("id", "text")
      val out = Dedup.exact(df, "id", Seq("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val expect = corpus.groupBy(_._2).map { case (_, rows) => rows.minBy(_._1) }.toSet
      out.toSet == expect
    }

  property("simhash of identical texts is identical; near pairs include exact dups") =
    forAll(corpusGen) { corpus =>
      import spark.implicits._
      val df = corpus.toDF("id", "text")
      val fp = Dedup.simhash64(df, "id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      corpus.forall { case (a, ta) =>
        corpus.forall { case (b, tb) =>
          a >= b || ta != tb || fp(a) == fp(b)
        }
      }
    }
}

/** Band-math helpers: the S-curve and its inversion. */
object LshMathProperties extends Properties("graft.ops.Dedup.lshMath") {

  property("collision probability is monotone in j and bounded in [0,1]") =
    forAll(Gen.chooseNum(0.05, 0.95), Gen.chooseNum(0.05, 0.95)) { (j1, j2) =>
      val (lo, hi) = if (j1 <= j2) (j1, j2) else (j2, j1)
      val p1 = Dedup.lshCollisionProb(lo, 16, 4)
      val p2 = Dedup.lshCollisionProb(hi, 16, 4)
      p1 >= 0.0 && p2 <= 1.0 && p1 <= p2
    }

  property("bandsForThreshold returns a divisor whose threshold is closest") =
    forAll(Gen.chooseNum(0.1, 0.9)) { t =>
      val k = 16
      val b = Dedup.bandsForThreshold(t, k)
      def thr(bb: Int) = math.pow(1.0 / bb, bb.toDouble / k)
      k % b == 0 &&
        (1 to k).filter(k % _ == 0).forall(bb =>
          math.abs(thr(b) - t) <= math.abs(thr(bb) - t) + 1e-12)
    }

  property("more bands never lowers recall at fixed k") =
    forAll(Gen.chooseNum(0.2, 0.9)) { j =>
      val probs = Seq(1, 2, 4, 8, 16).map(b => Dedup.lshCollisionProb(j, 16, b))
      probs.zip(probs.tail).forall { case (a, b) => a <= b + 1e-12 }
    }
}
