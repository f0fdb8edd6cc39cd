package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests pinning Diff.keyed and Validate.driftHistogram against
  * driver-side model implementations on RANDOM inputs — the classes the
  * hand-written specs cannot enumerate: arbitrary key overlap, duplicate
  * multiplicities, NULL keys and values, empty sides, every bucket shape.
  */
object DiffProperties extends Properties("graft.ops.Diff") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rowGen: Gen[(Option[Long], Option[String], Long)] = for {
    k <- Gen.option(Gen.choose(0L, 6L))
    v <- Gen.option(Gen.oneOf("x", "y", "n", ""))
    w <- Gen.choose(0L, 3L)
  } yield (k, v, w)

  private val tablesGen: Gen[(List[(Option[Long], Option[String], Long)],
      List[(Option[Long], Option[String], Long)])] = for {
    a <- Gen.listOfN(25, rowGen)
    b <- Gen.listOfN(25, rowGen)
  } yield (a, b)

  private def toDf(rows: List[(Option[Long], Option[String], Long)]) = {
    // via DF with explicit schema so an all-None column stays typed
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1.orNull, r._2.orNull, r._3)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  private def model(a: List[(Option[Long], Option[String], Long)],
      b: List[(Option[Long], Option[String], Long)]): Map[Option[Long], String] = {
    def group(rows: List[(Option[Long], Option[String], Long)]) =
      rows.groupBy(_._1).map { case (k, rs) =>
        // multiset of value rows as a count map — order-free equality
        k -> rs.map(r => (r._2, r._3)).groupBy(identity)
          .map { case (t, l) => t -> l.size }
      }
    val ga = group(a)
    val gb = group(b)
    (ga.keySet ++ gb.keySet).flatMap { k =>
      (ga.get(k), gb.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _ => None
      }
    }.toMap
  }

  property("keyed == multiset model on random tables") =
    forAll(tablesGen) { case (a, b) =>
      val got = Diff.keyed(toDf(a), toDf(b), Seq("id"), Seq("v", "w"))
        .collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
        .toMap
      got == model(a, b)
    }

  private val driftGen: Gen[(List[Double], List[Double])] = for {
    a <- Gen.listOf(Gen.choose(-5.0, 35.0))
    b <- Gen.listOf(Gen.choose(-5.0, 35.0))
  } yield (a, b)

  property("driftHistogram + totalVariation == model") =
    forAll(driftGen) { case (a, b) =>
      import spark.implicits._
      def bucket(x: Double): Long =
        math.min(math.max(math.floor(x / 10.0).toLong, -1L), 3L)
      def hist(xs: List[Double]) =
        xs.groupBy(bucket).map { case (k, v) => k -> v.size.toLong }
      val ha = hist(a)
      val hb = hist(b)
      val drift = Validate.driftHistogram(a.toDF("x"), b.toDF("x"),
        "x", 0.0, 10.0, 3)
      val got = drift.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val wantKeys = ha.keySet ++ hb.keySet
      val histOk = got.keySet == wantKeys && wantKeys.forall(k =>
        got(k) == (ha.getOrElse(k, 0L), hb.getOrElse(k, 0L)))
      val tv = Validate.totalVariation(drift).head().getDouble(2)
      val na = a.size.toLong
      val nb = b.size.toLong
      val wantTv =
        if (na == 0 && nb == 0) 0.0
        else if (na == 0 || nb == 0) 1.0
        else {
          val l1 = wantKeys.toSeq.map(k =>
            math.abs(ha.getOrElse(k, 0L) * nb - hb.getOrElse(k, 0L) * na)).sum
          math.rint(l1.toDouble / (2.0 * na * nb) * 1e6) / 1e6
        }
      histOk && math.abs(tv - wantTv) < 1e-9
    }
}
