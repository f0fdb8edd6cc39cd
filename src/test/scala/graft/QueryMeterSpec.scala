package graft

import org.apache.spark.sql.functions.col

/** [[QueryMeter]], the runners' one listener: per-job shuffle and task
  * counts, job-group attribution, and failed samples kept out of the
  * times.
  */
class QueryMeterSpec extends SparkSuite {

  private def withMeter[T](f: QueryMeter => T): T = {
    val meter = new QueryMeter(spark)
    try f(meter) finally meter.close()
  }

  test("a shuffling query reads shuffle bytes, a scan-only query reads none") {
    withMeter { meter =>
      val shuffled = meter.measure(Harness.materialize(
        spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count()))
      assert(shuffled.shuffleReadBytes > 0L)
      assert(shuffled.shuffleWriteBytes > 0L)
      val scanned = meter.measure(Harness.materialize(
        spark.read.parquet(s"$sfDir/customer.parquet").filter(col("c_custkey") > 3)))
      assert(scanned.jobs.nonEmpty)
      assert(scanned.shuffleReadBytes === 0L)
      assert(scanned.shuffleWriteBytes === 0L)
      assert(scanned.inputRecords > 0L)
    }
  }

  test("after drain, a sample's task count is its stages' partition count") {
    withMeter { meter =>
      val s = meter.measure {
        spark.sparkContext.parallelize(1 to 100, 3).map(i => (i % 5, 1))
          .reduceByKey(_ + _, 2).collect()
        ()
      }
      assert(s.jobs.size === 1)
      assert(s.tasks === 3 + 2)
      assert(s.jobs.head.wallMs >= 0L)
      assert(s.jobs.head.callSite.nonEmpty)
    }
  }

  test("jobs are attributed to the job group that submitted them") {
    withMeter { meter =>
      val sc = spark.sparkContext
      def inGroup(g: String, jobs: Int): Unit = {
        sc.setJobGroup(g, g)
        try (1 to jobs).foreach(_ => sc.parallelize(1 to 10, 2).count())
        finally sc.clearJobGroup()
      }
      val s = meter.measure { inGroup("meter-a", 1); inGroup("meter-b", 2) }
      assert(s.jobs.map(_.group) === Seq("meter-a", "meter-b", "meter-b"))
      assert(s.jobs.filter(_.group == "meter-b").map(_.tasks).sum === 4)
    }
  }

  test("a failed sample is not counted as a time") {
    withMeter { meter =>
      val failed = meter.sample("q_boom") {
        spark.sparkContext.parallelize(1 to 3, 1)
          .map(i => if (i == 2) throw new IllegalStateException("boom") else i)
          .count()
        ()
      }
      assert(failed.isEmpty)
      assert(meter.failures.toMap === Map("q_boom" -> 1))
      val ok = meter.sample("q_ok")(spark.range(10).count())
      assert(ok.exists(_.wallS > 0.0))
      assert(meter.failures.toMap === Map("q_boom" -> 1))
    }
  }
}
