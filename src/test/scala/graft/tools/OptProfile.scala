package graft

/** Optimization-round measurement harness (guide §1): run named queries
  * through the SAME noop-sink methodology as [[Bench]], printing per-JOB
  * wall/task/shuffle breakdowns so a query's seconds can be attributed to
  * a specific pass (a training level, a CC round, a staging write) instead
  * of guessed at. Not part of the driver contract — a local tool.
  *
  * Usage: `sbt "Test/runMain graft.OptProfile q_a,q_b [reps]"`
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench, conf overrides via
  * SPARK_GRAFT_PROBE_CONF, see [[Harness.applyProbeConf]]).
  */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.applyProbeConf(spark)
    val meter = new QueryMeter(spark)
    Harness.warmUp(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        println(s"\n=== $name run $r ===")
        val s = meter.measure(Harness.materialize(fn(spark, sfDir)))
        s.jobs.foreach { j =>
          println(f"[job ${j.id}%4d] wall=${j.wallMs / 1e3}%7.3fs " +
            f"task=${j.runMs / 1e3}%8.3fs tasks=${j.tasks}%4d " +
            f"sw=${j.shuffleWriteBytes / 1048576.0}%8.2fMB " +
            f"sr=${j.shuffleReadBytes / 1048576.0}%8.2fMB  ${j.callSite}")
        }
        println(f"=== $name run $r TOTAL ${s.wallS}%.3f s ===")
      }
      // clear any group caches so queries profile like Bench's cold path
      graft.queries.TextOps.clearCaches()
      graft.queries.VectorOps.clearCaches()
      System.gc()
    }
    spark.stop()
  }
}
