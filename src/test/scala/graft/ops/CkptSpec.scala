package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSuite

/** Ckpt.withMetrics: the observed metrics must (a) COMPLETE on the
  * checkpoint action itself — `Observation.get` would block forever if
  * Spark's localCheckpoint stopped firing QueryExecutionListeners, which
  * is exactly the regression mode to pin — and (b) equal a separate
  * aggregation job over the checkpointed rows, since every iterative
  * operator's convergence decision (CC checksum, SCC changed-row count,
  * kCore/kTruss survivor count) now reads these values.
  */
class CkptSpec extends SparkSuite with TimeLimits {
  import spark.implicits._

  // a hung Observation.get must FAIL the suite, not wedge it: interrupt
  // the test thread when the limit passes
  implicit val signaler: Signaler = ThreadSignaler

  test("metrics complete on the localCheckpoint job and match a real aggregate") {
    failAfter(Span(120, Seconds)) {
      val df = spark.range(1000).toDF("id")
        .select(col("id"), (col("id") % 7).as("k"))
      val (out, m) = Ckpt.withMetrics(df, Seq(
        count(lit(1)).as("n"),
        sum(col("k")).as("s"),
        count(when(col("k") === 0, lit(1))).as("zeros")))
      assert(m("n") === 1000L)
      assert(m("s") === df.agg(sum(col("k"))).head().getLong(0))
      assert(m("zeros") === df.filter(col("k") === 0).count())
      // the returned frame is the materialized checkpoint: same rows,
      // and reading it does not re-run (or re-observe) the plan
      assert(out.count() === 1000L)
      assert(out.agg(sum(col("k"))).head().getLong(0) ===
        m("s").asInstanceOf[Long])
    }
  }

  test("metrics on an empty frame: count 0, null-valued aggregates surface as null") {
    failAfter(Span(120, Seconds)) {
      val df = spark.range(10).toDF("id").filter(col("id") < 0)
      val (out, m) = Ckpt.withMetrics(df, Seq(
        count(lit(1)).as("n"), max(col("id")).as("mx"),
        coalesce(sum(col("id")), lit(0L)).as("s")))
      assert(m("n") === 0L)
      assert(m("mx") === null)
      assert(m("s") === 0L)
      assert(out.isEmpty)
    }
  }

  test("a custom eager checkpointer (reliable checkpoint) also completes") {
    failAfter(Span(120, Seconds)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
      try {
        spark.sparkContext.setCheckpointDir(dir.toString)
        val (out, m) = Ckpt.withMetrics(
          Seq(1L, 2L, 3L).toDF("v"), Seq(sum(col("v")).as("s")),
          _.checkpoint(true))
        assert(m("s") === 6L)
        assert(out.count() === 3L)
      } finally graft.streaming.Scratch.deleteRecursively(dir.toFile)
    }
  }
}
