package graft.streaming

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite

/** The streaming gates' replay path: what [[StagedSource.replay]] puts on
  * disk, how the file source replays it, the time-slice boundaries, and
  * the scratch dir's lifetime.
  */
class StagedSourceSpec extends SparkSuite {

  private def srcFiles(dir: String): Seq[File] =
    new File(s"$dir/src").listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  test("replay stages one file per non-empty slice, mtimes rising in slice order") {
    import spark.implicits._
    // slices 0, 1 and 3 hold rows; slice 2 holds none
    val staged = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 3L), (5L, 3L))
      .toDF("v", "__slice")
    val files = StagedSource.replay("spec_files", staged, "__slice", Some(1)) {
      (_, dir) =>
        srcFiles(dir).map { f =>
          (f.getName.take(10), f.lastModified,
            spark.read.parquet(f.getPath).as[Long].collect().sorted.toSeq)
        }
    }
    assert(files.map(_._1) == Seq("slice-0000", "slice-0001", "slice-0003"))
    assert(files.map(_._3) == Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)))
    val mtimes = files.map(_._2)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
  }

  test("maxFilesPerTrigger = 1 replays one data micro-batch per slice, in slice order") {
    import spark.implicits._
    val staged = (0L until 4L).flatMap(i => Seq((10 * i, i), (10 * i + 1, i)))
      .toDF("v", "__slice")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = StagedSource.replay("spec_batches", staged, "__slice", Some(1)) {
      (stream, dir) =>
        StagedSource.runBatches(stream, dir, OutputMode.Append(), "spec") {
          (b, _) => seen.synchronized {
            if (!b.isEmpty) seen += b.as[Long].collect().sorted.toSeq
          }
        }
    }
    assert(seen.toSeq == Seq(Seq(0L, 1L), Seq(10L, 11L), Seq(20L, 21L), Seq(30L, 31L)))
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)
    // with no rate limit every slice lands in one micro-batch
    val sink = "staged_spec_one_batch"
    spark.catalog.dropTempView(sink)
    val one = StagedSource.replay("spec_one", staged, "__slice", None) {
      (stream, _) => EventStream.runToMemory(stream, sink)
    }
    assert(one.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq ==
      Seq(8L))
  }

  test("time-slice boundaries are lo + i*span/n for n = 3 and n = 4") {
    import spark.implicits._
    val (lo, hi) = (1000L, 2010L) // span 1011: no n divides it
    val span = hi - lo + 1L
    assert(StagedSource.bounds(lo, hi, 3) == Seq(lo + span / 3, lo + 2 * span / 3))
    assert(StagedSource.bounds(lo, hi, 4) ==
      Seq(lo + span / 4, lo + 2 * span / 4, lo + 3 * span / 4))
    Seq(3, 4).foreach { n =>
      val b = StagedSource.bounds(lo, hi, n)
      val got = (lo to hi).toDF("ms")
        .select(col("ms"), StagedSource.timeSlice(col("ms"), lo, hi, n))
        .as[(Long, Long)].collect().toMap
      (lo to hi).foreach(v => assert(got(v) == b.count(_ <= v).toLong, s"n=$n ms=$v"))
    }
  }

  test("the scratch dir is gone after the body returns and after it throws") {
    import spark.implicits._
    val staged = Seq((1L, 0L)).toDF("v", "__slice")
    var dirs = Seq.empty[String]
    StagedSource.replay("spec_gone", staged, "__slice", None) { (_, dir) =>
      assert(srcFiles(dir).size == 1)
      dirs :+= dir
    }
    val e = intercept[IllegalStateException] {
      StagedSource.replay("spec_gone", staged, "__slice", None) { (_, dir) =>
        assert(new File(dir).isDirectory)
        dirs :+= dir
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(dirs.size == 2 && dirs.distinct.size == 2)
    dirs.foreach(d => assert(!new File(d).exists, d))
  }
}
