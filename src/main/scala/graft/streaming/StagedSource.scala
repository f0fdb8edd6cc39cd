package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The streaming gates' one replay path. A gate replays its input through
  * Spark's file source as N mtime-ordered slice files, one micro-batch per
  * slice (or per `maxFilesPerTrigger` slices), so that watermarks advance
  * and state expires between batches the way they do in a live stream.
  *
  * [[replay]] does the whole round trip: it makes the gate's scratch dir
  * (under [[Scratch]]'s per-JVM root), stages the slices there in one
  * Spark job ([[write]]), opens the file stream over them with the staged
  * frame's own schema, runs the gate's body, and deletes the dir when the
  * body returns or throws. [[timeSlice]] cuts an event-time column into n
  * equal slices, and [[runBatches]] is the AvailableNow `foreachBatch` run
  * of the gates that fold each micro-batch into a store.
  *
  * The file source orders files by modification time: the file of slice i
  * gets mtime `now − 10 min + i × 1 min`.
  */
object StagedSource {

  /** Stage `staged` (data columns plus an integral slice column
    * `sliceCol`) under a fresh scratch dir, open the file stream over it
    * and run `body(stream, dir)`. The stream reads `staged`'s columns
    * without the slice column; `maxFiles` is its `maxFilesPerTrigger`
    * (None: no rate limit, every slice in one micro-batch). The body may
    * keep checkpoints and stores under `dir`; the dir is deleted when the
    * body returns or throws, so a result read from it must be
    * [[Scratch.collected]] first.
    */
  def replay[T](name: String, staged: DataFrame, sliceCol: String,
      maxFiles: Option[Int])(body: (DataFrame, String) => T): T =
    Scratch.withDir(name) { dir =>
      val src = s"$dir/src"
      write(staged, sliceCol, src)
      val reader = staged.sparkSession.readStream
        .schema(staged.drop(sliceCol).schema)
        .option("pathGlobFilter", "*.parquet")
      body(maxFiles.fold(reader)(m => reader.option("maxFilesPerTrigger", m.toLong))
        .parquet(src), dir)
    }

  /** Slice boundaries of n equal slices of `[lo, hi]`: `lo + i*span/n` for
    * i in 1 until n, with `span = hi - lo + 1` (integer division).
    */
  def bounds(lo: Long, hi: Long, n: Int): Seq[Long] = {
    val span = hi - lo + 1L
    (1 until n).map(i => lo + i * span / n)
  }

  /** Slice index 0 until n of `c` over [[bounds]]`(lo, hi, n)`: slice i
    * holds the values below boundary i and at or above boundary i − 1.
    */
  def timeSlice(c: Column, lo: Long, hi: Long, n: Int): Column = {
    val b = bounds(lo, hi, n)
    b.zipWithIndex.tail
      .foldLeft(when(c < b.head, 0L)) { case (w, (x, i)) => w.when(c < x, i.toLong) }
      .otherwise((n - 1).toLong)
  }

  /** Run `stream` to its end under AvailableNow, passing each micro-batch
    * and its id to `fn`, with the checkpoint at `dir/ckpt`. The gates that
    * use it stage three micro-batches' worth of files, so a run with
    * fewer data micro-batches fails (see [[requireBatches]]).
    */
  def runBatches(stream: DataFrame, dir: String, mode: OutputMode,
      what: String)(fn: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream.outputMode(mode)
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(fn)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    requireBatches(q, what)
  }

  /** `q`, after checking it ran at least three micro-batches with input
    * rows: a rate-limited replay of three batches' worth of files (3 files
    * at 1 per trigger, 6 at 2) that ran as fewer did not exercise the
    * multi-batch path its gate claims.
    */
  def requireBatches(q: StreamingQuery, what: String): StreamingQuery = {
    val n = q.recentProgress.count(_.numInputRows > 0)
    require(n >= 3, s"$what should take >=3 data micro-batches; got $n")
    q
  }

  /** Write `df` (data columns plus an integral slice column `sliceCol`)
    * as one parquet file per distinct slice value under `src`,
    * mtime-staggered in slice order, in one Spark job: a hash repartition
    * on the slice column puts each slice in exactly one task, and the
    * slice column becomes a scratch partition directory (it is not in the
    * written files). The files are then sequenced with driver-side renames
    * and mtimes. Slices with no rows produce no file.
    */
  private def write(df: DataFrame, sliceCol: String, src: String): Unit = {
    val scratch = src.stripSuffix("/") + ".__stage"
    df.repartition(col(sliceCol))
      .write.mode("overwrite").partitionBy(sliceCol).parquet(scratch)
    val srcDir = new java.io.File(src)
    srcDir.mkdirs()
    val base = System.currentTimeMillis() - 600000L
    new java.io.File(scratch).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"$sliceCol="))
      .sortBy(_.getName.stripPrefix(s"$sliceCol=").toLong)
      .foreach { d =>
        val i = d.getName.stripPrefix(s"$sliceCol=").toLong
        d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (f, j) =>
            val dst = new java.io.File(srcDir, f"slice-$i%04d-$j%d.parquet")
            require(f.renameTo(dst), s"staging rename failed: $f -> $dst")
            require(dst.setLastModified(base + i * 60000L),
              s"staging mtime set failed: $dst")
          }
      }
    Scratch.deleteRecursively(new java.io.File(scratch))
  }
}
