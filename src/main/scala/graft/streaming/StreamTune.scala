package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session tuning for the staged-replay streaming GATES (optimization
  * round 15 — guide §2 "make partitioning scale-adaptive").
  *
  * Two measured floors in every stateful gate at sf0.1/local[32], found by
  * stack-sampling the executor threads mid-micro-batch:
  *
  *   1. '''State partitions.''' A streaming query's stateful operators
  *      create one state store instance per shuffle partition per operator
  *      (a stream–stream interval join carries FOUR stores per partition),
  *      and every micro-batch pays each instance's load/commit file round
  *      trip. With the session's fixed `spark.sql.shuffle.partitions` (=
  *      local core count) and KB-sized gate state, 32 partitions × 4
  *      stores × 6 micro-batches is pure per-file overhead — AQE would
  *      coalesce a batch shuffle this small to one partition, but AQE is
  *      disabled for stateful streaming, so the partition count must be
  *      chosen here. [[withGateConfAt]] derives it from the INPUT SIZE
  *      (bytes/8MB + 2, min 2), capped by the session's configured shuffle
  *      partitions: tiny gate replays get 2, the 100× fixture gets ~20,
  *      and a production session configured with thousands of shuffle
  *      partitions over TB inputs keeps them.
  *
  *   2. '''Checkpoint file checksums.''' Spark 4.1 writes + verifies a
  *      checksum twin for every checkpoint file
  *      (`spark.sql.streaming.checkpoint.fileChecksum.enabled`, new
  *      default true); the write rides a small shared thread pool that
  *      all 32 concurrent state-store commits contend on (sampled:
  *      every executor thread blocked in
  *      ChecksumCheckpointFileManager.awaitResult). The gates' checkpoints
  *      are PER-RUN TEMP directories deleted minutes later — corruption
  *      detection buys nothing there, so the gate wrapper disables it.
  *      Production streams with durable checkpoints keep Spark's default
  *      (this wrapper is gate scaffolding, not the DocStream/EventStream
  *      API).
  *
  * Both settings are restored after the gate's streaming section, so the
  * batch queries around it (and the rest of the Bench/Verify session) keep
  * the session contract untouched. Measured on the 19-gate family at
  * sf0.1/local[32]: 117.4 s → 88.7 s (−25%), stateful joins ~2×
  * (q_stream_left_join 12.4 → 6.1 s), state-free foreachBatch gates
  * unchanged — see OPTIMIZATION_r15.md.
  */
object StreamTune {

  /** Total bytes under `paths` (files or directories) via the Hadoop FS
    * API — the input-size signal [[withGateConfAt]] scales state partitions
    * from. Missing paths count 0.
    */
  def pathBytes(s: SparkSession, paths: Seq[String]): Long =
    paths.map { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum

  /** Run `body` (a gate's streaming section: build → start → await) with
    * gate-scoped shuffle/state partitions and checkpoint checksums off,
    * restoring both afterwards. The partition count is `bytes/8MB + 2` of
    * the input under `paths`, clamped to [2, session shuffle partitions]:
    * the +2 keeps a small headroom above the pure ratio so an input just
    * past a boundary doesn't run single-partition-per-store, the cap keeps
    * a production session's own sizing authoritative (it configured
    * thousands of partitions for a reason), and the floor keeps two-way
    * parallelism so the gate still exercises multi-partition state.
    * Results are partition-count independent (keyed state, keyed joins,
    * watermark semantics), which the oracle gates re-prove at both SFs.
    */
  def withGateConfAt[T](s: SparkSession, paths: Seq[String])(body: => T): T = {
    val conf = s.conf
    val kParts = "spark.sql.shuffle.partitions"
    val kSum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val oldParts = conf.getOption(kParts)
    val oldSum = conf.getOption(kSum)
    val derived = (pathBytes(s, paths) / (8L << 20)).toInt + 2
    conf.set(kParts, math.max(2,
      math.min(s.sessionState.conf.numShufflePartitions, derived)).toString)
    conf.set(kSum, "false")
    try body
    finally {
      oldParts.fold(conf.unset(kParts))(conf.set(kParts, _))
      oldSum.fold(conf.unset(kSum))(conf.set(kSum, _))
    }
  }
}
