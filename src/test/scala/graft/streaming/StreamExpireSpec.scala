package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The MID-STREAM state-expiry claim behind q_stream_session_expire: under
  * the staged replay (one file per micro-batch), a quiet user's session
  * times out, EMITS, and is evicted while later batches are still
  * arriving — not only at the end-of-replay sentinel (which is all
  * q_stream_ewma's horizon-anchored timeouts can show). Asserted on the
  * per-batch progress record: some batch BOTH emits sink rows AND is
  * followed by batches that still process input rows.
  */
class StreamExpireSpec extends SparkSuite {

  test("session state expires and emits BETWEEN micro-batches") {
    import spark.implicits._
    val t0 = 1700000000000L
    val hour = 3600000L
    // slice 0: user 1's whole session (2 events, 10 min apart) — its
    // timeout (last + 30 min) is hours before the later slices' event time,
    // so the watermark passes it MID-replay. slices 1-3: user 2, one event
    // each, 3 h apart (3 one-event sessions, two of which also expire
    // mid-stream). sentinels: far-future watermark advance + flush.
    val slices: Seq[Seq[(Long, Long, Long, String, Double)]] = Seq(
      Seq((1L, t0, 1L, "view", 1.0), (2L, t0 + 600000L, 1L, "click", 2.0)),
      Seq((3L, t0 + 3 * hour, 2L, "view", 3.0)),
      Seq((4L, t0 + 6 * hour, 2L, "view", 4.0)),
      Seq((5L, t0 + 9 * hour, 2L, "view", 5.0)),
      Seq((-1L, t0 + 12 * hour, -1L, "flush", 0.0)),
      Seq((-2L, t0 + 15 * hour, -1L, "flush", 0.0)))
    val staged = slices.zipWithIndex
      .flatMap { case (rows, i) => rows.map { case (e, ms, u, tp, v) =>
        (e, ms, u, tp, v, i.toLong) } }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "__slice")
    val sink = "expire_spec_out"
    spark.catalog.dropTempView(sink)
    val q = StagedSource.replay("expire_spec", staged, "__slice", Some(1)) {
      (src, _) =>
        val stream = src
          .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .as[EventStream.Event]
        EventStream.runToMemory(EventStream.sessionize(stream).toDF(), sink)
    }
    // structural claim: rows were EMITTED while input was still arriving
    val prog = q.recentProgress.toSeq
      .map(p => (p.batchId, p.numInputRows, p.sink.numOutputRows))
      .sortBy(_._1)
    val firstEmit = prog.collectFirst {
      case (b, _, out) if out > 0 => b
    }
    assert(firstEmit.isDefined, s"no batch emitted rows: $prog")
    val laterInput = prog.filter(p => p._1 > firstEmit.get && p._2 > 0)
    assert(laterInput.nonEmpty,
      s"state only flushed at end-of-replay — no input after first emit: $prog")
    // and the emitted sessions are the batch truth
    val out = spark.table(sink).filter(col("user_id") >= 0L)
      .dropDuplicates("user_id", "start_ms")
      .select("user_id", "start_ms", "end_ms", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, t0, t0 + 600000L, 2L),
      (2L, t0 + 3 * hour, t0 + 3 * hour, 1L),
      (2L, t0 + 6 * hour, t0 + 6 * hour, 1L),
      (2L, t0 + 9 * hour, t0 + 9 * hour, 1L)), out.toString)
  }
}
