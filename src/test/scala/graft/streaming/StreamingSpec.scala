package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite

/** Structured Streaming smoke: a JSON file source drives the same semantics
  * as the batch event queries (hourly windows, gap sessions).
  */
class StreamingSpec extends SparkSuite {

  private def writeEventsJson(): String = {
    val dir = Files.createTempDirectory("graftstream").toString
    // user 1: two sessions (gap > 30min); user 2: one session
    val lines = Seq(
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000Z","user_id":1,"event_type":"view","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:10:00.000Z","user_id":1,"event_type":"click","value":2.0,"props":"{}"}""",
      """{"event_id":3,"ts":"2024-01-01T01:30:00.000Z","user_id":1,"event_type":"view","value":3.0,"props":"{}"}""",
      """{"event_id":4,"ts":"2024-01-01T00:05:00.000Z","user_id":2,"event_type":"purchase","value":4.0,"props":"{}"}""",
      """{"event_id":5,"ts":"2024-01-01T00:20:00.000Z","user_id":2,"event_type":"view","value":5.0,"props":"{}"}""")
    Files.write(java.nio.file.Paths.get(dir, "events.json"),
      lines.mkString("\n").getBytes)
    dir
  }

  test("hourly windowed aggregation over a file stream") {
    val dir = writeEventsJson()
    val agg = EventStream.hourlyAgg(EventStream.readEvents(spark, dir, "json"))
    EventStream.runToMemory(agg, "hourly_out", OutputMode.Complete)
    val rows = spark.sql(
      "SELECT cast(hour_start AS STRING) h, event_type, cnt, val_sum FROM hourly_out ORDER BY 1, 2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 1L, 2.0),
      ("2024-01-01 00:00:00", "purchase", 1L, 4.0),
      ("2024-01-01 00:00:00", "view", 2L, 6.0),
      ("2024-01-01 01:00:00", "view", 1L, 3.0)))
  }

  test("streaming HLL sketch: hourly distinct users per type, exact at this scale") {
    val dir = writeEventsJson()
    val agg = EventStream.hourlyDistinctUsers(EventStream.readEvents(spark, dir, "json"))
    EventStream.runToMemory(agg, "hll_out", OutputMode.Complete)
    val rows = spark.sql(
      "SELECT cast(hour_start AS STRING) h, event_type, approx_users FROM hll_out ORDER BY 1, 2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 1L),
      ("2024-01-01 00:00:00", "purchase", 1L),
      ("2024-01-01 00:00:00", "view", 2L),
      ("2024-01-01 01:00:00", "view", 1L)))
    // the emitted binary sketches roll up like the batch sketch table
    val total = spark.sql("SELECT * FROM hll_out")
    assert(graft.ops.Sketches.estimateAll(total) == 2L) // users 1 and 2
  }

  test("HLL sketch store: per-batch sketches union to exactly the batch estimate") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graftsketch_src").toString
    val store = Files.createTempDirectory("graftsketch_store").toString + "/sketches"
    val ckpt = Files.createTempDirectory("graftsketch_ck").toString
    def ev(id: Long, ts: String, user: Long, typ: String) =
      s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$typ","value":1.0,"props":"{}"}"""
    // two micro-batches with overlapping users across batches and hours
    val f0 = java.nio.file.Paths.get(dir, "b0.json")
    val f1 = java.nio.file.Paths.get(dir, "b1.json")
    Files.write(f0, Seq(
      ev(1, "2024-01-01T00:01:00.000Z", 1, "view"),
      ev(2, "2024-01-01T00:02:00.000Z", 2, "view"),
      ev(3, "2024-01-01T00:03:00.000Z", 1, "click")).mkString("\n").getBytes)
    Files.write(f1, Seq(
      ev(4, "2024-01-01T00:40:00.000Z", 2, "view"),
      ev(5, "2024-01-01T00:41:00.000Z", 3, "view"),
      ev(6, "2024-01-01T01:05:00.000Z", 1, "view")).mkString("\n").getBytes)
    f0.toFile.setLastModified(1000000L)
    f1.toFile.setLastModified(2000000L)

    val stream = spark.readStream.schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", 1).json(dir)
    EventStream.sketchStoreSink(stream, store, ckpt).awaitTermination()

    // the store really is per-batch (two micro-batches appended separately)
    val sk = spark.read.parquet(store)
    assert(sk.select("batch_id").distinct().count() == 2)
    // hour 00 'view' has sketch rows from BOTH batches (users {1,2} and {2,3})
    assert(sk.filter(col("event_type") === "view" &&
      hour(col("hour_start")) === 0).count() == 2)

    // serving by union == one-shot batch estimate on the raw data, exactly
    val served = EventStream.servedDistinctUsers(spark, store,
        Seq("hour_start", "event_type"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = spark.read.schema(EventStream.eventSchema).json(dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("approx_users"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(served == batch && served.nonEmpty)
    // exact at this cardinality: hour-0 view = users {1,2,3}
    assert(served.exists { case (h, t, n) => h.startsWith("2024-01-01 00") && t == "view" && n == 3L })

    // coarser rollups reuse the SAME store — no raw-event rescan
    val byType = EventStream.servedDistinctUsers(spark, store, Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("view" -> 3L, "click" -> 1L))
  }

  test("stream-stream join: errors matched to recent purchases per user") {
    val dir = java.nio.file.Files.createTempDirectory("graftss").toString
    val lines = Seq(
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000Z","user_id":1,"event_type":"purchase","value":9.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:10:00.000Z","user_id":1,"event_type":"error","value":0.0,"props":"{}"}""",
      """{"event_id":3,"ts":"2024-01-01T02:00:00.000Z","user_id":1,"event_type":"error","value":0.0,"props":"{}"}""",
      """{"event_id":4,"ts":"2024-01-01T00:05:00.000Z","user_id":2,"event_type":"error","value":0.0,"props":"{}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "e.json"),
      lines.mkString("\n").getBytes)
    val joined = EventStream.errorsAfterPurchases(
      EventStream.readEvents(spark, dir, "json"))
    EventStream.runToMemory(joined, "ss_out", OutputMode.Append)
    val rows = spark.sql("SELECT event_id, purchase_value FROM ss_out ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // only error #2 is within 30 min of user 1's purchase; #3 is 2h later,
    // user 2 has no purchase
    assert(rows.toSeq == Seq((2L, 9.5)))
  }

  test("stateful gap sessionization emits closed sessions") {
    import spark.implicits._
    val dir = writeEventsJson()
    val events = EventStream.readEvents(spark, dir, "json")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val sessions = EventStream.sessionize(events)
    EventStream.runToMemory(sessions.toDF(), "sessions_out", OutputMode.Append)
    val rows = spark.sql("SELECT user_id, n_events FROM sessions_out ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // user 1's first session (2 events) closes in-batch via the 80-min gap;
    // open sessions (user 1 second, user 2 only) remain in state
    assert(rows.toSeq == Seq((1L, 2L)))
  }

  test("streaming MinHash near-dup screen against a static corpus") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and then naps " +
      "under the old oak tree while birds sing softly in the warm afternoon sun"
    val corpus = Seq(
      (100L, body),
      (101L, "entirely different text about catalyst optimizer rules and physical plan selection in distributed query engines today")
    ).toDF("doc_id", "text")

    val dir = Files.createTempDirectory("graftdocs").toString
    def esc(s: String) = s // no special chars in fixtures
    val lines = Seq(
      s"""{"doc_id":1,"text":"${esc(body)}","lang":"en","source":"s1","n_chars":${body.length}}""",
      s"""{"doc_id":2,"text":"totally fresh content no overlap with anything stored before today","lang":"en","source":"s1","n_chars":60}""")
    Files.write(java.nio.file.Paths.get(dir, "docs.json"),
      lines.mkString("\n").getBytes)

    val flagged = DocStream.nearDupAgainstCorpus(
      DocStream.readDocs(spark, dir), corpus)
    EventStream.runToMemory(flagged, "neardup_out", OutputMode.Append)
    val rows = spark.sql("SELECT doc_id, corpus_doc_id FROM neardup_out ORDER BY 1, 2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 IS corpus doc 100 (jaccard 1.0 -> every band collides);
    // doc 2 matches nothing
    assert(rows.toSeq == Seq((1L, 100L)))
  }

  test("versioned sink: each micro-batch lands as its own ingest_batch; consumers follow") {
    val srcDir = Files.createTempDirectory("graftvsink_src").toString
    val storeDir = new java.io.File(
      Files.createTempDirectory("graftvsink_store").toFile, "store").toString
    def writeDocs(name: String, ids: Seq[Long]): Unit = {
      val lines = ids.map(i =>
        s"""{"doc_id":$i,"text":"doc number $i","lang":"${if (i % 2 == 0) "en" else "fr"}","source":"s1","n_chars":12}""")
      Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes)
      ()
    }
    writeDocs("b0.json", Seq(1L, 2L))
    val ckpt = Files.createTempDirectory("graftvsink_ck").toString
    def runOnce(): Unit = {
      val q = DocStream.versionedSink(
        DocStream.readDocs(spark, srcDir), storeDir, ckpt, "lang", Seq("doc_id"))
      q.awaitTermination()
    }
    runOnce()
    // consumer sees batch 0 in full, commits, then a second file arrives
    val (fresh0, upTo0) = graft.ops.Layout.readNew(spark, storeDir, "trainer")
    assert(fresh0.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L))
    graft.ops.Layout.commitCheckpoint(storeDir, "trainer", upTo0)
    writeDocs("b1.json", Seq(3L, 4L, 5L))
    runOnce() // AvailableNow restart from the same checkpoint: only b1 is new
    val (fresh1, upTo1) = graft.ops.Layout.readNew(spark, storeDir, "trainer")
    assert(fresh1.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(3L, 4L, 5L))
    assert(upTo1 > upTo0)
    // the store itself holds everything exactly once
    assert(spark.read.parquet(storeDir).count() === 5L)
  }

  test("curation ingest loop: later batches screen against earlier admissions") {
    val body = "the quick brown fox jumps over the lazy dog and then naps " +
      "under the old oak tree while birds sing softly in the warm afternoon sun"
    val other = "catalyst rewrites logical plans into physical operators using " +
      "cost estimates statistics and pluggable strategies during query planning"
    val srcDir = Files.createTempDirectory("graftcurate_src").toString
    val curated = Files.createTempDirectory("graftcurate_out").toString + "/curated"
    val ckpt = Files.createTempDirectory("graftcurate_ck").toString

    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""

    // batch 1: two novel docs (plus an in-batch exact dup of doc 1)
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      Seq(doc(1, body), doc(2, other), doc(3, body)).mkString("\n").getBytes)
    DocStream.curateStream(DocStream.readDocs(spark, srcDir), curated, ckpt)
      .awaitTermination()
    // batch 2 (same checkpoint -> only the new file): a near-dup of doc 1
    // (one word appended) and one genuinely new doc
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      Seq(doc(4, body + " again"),
        doc(5, "totally new content about shuffle partitioning and adaptive execution at runtime today")).mkString("\n").getBytes)
    DocStream.curateStream(DocStream.readDocs(spark, srcDir), curated, ckpt)
      .awaitTermination()

    val admitted = spark.read.parquet(curated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 3 dropped in-batch (exact dup), 4 dropped against batch-1 admissions
    assert(admitted == Set(1L, 2L, 5L))
  }

  test("state-store dedup: first content arrival wins across micro-batches") {
    val srcDir = Files.createTempDirectory("graftss_src").toString
    val outDir = Files.createTempDirectory("graftss_out").toString + "/out"
    val ckpt = Files.createTempDirectory("graftss_ck").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    def runOnce(): Unit =
      DocStream.dedupStream(DocStream.readDocs(spark, srcDir))
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    // batch 1: a + b, plus an in-batch dup of a
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      Seq(doc(1, "alpha content"), doc(2, "beta content"),
        doc(3, "alpha content")).mkString("\n").getBytes)
    runOnce()
    // batch 2: cross-batch dup of b (state store remembers), plus new c
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      Seq(doc(4, "beta content"), doc(5, "gamma content")).mkString("\n").getBytes)
    runOnce()
    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one of {1,3} survives the in-batch dup (arrival order within a
    // partition is not contractual); 4 is deduped against batch-1 STATE,
    // not a table scan
    assert(kept.intersect(Set(1L, 3L)).size == 1 &&
      kept.contains(2L) && kept.contains(5L) && !kept.contains(4L),
      s"kept=$kept")
    // the fingerprint working column never leaks into the output schema
    assert(!spark.read.parquet(outDir).columns.contains("__fp"))
  }

  test("ingestSink: a micro-batch replayed after a crash between write and commit lands exactly once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("graftreplay_src").toString
    val store = Files.createTempDirectory("graftreplay_st").toString + "/store"
    val ckpt = Files.createTempDirectory("graftreplay_ck").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    val seenBatches = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the SAME store write ingestSink's foreachBatch makes, plus an
    // injected crash AFTER the write and BEFORE Spark can record the
    // batch commit in the checkpoint — the exact failure window the
    // at-least-once scaladocs describe
    def run(crashAfterWrite: Boolean): Unit = {
      val q = DocStream.readDocs(spark, srcDir).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          seenBatches += id
          graft.ops.Layout.ingest(b, store, "lang", Seq("doc_id"), col("doc_id"))
          if (crashAfterWrite)
            throw new RuntimeException("simulated crash after write, before commit")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      Seq(doc(1, "alpha"), doc(2, "beta")).mkString("\n").getBytes)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAfterWrite = true)
    }
    // the write DID land before the crash — that is the hazard
    assert(spark.read.parquet(store).count() === 2L)
    // restart: offsets exist for batch 0 but no commit, so Spark REPLAYS
    // it — the ingest screen must absorb the duplicate delivery
    run(crashAfterWrite = false)
    assert(seenBatches.count(_ == 0L) === 2L,
      s"batch 0 was not replayed (seen=$seenBatches) — the test lost its hazard")
    val afterReplay = spark.read.parquet(store)
    assert(afterReplay.count() === 2L, "replayed batch appended again")
    assert(afterReplay.select("doc_id").distinct().count() === 2L)
    // a later batch re-sending doc 1's key plus a new doc: only the new
    // one lands (the same screen is the cross-batch dedup)
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      Seq(doc(1, "alpha"), doc(3, "gamma")).mkString("\n").getBytes)
    run(crashAfterWrite = false)
    val finalRows = spark.read.parquet(store)
    assert(finalRows.count() === 3L)
    assert(finalRows.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L))
    // negative control: the plain versioned (append) sink under the SAME
    // crash sequence double-lands the replayed batch — proving the replay
    // is real and the screen, not luck, is what absorbed it above
    val store2 = Files.createTempDirectory("graftreplay_s2").toString + "/st"
    val ckpt2 = Files.createTempDirectory("graftreplay_c2").toString
    val src2 = Files.createTempDirectory("graftreplay_r2").toString
    Files.write(java.nio.file.Paths.get(src2, "b1.json"),
      Seq(doc(1, "alpha"), doc(2, "beta")).mkString("\n").getBytes)
    def runAppend(crash: Boolean): Unit = {
      val q = DocStream.readDocs(spark, src2).writeStream
        .option("checkpointLocation", ckpt2)
        .foreachBatch { (b: DataFrame, _: Long) =>
          graft.ops.Layout.appendBatch(b, store2, "lang", Seq("doc_id"))
          if (crash) throw new RuntimeException("crash")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runAppend(crash = true)
    }
    runAppend(crash = false)
    assert(spark.read.parquet(store2).count() === 4L,
      "at-least-once append should have double-landed the replayed batch")
  }

  test("state-store dedup: null-text documents all pass through, never deduped") {
    val srcDir = Files.createTempDirectory("graftssn_src").toString
    val outDir = Files.createTempDirectory("graftssn_out").toString + "/out"
    val ckpt = Files.createTempDirectory("graftssn_ck").toString
    def doc(id: Long, text: String) = {
      val t = if (text == null) "null" else s""""$text""""
      s"""{"doc_id":$id,"text":$t,"lang":"en","source":"s","n_chars":0}"""
    }
    def runOnce(): Unit =
      DocStream.dedupStream(DocStream.readDocs(spark, srcDir))
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    // three null-text docs across two batches plus a real dup pair: nulls
    // carry no content to be duplicate OF (md5(NULL) keys would otherwise
    // compare equal and drop 7 and 9 silently)
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      Seq(doc(6, null), doc(7, null), doc(8, "real content")).mkString("\n").getBytes)
    runOnce()
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      Seq(doc(9, null), doc(10, "real content")).mkString("\n").getBytes)
    runOnce()
    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(6L, 7L, 8L, 9L), s"kept=$kept")
  }

  test("streaming line dedup equals batch lineDedup over the concatenated stream") {
    val srcDir = Files.createTempDirectory("graftline_src").toString
    val curated = Files.createTempDirectory("graftline_out").toString + "/curated"
    val ckpt = Files.createTempDirectory("graftline_ck").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    // width-4 lines; "a b c d" recurs within batch 1 AND again in batch 2
    val b1 = Seq(
      doc(1, "a b c d x y z w"),
      doc(2, "a b c d q r s t"))
    val b2 = Seq(
      doc(3, "a b c d n o p q"), // line 1 dup of batch-1 admission
      doc(4, "x y z w"))         // entirely a duplicate -> dropped
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      b1.mkString("\n").getBytes)
    DocStream.lineDedupStream(DocStream.readDocs(spark, srcDir), curated, ckpt,
      width = 4).awaitTermination()
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      b2.mkString("\n").getBytes)
    DocStream.lineDedupStream(DocStream.readDocs(spark, srcDir), curated, ckpt,
      width = 4).awaitTermination()

    val got = spark.read.parquet(curated)
      .select("doc_id", "text", "n_lines", "n_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    // batch twin over the whole input (ids follow arrival order), minus
    // the all-duplicate docs the stream drops
    import spark.implicits._
    val all = (b1 ++ b2).map { j =>
      val id = """"doc_id":(\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
      val tx = """"text":"([^"]*)"""".r.findFirstMatchIn(j).get.group(1)
      (id, tx)
    }.toDF("doc_id", "text")
    val expect = graft.ops.Dedup.lineDedup(all, "doc_id", "text", width = 4)
      .filter($"n_kept" > 0)
      .select($"doc_id", $"rebuilt", $"n_lines", $"n_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    assert(!got.map(_._1).contains(4L))
  }

  test("curation bloom prefilter changes cost, never admissions") {
    val body = "the quick brown fox jumps over the lazy dog and then naps " +
      "under the old oak tree while birds sing softly in the warm afternoon sun"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    def runLoop(exactPrefilter: Boolean): Set[Long] = {
      val srcDir = Files.createTempDirectory("graftbloomcur_src").toString
      val curated = Files.createTempDirectory("graftbloomcur_out").toString + "/curated"
      val ckpt = Files.createTempDirectory("graftbloomcur_ck").toString
      // batch 1: two novel docs + an in-batch exact dup
      Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
        Seq(doc(1, body), doc(2, "some completely distinct second document"),
          doc(3, body)).mkString("\n").getBytes)
      DocStream.curateStream(DocStream.readDocs(spark, srcDir), curated, ckpt,
        exactPrefilter = exactPrefilter).awaitTermination()
      // batch 2: an exact dup of an admitted doc (the bloom-probe + confirm
      // path), a near-dup (caught by the band screen AFTER the prefilter
      // passes it), one genuinely new doc, and a NULL-text doc — md5(null)
      // is null, so without the explicit null arm the probe null-propagates
      // and both prefilter branches would drop it, breaking the
      // admissions-identical invariant this test asserts
      Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
        Seq(doc(4, body), doc(5, body + " again"),
          doc(6, "fresh text about adaptive query execution and shuffles"),
          s"""{"doc_id":7,"text":null,"lang":"en","source":"s","n_chars":0}""")
          .mkString("\n").getBytes)
      DocStream.curateStream(DocStream.readDocs(spark, srcDir), curated, ckpt,
        exactPrefilter = exactPrefilter).awaitTermination()
      spark.read.parquet(curated).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val withBloom = runLoop(exactPrefilter = true)
    // 3 in-batch dup, 4 exact dup, 5 near-dup; 7 (null text) ADMITTED
    assert(withBloom == Set(1L, 2L, 6L, 7L))
    assert(withBloom == runLoop(exactPrefilter = false))
  }

  test("curation loop FAILS the batch on a corrupt corpus instead of admitting dups") {
    // a real read failure must not be mistaken for "first batch, empty
    // corpus" — that would silently disengage the near-dup screen
    val srcDir = Files.createTempDirectory("graftcorrupt_src").toString
    val curated = Files.createTempDirectory("graftcorrupt_out").toString + "/curated"
    val ckpt = Files.createTempDirectory("graftcorrupt_ck").toString
    Files.createDirectories(java.nio.file.Paths.get(curated))
    Files.write(java.nio.file.Paths.get(curated, "part-0000.parquet"),
      "this is not a parquet file".getBytes)
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      """{"doc_id":1,"text":"some document text here","lang":"en","source":"s","n_chars":23}""".getBytes)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      DocStream.curateStream(DocStream.readDocs(spark, srcDir), curated, ckpt)
        .awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(ex).toLowerCase.contains("parquet") || msgs(ex).nonEmpty)
  }

  test("stateful streaming packer: shard counter carries across micro-batches") {
    val dir = Files.createTempDirectory("graftpack").toString
    def doc(id: Long, lang: String, words: Int) =
      s"""{"doc_id":$id,"text":"${Seq.fill(words)("w").mkString(" ")}","lang":"$lang","source":"s","n_chars":${2 * words}}"""
    // batch 1: en docs 1 (6 tok) + 2 (5 tok); batch 2: en doc 3 (4 tok), fr doc 4 (2 tok)
    val f0 = java.nio.file.Paths.get(dir, "b0.json")
    val f1 = java.nio.file.Paths.get(dir, "b1.json")
    Files.write(f0, Seq(doc(1, "en", 6), doc(2, "en", 5)).mkString("\n").getBytes)
    Files.write(f1, Seq(doc(3, "en", 4), doc(4, "fr", 2)).mkString("\n").getBytes)
    f0.toFile.setLastModified(1000000L) // force b0 before b1 in the source log
    f1.toFile.setLastModified(2000000L)

    val stream = spark.readStream.schema(DocStream.docSchema)
      .option("maxFilesPerTrigger", 1).json(dir)
    val packed = DocStream.packStream(DocStream.toPackDocs(stream), budget = 10L)
    EventStream.runToMemory(packed.toDF(), "pack_out", OutputMode.Append)
    val rows = spark.sql("SELECT lang, doc_id, shard FROM pack_out ORDER BY lang, doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // en: doc1 before=0 → shard 0; doc2 before=6 → shard 0; doc3 arrives in
    // batch 2 with before=11 → shard 1 ONLY if state survived the batch
    // boundary (stateless would restart at shard 0)
    assert(rows.toSeq == Seq(("en", 1L, 0L), ("en", 2L, 0L), ("en", 3L, 1L),
      ("fr", 4L, 0L)))

    // the mapGroupsWithState monitoring face: latest per-lang summary
    val prog = DocStream.packProgress(DocStream.toPackDocs(
      spark.readStream.schema(DocStream.docSchema).json(dir)), budget = 10L)
    EventStream.runToMemory(prog.toDF(), "pack_prog", OutputMode.Update)
    val p = spark.sql(
      "SELECT lang, n_docs, cum_tokens, open_shard, tokens_into_shard FROM pack_prog " +
      "WHERE (lang, n_docs) IN (SELECT lang, max(n_docs) FROM pack_prog GROUP BY lang) ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(p.toSeq == Seq(("en", 3L, 15L, 1L, 5L), ("fr", 1L, 2L, 0L, 2L)))
  }

  test("streaming IVF probe equals batch ivfTopK on the same queries") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCells = 4, seed = 5L)
    // query frame: 10 corpus vectors under their own qid, staged to a dir
    // so the file source can stream them
    val stageDir = Files.createTempDirectory("graftivfq").toString
    corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
      .write.mode("overwrite").parquet(stageDir)
    val qSchema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(qSchema).parquet(stageDir)
    val topk = Similarity.ivfTopKStream(idx, stream,
      "vec_id", "qid", "embedding", k = 3, nProbe = 2)
    // no watermark on the query stream -> Complete output to the memory sink
    EventStream.runToMemory(topk, "ivf_stream_out", OutputMode.Complete)
    val streamed = spark.sql(
      "SELECT qid, vec_id, round(cos, 9) c FROM ivf_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val batchQ = spark.read.parquet(stageDir)
    val batch = Similarity.ivfTopK(idx, batchQ,
        "vec_id", "qid", "embedding", k = 3, nProbe = 2)
      .select(col("qid"), col("vec_id"), round(col("cos"), 9).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.groupBy(_._1).forall(_._2.size == 3)) // k rows per query
  }

  test("packStream over the documents table equals the batch packer (q_pack_sequences semantics)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // stream the real sf0.001 documents parquet (file source needs a
    // directory; stage the single file into one); within-batch order is
    // doc_id per the packer contract, matching the batch window's ORDER BY
    val stageDir = Files.createTempDirectory("graftpackdocs")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      stageDir.resolve("documents.parquet"))
    val stream = spark.readStream.schema(DocStream.docSchema)
      .parquet(stageDir.toString)
    val packed = DocStream.packStream(DocStream.toPackDocs(stream), budget = 2048L)
    EventStream.runToMemory(packed.toDF(), "pack_docs_out", OutputMode.Append)
    val streamed = spark.sql("SELECT lang, doc_id, shard FROM pack_docs_out")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    val ntok = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long")
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("lang"), col("doc_id"), ntok.as("n_tok"))
      .withColumn("shard",
        (coalesce(sum(col("n_tok")).over(w), lit(0L)) / 2048L).cast("long"))
      .select("lang", "doc_id", "shard")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming drift monitor: per-batch TV against a pinned reference") {
    import java.nio.file.Files
    import spark.implicits._
    val ref = (1 to 100).map(i => 100.0 + i % 50).toDF("v")
    val src = Files.createTempDirectory("graftdrift").toString
    // same-bucket values -> TV 0 vs the reference; disjoint bucket -> TV 1
    Files.write(java.nio.file.Paths.get(src, "a.json"),
      (1 to 80).map(i => s"""{"v":${110.0 + i % 30}}""").mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(src, "b.json"),
      (1 to 40).map(i => s"""{"v":${400.0 + i % 10}}""").mkString("\n").getBytes)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1) // one micro-batch per file
      .json(src)
    val mon = Files.createTempDirectory("graftdriftmon").toString + "/out"
    val ckpt = Files.createTempDirectory("graftdriftck").toString
    val q = DocStream.driftMonitor(stream, ref, "v",
      lo = 0.0, width = 50.0, buckets = 10, mon, ckpt)
    q.awaitTermination()
    val rows = spark.read.parquet(mon)
      .collect()
      .map(r => r.getLong(2) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(rows.keySet == Set(80L, 40L)) // keyed by n_cur
    assert(rows(80L)._1 == 0.0, "identically-bucketed batch drifts TV 0")
    assert(rows(40L)._1 == 1.0, "disjoint batch is maximal TV drift")
    // the log-sensitive pair agrees directionally: in-distribution batch
    // far below any alarm threshold, disjoint batch far above
    assert(rows(80L)._2 < 0.1 && rows(80L)._3 < 0.1,
      s"in-distribution batch should be quiet (psi/ks = ${rows(80L)})")
    assert(rows(40L)._2 > 0.25 && rows(40L)._3 > 0.9,
      s"disjoint batch should alarm on psi and ks (${rows(40L)})")
    // JS: identical batch exactly 0; disjoint distributions hit the ln 2
    // pole value (every bucket one-sided -> p*ln 2 terms summing to ln 2)
    assert(rows(80L)._4 == 0.0, "identical batch has JS 0")
    assert(rows(40L)._4 > 0.69, s"disjoint batch JS should be ~ln 2 (${rows(40L)._4})")
    // replayability: the streaming alerts equal the batch-gate computation
    val curB = (1 to 40).map(i => 400.0 + i % 10).toDF("v")
    val hist = graft.ops.Validate.driftHistogram(ref, curB, "v", 0.0, 50.0, 10)
      .localCheckpoint(true)
    assert(graft.ops.Validate.totalVariation(hist).head().getDouble(2)
      == rows(40L)._1)
    assert(graft.ops.Validate.psi(hist).head().getDouble(2) == rows(40L)._2)
    assert(graft.ops.Validate.ksStatistic(hist).head().getDouble(2)
      == rows(40L)._3)
    assert(graft.ops.Validate.jsDivergence(hist).head().getDouble(2)
      == rows(40L)._4)
  }

  test("export hash split runs unchanged on a streaming frame (stateless)") {
    val dir = Files.createTempDirectory("graftsplit").toString
    val lines = (1 to 40).map(i =>
      s"""{"doc_id":$i,"text":"doc number $i","lang":"en","source":"s1","n_chars":12}""")
    Files.write(java.nio.file.Paths.get(dir, "docs.json"),
      lines.mkString("\n").getBytes)
    // the same stateless plan fragment as batch: withColumn over md5 —
    // no state store, no watermark needed, Append mode
    val split = graft.ops.Export.hashSplit(
      DocStream.readDocs(spark, dir).select("doc_id"), "doc_id", "s1")
    EventStream.runToMemory(split, "split_out", OutputMode.Append)
    val got = spark.sql("SELECT doc_id, split FROM split_out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // byte-identical to the batch assignment of the same ids
    val spark2 = spark
    import spark2.implicits._
    val batch = graft.ops.Export.hashSplit(
      (1 to 40).map(_.toLong).toDF("doc_id"), "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === batch)
  }

  test("streaming count-min maintenance: per-batch cells merged by addition equal the batch build") {
    import org.apache.spark.sql.functions._
    val srcDir = Files.createTempDirectory("graftcms_src").toString
    val cellDir = Files.createTempDirectory("graftcms_cells").toString + "/cells"
    val ckpt = Files.createTempDirectory("graftcms_ck").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    def runOnce(): Unit =
      DocStream.readDocs(spark, srcDir).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // the mergeability contract IS the maintenance strategy: sketch
          // the batch alone, cell-wise add into the persisted table
          val delta = graft.ops.Sketches.countMinCells(b, "text")
          val merged =
            if (new java.io.File(cellDir).exists())
              spark.read.parquet(cellDir).unionByName(delta)
                .groupBy("j", "h").agg(sum("c").as("c"))
            else delta
          merged.localCheckpoint(true) // cut self-read before overwrite
            .write.mode("overwrite").parquet(cellDir)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    val texts1 = (1 to 30).map(i => s"token${i % 7}")
    val texts2 = (1 to 20).map(i => s"token${i % 11}")
    Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      texts1.zipWithIndex.map { case (t, i) => doc(i, t) }.mkString("\n").getBytes)
    runOnce()
    Files.write(java.nio.file.Paths.get(srcDir, "b2.json"),
      texts2.zipWithIndex.map { case (t, i) => doc(100 + i, t) }.mkString("\n").getBytes)
    runOnce()
    val spark2 = spark
    import spark2.implicits._
    val whole = graft.ops.Sketches.countMinCells(
      (texts1 ++ texts2).toDF("text"), "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    assert(rows(spark.read.parquet(cellDir)) === rows(whole))
  }
}
