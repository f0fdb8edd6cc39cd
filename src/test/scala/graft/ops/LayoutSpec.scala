package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Structural assertions for the partition-directory layout path:
  * clustering (one file per partition dir), pruned reads (only matching
  * directories opened), fragmentation + compaction, and in-file sort order.
  * The data path (write → read → aggregate equality vs the original table)
  * is under the DuckDB hash gate via SinkOps' q_layout_roundtrip /
  * q_compact_roundtrip / q_orc_roundtrip.
  */
class LayoutSpec extends SparkSuite {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("layout_spec_").toFile
    d.deleteOnExit()
    new java.io.File(d, "store").getAbsolutePath
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("writePartitioned lands ONE file per partition directory") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    val fpp = Layout.filesPerPartition(dir)
    assert(fpp.nonEmpty)
    assert(fpp.values.forall(_ == 1), s"expected 1 file/dir, got $fpp")
  }

  test("a lang filter on the partitioned store opens only that directory") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    val totalFiles = Layout.filesPerPartition(dir).values.sum
    assert(totalFiles > 1, "need multiple partition dirs for pruning to mean anything")
    // numFiles is a SCAN metric, so it reflects partition pruning (unlike
    // df.inputFiles, which lists the relation's files before pruning).
    // AQE off so executedPlan is the direct physical plan.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = Layout.read(spark, dir).filter(col("lang") === "en")
      // collect() (not count()) so the inspected queryExecution is the one
      // that actually ran — count() plans a separate aggregate query
      val n = pruned.collect().length.toLong
      assert(n === docs.filter(col("lang") === "en").count())
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val opened = scans.map(_.metrics("numFiles").value).sum
      assert(opened === 1L,
        s"pruned scan opened $opened of $totalFiles files; expected 1 (lang=en only)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("maxRecordsPerFile fragments; compact rewrites to one sorted file per dir") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"), maxRecordsPerFile = 8L)
    val before = Layout.filesPerPartition(dir)
    assert(before.values.sum > before.size, s"expected fragmentation, got $before")

    Layout.compact(spark, dir, "lang", Seq("doc_id"))
    val after = Layout.filesPerPartition(dir)
    assert(after.values.forall(_ == 1), s"compaction left multiple files: $after")

    // every row survived the rewrite-and-commit, and files are sorted
    // inside: reading one file's rows in file order must show
    // non-decreasing doc_id
    val back = Layout.read(spark, dir)
    assert(back.count() === docs.count())
    val oneFile = back.inputFiles.head
    val ids = spark.read.parquet(oneFile).select("doc_id")
      .collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "rows inside a compacted file are not sorted by doc_id")
  }

  test("Database.open discovers a Layout store as a table (no .parquet suffix)") {
    val dbDir = java.nio.file.Files.createTempDirectory("layout_db_").toFile
    dbDir.deleteOnExit()
    // one plain table + one partitioned store side by side
    docs.limit(10).write.parquet(new java.io.File(dbDir, "plain.parquet").getAbsolutePath)
    Layout.writePartitioned(docs, new java.io.File(dbDir, "docstore").getAbsolutePath,
      "lang", Seq("doc_id"))
    val db = graft.api.Database.open(spark, dbDir.getAbsolutePath)
    assert(db.tables.toSet === Set("plain", "docstore"))
    val en = db("docstore")
    assert(en.toDf.where(col("lang") === "en").count() ===
      docs.filter(col("lang") === "en").count())
  }

  test("Database.open reads each store through its commit: a compacted " +
      "store once, a store caught mid-commit as its pre-state") {
    val dbDir = java.nio.file.Files.createTempDirectory("layout_db_").toFile
    dbDir.deleteOnExit()
    val (even, odd) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    // append + compact: the superseded fragments stay on disk (the
    // previous version), and a directory read would count them twice
    val compacted = new java.io.File(dbDir, "compacted").getAbsolutePath
    Layout.writePartitioned(even, compacted, "lang", Seq("doc_id"))
    Layout.append(odd, compacted, "lang", Seq("doc_id"))
    Layout.compactPartitions(spark, compacted, Seq("doc_id"))
    assert(PointerStore.dataFiles(compacted).size >
      PointerStore.liveFiles(compacted).size, "no superseded file on disk")
    // a store caught mid-commit: a staged dir, an orphan moved in, and a
    // torn next commit
    val crashed = new java.io.File(dbDir, "crashed").getAbsolutePath
    Layout.writePartitioned(even, crashed, "lang", Seq("doc_id"))
    val live = PointerStore.liveFiles(crashed)
    Fs.writeBytes(Fs.path(s"$crashed/lang=en/part-orphan.parquet"),
      Fs.readBytes(Fs.path(s"$crashed/${live.head}")))
    Fs.mkdirs(Fs.path(s"$crashed/_stage_crashed/lang=en"))
    Fs.writeBytes(Fs.path(s"$crashed/_stage_crashed/lang=en/part-0.parquet"),
      Fs.readBytes(Fs.path(s"$crashed/${live.head}")))
    Fs.writeUTF8(Fs.path(s"$crashed/_commits/v00000002.commit"),
      "#graft-pointer v1\nlang=en/part-orphan.parquet")
    val db = graft.api.Database.open(spark, dbDir.getAbsolutePath)
    assert(db.tables === Seq("compacted", "crashed"))
    assert(db("compacted").len === docs.count())
    assert(db("crashed").len === even.count())
    db.exit()

    // a reopen after a new commit recomputes spilled stats, never serves
    val spill = java.nio.file.Files.createTempDirectory("layout_spill_")
      .toFile.getAbsolutePath
    val first = graft.api.Database.open(spark, dbDir.getAbsolutePath,
      cacheDir = spill)
    def chars(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum("n_chars")).head().getLong(0).toDouble
    assert(first("compacted").col("n_chars").sum === chars(docs))
    first.exit()
    val five = docs.orderBy("doc_id").limit(5)
    Layout.append(five, compacted, "lang", Seq("doc_id"))
    val again = graft.api.Database.open(spark, dbDir.getAbsolutePath,
      cacheDir = spill)
    assert(again.cache.size === 0, "a spill of the previous version was served")
    assert(again("compacted").col("n_chars").sum ===
      chars(docs) + chars(five))
    again.exit()
  }

  test("append reads its batch once: an n-row batch into an absent store " +
      "reads n input records") {
    val dir = freshDir()
    val n = docs.count()
    val meter = new graft.QueryMeter(spark)
    val s = try meter.measure(Layout.append(docs, dir, "lang", Seq("doc_id")))
      finally meter.close()
    assert(s.inputRecords === n)
    assert(Layout.read(spark, dir).count() === n)
  }

  test("append fragments one file per batch per dir; ingest screens store dups") {
    val dir = freshDir()
    val even = docs.filter(col("doc_id") % 2 === 0)
    Layout.writePartitioned(even, dir, "lang", Seq("doc_id"))
    // plain append of the odd half: every touched dir gains exactly 1 file
    Layout.append(docs.filter(col("doc_id") % 2 === 1), dir, "lang", Seq("doc_id"))
    assert(Layout.filesPerPartition(dir).values.forall(_ == 2))
    assert(Layout.read(spark, dir).count() === docs.count())
    // screened ingest of the SAME corpus again: every text already present
    Layout.ingest(docs, dir, "lang", Seq("doc_id"), md5(col("text")))
    assert(Layout.read(spark, dir).count() === docs.count(),
      "re-ingesting already-stored content must append nothing")
    // a genuinely new row passes the screen
    val extra = docs.limit(1)
      .withColumn("doc_id", lit(999999L))
      .withColumn("text", lit("a string no other fixture doc contains xq"))
    Layout.ingest(extra, dir, "lang", Seq("doc_id"), md5(col("text")))
    assert(Layout.read(spark, dir).count() === docs.count() + 1)
  }

  test("compactPartitions rewrites ONLY fragmented dirs, crash-recoverably") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    // fragment exactly ONE language by appending its slice again twice
    val langs = Layout.filesPerPartition(dir).keys.toSeq.sorted
    assert(langs.size > 1)
    val hot = langs.head.stripPrefix("lang=")
    val slice = docs.filter(col("lang") === hot)
    Layout.append(slice, dir, "lang", Seq("doc_id"))
    Layout.append(slice, dir, "lang", Seq("doc_id"))
    val expected = docs.count() + 2 * slice.count()
    // record the untouched dirs' file listing — partition-level compaction
    // must not even rewrite them
    def listing(pd: String): Seq[String] =
      Option(new java.io.File(s"$dir/$pd").listFiles()).getOrElse(Array.empty)
        .map(f => f.getName + ":" + f.lastModified).toSeq.sorted
    val coldBefore = langs.tail.map(pd => pd -> listing(pd)).toMap

    val compacted = Layout.compactPartitions(spark, dir, Seq("doc_id"))
    assert(compacted === Seq(s"lang=$hot"))
    val after = Layout.filesPerPartition(dir)
    assert(after(s"lang=$hot") === 1, s"hot dir not compacted: $after")
    langs.tail.foreach(pd =>
      assert(listing(pd) === coldBefore(pd), s"cold dir $pd was touched"))
    assert(Layout.read(spark, dir).count() === expected)
    // and rows inside the rewritten file are sorted
    val hotFile = PointerStore.liveFiles(dir).filter(_.startsWith(s"lang=$hot/"))
    assert(hotFile.size === 1)
    val ids = spark.read.parquet(s"$dir/${hotFile.head}")
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted))

    // a crash after the hot dir's rewrite moved in, before its commit
    // (injected at the 2nd filesystem mutation): the moved file is
    // unreferenced, so a reader sees the whole pre-crash store, and
    // recover reaps the stage leftover
    Layout.append(slice, dir, "lang", Seq("doc_id"))
    val crash =
      Faults.run(dir, 2)(Layout.compactPartitions(spark, dir, Seq("doc_id")))
    assert(crash.error.exists(Faults.injected))
    assert(Layout.read(spark, dir).count() === expected + slice.count(),
      "reader mid-crash must see the last committed store, never a " +
        "moved-in uncommitted file")
    PointerStore.recover(dir)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_stage_")))
    assert(Layout.read(spark, dir).count() === expected + slice.count())
  }

  test("ingest: null keys screen null-safely; absent store degrades to append") {
    val dir = freshDir()
    val twoNulls = docs.limit(4)
      .withColumn("text", when(col("doc_id") % 2 === 0, col("text")))
    // absent store dir: ingest must not throw, it IS the first append
    Layout.ingest(twoNulls, dir, "lang", Seq("doc_id"), md5(col("text")))
    val n = Layout.read(spark, dir).count()
    assert(n === 4)
    // re-ingest the same batch: the NULL-key rows must ALSO be screened
    // (null-safe compare) — a plain equi-anti-join would re-append them
    // on every ingest forever
    Layout.ingest(twoNulls, dir, "lang", Seq("doc_id"), md5(col("text")))
    assert(Layout.read(spark, dir).count() === n,
      "null-key rows duplicated on re-ingest: key compare is not null-safe")
  }

  test("ingestBloom equals exact ingest on a mostly-fresh batch") {
    val dirA = freshDir()
    val dirB = freshDir()
    val seed = docs.filter(col("doc_id") % 10 === 0)
    val batch = docs // 10% dups, 90% fresh — the bloom win case
    Layout.writePartitioned(seed, dirA, "lang", Seq("doc_id"))
    Layout.writePartitioned(seed, dirB, "lang", Seq("doc_id"))
    Layout.ingest(batch, dirA, "lang", Seq("doc_id"), md5(col("text")))
    Layout.ingestBloom(batch, dirB, "lang", Seq("doc_id"), md5(col("text")))
    val a = Layout.read(spark, dirA)
    val b = Layout.read(spark, dirB)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "bloom-prefiltered ingest diverged from the exact screen")
  }

  test("appendBatch versions the store; readSince prunes history directories") {
    val dir = freshDir()
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    assert(Layout.appendBatch(b0, dir, "lang", Seq("doc_id")) === 0L)
    assert(Layout.appendBatch(b1, dir, "lang", Seq("doc_id")) === 1L)
    assert(Layout.appendBatch(b2, dir, "lang", Seq("doc_id")) === 2L)
    assert(Layout.nextBatchId(dir) === 3L)
    // full read sees everything; incremental read sees batches 1..2 only
    assert(Layout.read(spark, dir).count() === docs.count())
    val since1 = Layout.readSince(spark, dir, 1L)
    assert(since1.count() === b1.count() + b2.count())
    // and the batch filter prunes at the DIRECTORY level: the scan opens
    // no batch-0 file (numFiles metric, AQE off — the LayoutSpec pruning
    // recipe)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val totalFiles = Layout.read(spark, dir).inputFiles.length
      val pruned = Layout.readSince(spark, dir, 2L)
      val n = pruned.collect().length.toLong
      assert(n === b2.count())
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val opened = scans.map(_.metrics("numFiles").value).sum
      assert(opened < totalFiles / 2,
        s"readSince(2) opened $opened of $totalFiles files — batch pruning lost")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("consumer checkpoints: readNew sees exactly the unprocessed batches") {
    val dir = freshDir()
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    Layout.appendBatch(b0, dir, "lang", Seq("doc_id"))
    Layout.appendBatch(b1, dir, "lang", Seq("doc_id"))
    // first-time consumer sees everything
    assert(Layout.lastCheckpoint(dir, "trainer") === -1L)
    val (fresh1, upTo1) = Layout.readNew(spark, dir, "trainer")
    assert(fresh1.count() === b0.count() + b1.count() && upTo1 === 1L)
    Layout.commitCheckpoint(dir, "trainer", upTo1)
    // nothing new until another batch lands
    val (none, upTo2) = Layout.readNew(spark, dir, "trainer")
    assert(none.count() === 0L && upTo2 === 1L)
    Layout.appendBatch(b2, dir, "lang", Seq("doc_id"))
    val (fresh2, upTo3) = Layout.readNew(spark, dir, "trainer")
    assert(fresh2.count() === b2.count() && upTo3 === 2L)
    // independent consumers do not share state
    assert(Layout.readNew(spark, dir, "embedder")._1.count() === docs.count())
    // the sidecar dir is invisible to plain readers of the store
    assert(spark.read.parquet(dir).count() === docs.count())
    // a name that would escape the sidecar dir is refused
    intercept[IllegalArgumentException] {
      Layout.commitCheckpoint(dir, "../evil", 0L)
    }
  }

  test("append refuses a schema-drifted batch, loudly and specifically") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    // renamed column
    val renamed = docs.withColumnRenamed("n_chars", "nchars")
    val e1 = intercept[IllegalArgumentException] {
      Layout.append(renamed, dir, "lang", Seq("doc_id"))
    }
    assert(e1.getMessage.contains("missing=n_chars") &&
      e1.getMessage.contains("extra=nchars"))
    // retyped column
    val retyped = docs.withColumn("n_chars", col("n_chars").cast("int"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.append(retyped, dir, "lang", Seq("doc_id"))
    }
    assert(e2.getMessage.contains("n_chars: store bigint vs batch int"))
    // matching batch still appends; versioned stores get the same guard
    Layout.append(docs.limit(5), dir, "lang", Seq("doc_id"))
    val vdir = freshDir()
    Layout.appendBatch(docs, vdir, "lang", Seq("doc_id"))
    intercept[IllegalArgumentException] {
      Layout.appendBatch(renamed, vdir, "lang", Seq("doc_id"))
    }
    Layout.appendBatch(docs.limit(3), vdir, "lang", Seq("doc_id")) // still fine
  }

  test("schema guard: numeric-looking partition values do not false-refuse") {
    // partitioning on a STRING column whose values look like ints: the
    // store reads the partition column back as int (directory-name
    // inference) while the batch declares string — that is an inference
    // artifact, not drift, and the append must go through
    val dir = freshDir()
    val df = docs.withColumn("shard",
      pmod(col("doc_id"), lit(4)).cast("string"))
    Layout.writePartitioned(df, dir, "shard", Seq("doc_id"))
    Layout.append(df.limit(7), dir, "shard", Seq("doc_id"))
    assert(Layout.read(spark, dir).count() === docs.count() + 7)
  }

  test("empty batches: no phantom ids, no schema-less stores, readNew before first batch") {
    val dir = freshDir()
    val none = docs.limit(0)
    // empty first append creates nothing — a later open cannot hit an
    // unreadable _SUCCESS-only directory
    Layout.append(none, dir, "lang", Seq("doc_id"))
    assert(!new java.io.File(dir).exists())
    // consumer ahead of the producer: empty zero-column frame, upTo = -1,
    // and committing that is a no-op (next read still starts at batch 0)
    val (pre, upTo0) = Layout.readNew(spark, dir, "early")
    assert(pre.count() === 0L && upTo0 === -1L)
    Layout.commitCheckpoint(dir, "early", upTo0)
    // empty appendBatch hands out NO id; the next real batch takes 0 and
    // the early consumer sees it in full
    assert(Layout.appendBatch(none, dir, "lang", Seq("doc_id")) === -1L)
    assert(Layout.appendBatch(docs.limit(9), dir, "lang", Seq("doc_id")) === 0L)
    val (fresh, upTo1) = Layout.readNew(spark, dir, "early")
    assert(fresh.count() === 9L && upTo1 === 0L)
  }

  test("merge upserts by key, prunes untouched dirs, refuses bad batches") {
    val dir = freshDir()
    val base = docs.filter(col("lang").isin("en", "fr", "de"))
    Layout.writePartitioned(base, dir, "lang", Seq("doc_id"))
    // fingerprint the files of a lang the merge will NOT touch
    def dirFiles(pd: String): Set[String] =
      Option(new java.io.File(s"$dir/$pd").listFiles()).getOrElse(Array.empty)
        .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet
    val deBefore = dirFiles("lang=de")
    // update one en row, insert one brand-new fr row
    val enRow = base.filter(col("lang") === "en").orderBy("doc_id").limit(1)
    val updates = enRow.withColumn("source", lit("upd"))
    val inserts = enRow.withColumn("lang", lit("fr"))
      .withColumn("doc_id", col("doc_id") + lit(999999999L))
      .withColumn("source", lit("ins"))
    val touched = Layout.merge(updates.unionByName(inserts), dir,
      "lang", Seq("doc_id"), Seq("doc_id"))
    assert(touched.toSet === Set("lang=en", "lang=fr"))
    assert(dirFiles("lang=de") === deBefore, "untouched dir was rewritten")
    val after = Layout.read(spark, dir)
    assert(after.filter(col("source") === "upd").count() === 1L)
    assert(after.filter(col("source") === "ins").count() === 1L)
    assert(after.count() === base.count() + 1L) // one insert, one replace
    // replaced row's old source value is gone for that doc_id
    val updId = enRow.select("doc_id").head().getLong(0)
    assert(after.filter(col("doc_id") === updId && col("lang") === "en")
      .select("source").head().getString(0) === "upd")
    // refusals: duplicate key in one batch, NULL key, NULL partition value
    val dupBatch = updates.unionByName(updates)
    val eDup = intercept[IllegalArgumentException] {
      Layout.merge(dupBatch, dir, "lang", Seq("doc_id"), Seq("doc_id")) }
    assert(eDup.getMessage.contains("share a key"))
    val eNullK = intercept[IllegalArgumentException] {
      Layout.merge(updates.withColumn("doc_id", lit(null).cast("long")),
        dir, "lang", Seq("doc_id"), Seq("doc_id")) }
    assert(eNullK.getMessage.contains("NULL"))
    val eNullP = intercept[IllegalArgumentException] {
      Layout.merge(updates.withColumn("lang", lit(null).cast("string")),
        dir, "lang", Seq("doc_id"), Seq("doc_id")) }
    assert(eNullP.getMessage.contains("partition"))
    // idempotence: re-running the same merge changes nothing
    val snap = after.orderBy("lang", "doc_id").collect()
    Layout.merge(updates.unionByName(inserts), dir,
      "lang", Seq("doc_id"), Seq("doc_id"))
    assert(Layout.read(spark, dir).orderBy("lang", "doc_id").collect()
      .sameElements(snap))
  }

  test("merge replaces strictly within the batch row's partition value") {
    val dir = freshDir()
    val base = docs.filter(col("lang").isin("en", "fr"))
    Layout.writePartitioned(base, dir, "lang", Seq("doc_id"))
    // store key K lives under fr; the batch writes K under en AND touches
    // fr with an unrelated insert — the fr copy of K must survive anyway
    // (replacement keys on partition value + key, so the outcome cannot
    // depend on which directories other batch rows happen to touch)
    val k = base.filter(col("lang") === "fr").orderBy("doc_id")
      .select("doc_id").head().getLong(0)
    val moved = base.filter(col("lang") === "fr" && col("doc_id") === k)
      .withColumn("lang", lit("en")).withColumn("source", lit("moved"))
    val frIns = base.filter(col("lang") === "fr").orderBy("doc_id").limit(1)
      .withColumn("doc_id", col("doc_id") + lit(888888888L))
      .withColumn("source", lit("fr_ins"))
    Layout.merge(moved.unionByName(frIns), dir,
      "lang", Seq("doc_id"), Seq("doc_id"))
    val after = Layout.read(spark, dir)
    // the original fr row with key K is untouched (even though lang=fr was
    // rewritten for the insert), and the en copy landed
    assert(after.filter(col("doc_id") === k && col("lang") === "fr")
      .count() === 1L)
    assert(after.filter(col("doc_id") === k && col("lang") === "en" &&
      col("source") === "moved").count() === 1L)
    assert(after.filter(col("source") === "fr_ins").count() === 1L)
  }

  test("merge refuses a key duplicated across DIFFERENT partition values") {
    val dir = freshDir()
    val base = docs.filter(col("lang").isin("en", "fr"))
    Layout.writePartitioned(base, dir, "lang", Seq("doc_id"))
    val row = base.filter(col("lang") === "en").orderBy("doc_id").limit(1)
    // same doc_id under en AND fr: per-partition distinct counts see no
    // dup — only the batch-global screen can catch this
    val crossDup = row.unionByName(row.withColumn("lang", lit("fr")))
    val e = intercept[IllegalArgumentException] {
      Layout.merge(crossDup, dir, "lang", Seq("doc_id"), Seq("doc_id")) }
    assert(e.getMessage.contains("share a key"))
  }

  test("empty merge on an absent store leaves NO schema-less directory") {
    val dir = freshDir()
    val empty = docs.filter(lit(false))
    assert(Layout.merge(empty, dir, "lang", Seq("doc_id"), Seq("doc_id")).isEmpty)
    // no directory at all (a _SUCCESS-only dir would poison later opens)
    val f = new java.io.File(dir)
    assert(!f.exists() ||
      Option(f.listFiles()).getOrElse(Array.empty)
        .forall(x => !x.getName.endsWith(".parquet")))
    assert(!f.exists() || !f.toString.isEmpty)
    // and a later REAL merge still initializes the store normally
    Layout.merge(docs.filter(col("lang") === "en"), dir, "lang",
      Seq("doc_id"), Seq("doc_id"))
    assert(Layout.read(spark, dir).count() ===
      docs.filter(col("lang") === "en").count())
  }

  test("merge on an absent store is a first write; readAsOf pins a snapshot") {
    val dir = freshDir()
    val third = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val touched = Layout.merge(third, dir, "lang", Seq("doc_id"), Seq("doc_id"))
    assert(touched.nonEmpty && Layout.read(spark, dir).count() === third.count())
    // versioned store: snapshot at batch 0 must not see batch 1
    val vdir = freshDir()
    Layout.appendBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      vdir, "lang", Seq("doc_id"))
    Layout.appendBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      vdir, "lang", Seq("doc_id"))
    val snap0 = Layout.readAsOf(spark, vdir, 0L)
    assert(snap0.count() ===
      docs.filter(pmod(col("doc_id"), lit(2)) === 0).count())
    assert(snap0.select(max(col("ingest_batch").cast("long"))).head().getLong(0) === 0L)
    assert(Layout.readAsOf(spark, freshDir() + "/absent", 5L).isEmpty)
  }

  test("a first merge into a data-less store keeps its consumer checkpoints") {
    val dir = freshDir()
    Layout.commitCheckpoint(dir, "early", -1L)
    Layout.merge(docs.orderBy("doc_id").limit(10), dir, "lang",
      Seq("doc_id"), Seq("doc_id"))
    assert(Layout.consumers(dir) === Map("early" -> -1L))
    assert(Layout.read(spark, dir).count() === 10L)
  }

  test("a first merge screens its batch like every later merge") {
    val dir = freshDir()
    val rows = docs.orderBy("doc_id").limit(3)
    def refusal(batch: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException] {
        Layout.merge(batch, dir, "lang", Seq("doc_id"), Seq("doc_id"))
      }.getMessage
    assert(refusal(rows.unionByName(rows.limit(1))).contains("share a key"))
    assert(refusal(rows.withColumn("doc_id", lit(null).cast("long")))
      .contains("NULL"))
    assert(refusal(rows.withColumn("lang", lit(null).cast("string")))
      .contains("partition"))
    assert(Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .forall(_.getName.startsWith(".")), "a refused batch wrote data")
  }

  test("vacuumRetention drops an expired double-ts dir from its footers alone") {
    val dir = freshDir()
    val rows = spark.range(0, 20).select(col("id"),
      (col("id") * 0.5 + 0.25).as("ts"), (col("id") % 2).as("day"))
    Layout.writePartitioned(rows, dir, "day", Seq("id"))
    val scratch = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Fs.beforeMutation = (_, p) =>
      if (p.toString.contains("/_stage_")) { scratch.add(p.toString); () }
    val (deleted, rewritten) =
      try Layout.vacuumRetention(spark, dir, "ts", 100L, Seq("id"))
      finally Fs.beforeMutation = (_, _) => ()
    assert(deleted === Seq("day=0", "day=1") && rewritten.isEmpty)
    assert(scratch.isEmpty, s"expired dirs went through a rewrite: $scratch")
    assert(Layout.filesPerPartition(dir).isEmpty)
  }

  test("evolvePartitions re-keys losslessly, keeps the old key, prunes on the new one") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "source", Seq("doc_id"))
    val processed = Layout.evolvePartitions(spark, dir, "source", "lang", Seq("doc_id"))
    assert(processed.nonEmpty)
    val back = Layout.read(spark, dir)
    // new layout: lang= dirs, source survives as a data column
    assert(Layout.filesPerPartition(dir).keys.forall(_.startsWith("lang=")))
    assert(back.columns.contains("source") && back.columns.contains("lang"))
    val orig = docs.select(back.columns.toSeq.map(col): _*)
    assert(back.count() === orig.count())
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    // no stage leftovers
    assert(!new java.io.File(dir).list().exists(_.startsWith("_stage_")))
  }

  test("atomic-write temps of dot-prefixed files are single-dotted and reaped by recovery") {
    // `.` + `._name` + `.tmp` would be `.._name.tmp`, which a
    // `._name.tmp`-only sweep misses. A crash between a checkpoint's
    // writeUTF8 and its renameReplace leaves the temp in the sidecar dir.
    val p = Fs.path(new java.io.File(freshDir(), "._hidden").getAbsolutePath)
    assert(Fs.tmpFor(p).getName === "._hidden.tmp") // no double dot
    assert(Fs.tmpFor(Fs.path("/x/manifest.json")).getName === ".manifest.json.tmp")
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "source", Seq("doc_id"))
    val expected = docs.count()
    Layout.commitCheckpoint(dir, "._hidden", 3L)
    val sidecar = new java.io.File(dir, "_graft_checkpoints")
    // crash leftovers: the tmpFor name AND a double-dotted one
    java.nio.file.Files.write(new java.io.File(sidecar, "._hidden.tmp").toPath,
      "partial".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(sidecar, ".._hidden.tmp").toPath,
      "partial".getBytes("UTF-8"))
    PointerStore.recover(dir)
    assert(Option(sidecar.listFiles()).getOrElse(Array.empty)
      .forall(f => !f.getName.endsWith(".tmp")), "recovery must reap .*.tmp")
    assert(Layout.lastCheckpoint(dir, "._hidden") === 3L)
    assert(Layout.read(spark, dir).count() === expected)
  }

  test("evolveCompact re-keys losslessly in ONE pass and leaves one file per target dir") {
    val dir = freshDir()
    // fragment the source layout first (two appends per source value) so
    // single-file-ness of the RESULT is a real claim, not an accident.
    // Split on doc_id % 40 < 20, NOT parity: the fixture's source cycles
    // with doc_id % 20, so any split that subsets residues mod 20 would
    // touch disjoint dirs; half-blocks of 40 hit every source twice
    Layout.writePartitioned(docs.filter(pmod(col("doc_id"), lit(40)) < 20),
      dir, "source", Seq("doc_id"))
    Layout.append(docs.filter(pmod(col("doc_id"), lit(40)) >= 20),
      dir, "source", Seq("doc_id"))
    assert(Layout.filesPerPartition(dir).values.exists(_ > 1),
      "need a fragmented source store for the compaction claim")
    val created = Layout.evolveCompact(spark, dir, "source", "lang", Seq("doc_id"))
    assert(created.nonEmpty && created.forall(_.startsWith("lang=")))
    val fpp = Layout.filesPerPartition(dir)
    assert(fpp.keys.forall(_.startsWith("lang=")))
    assert(fpp.values.forall(_ == 1), s"expected 1 file/dir, got $fpp")
    val back = Layout.read(spark, dir)
    assert(back.columns.contains("source") && back.columns.contains("lang"))
    val orig = docs.select(back.columns.toSeq.map(col): _*)
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_stage_")))
  }

  test("vacuumRetention: expired dirs dropped via footers, boundary rewritten, live untouched") {
    val dir = freshDir()
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts AS TIMESTAMP)) div 1000").as("ms"))
      .withColumn("day", expr("ms div 86400000"))
    Layout.writePartitioned(ev, dir, "day", Seq("event_id"))
    // NULL tsCol is NOT below any cutoff: rows with NULL ms must survive
    // the sweep no matter which directory they share — including a
    // directory whose non-null stats read fully expired
    val firstDay = ev.agg(min(col("day"))).head().getLong(0)
    val nullRows = ev.limit(2)
      .select((col("event_id") + 1000000000L).as("event_id"),
        col("user_id"), col("event_type"),
        lit(null).cast("long").as("ms"), lit(firstDay).as("day"))
    Layout.append(nullRows, dir, "day", Seq("event_id"))
    val b = ev.agg(min(col("ms")), max(col("ms"))).head()
    val cutoff = (b.getLong(0) + b.getLong(1)) / 2
    val liveDirsBefore = Layout.filesPerPartition(dir).keys
      .filter(_.stripPrefix("day=").toLong > cutoff / 86400000L).toSet
    val mtimes = liveDirsBefore.map { pd =>
      pd -> new java.io.File(dir, pd).lastModified()
    }.toMap
    val (deleted, rewrittenDirs) =
      Layout.vacuumRetention(spark, dir, "ms", cutoff, Seq("event_id"))
    assert(deleted.nonEmpty, "mid-span cutoff must expire whole day dirs")
    // every surviving non-null row is >= cutoff, none were lost, and BOTH
    // NULL-ms rows survived (their host dir was otherwise fully expired,
    // so it was rewritten down to just them, not deleted)
    val back = Layout.read(spark, dir)
    assert(back.filter(col("ms") < cutoff).count() === 0L)
    assert(back.filter(col("ms").isNull).count() === 2L)
    assert(back.count() === ev.filter(col("ms") >= cutoff).count() + 2L)
    assert(!deleted.contains(s"day=$firstDay"))
    // fully-live dirs were not rewritten (same files, untouched mtime)
    assert(rewrittenDirs.toSet.intersect(liveDirsBefore).isEmpty)
    liveDirsBefore.foreach { pd =>
      assert(new java.io.File(dir, pd).lastModified() === mtimes(pd),
        s"live dir $pd was touched")
    }
    // idempotent: a second sweep deletes and rewrites nothing
    val (d2, r2) = Layout.vacuumRetention(spark, dir, "ms", cutoff, Seq("event_id"))
    assert(d2.isEmpty && r2.isEmpty)
  }

  test("addColumn backfills per directory, skips evolved dirs, recovers from a crash") {
    val dir = freshDir()
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    val total = docs.count()
    val dirs = Layout.filesPerPartition(dir).keys.toSeq.sorted
    assert(dirs.size >= 2)
    // first run evolves every directory
    val r1 = Layout.addColumn(spark, dir, "n2", "n_chars * 2", Seq("doc_id"))
    assert(r1.toSet === dirs.toSet)
    val back = Layout.read(spark, dir)
    assert(back.count() === total)
    assert(back.filter(col("n2") =!= col("n_chars") * 2).count() === 0L)
    // idempotent: second run skips everything
    assert(Layout.addColumn(spark, dir, "n2", "n_chars * 2", Seq("doc_id")).isEmpty)
    // a NEW backfill crashes at its 2nd filesystem mutation, before its
    // commit: the old version stays live, and the re-run covers every
    // directory exactly once
    val crash = Faults.run(dir, 2)(
      Layout.addColumn(spark, dir, "n3", "n_chars + 1", Seq("doc_id")))
    assert(crash.error.exists(Faults.injected))
    val r2 = Layout.addColumn(spark, dir, "n3", "n_chars + 1", Seq("doc_id"))
    assert(r2.toSet === dirs.toSet)
    val back2 = Layout.read(spark, dir)
    assert(back2.count() === total)
    assert(back2.filter(col("n3") =!= col("n_chars") + 1).count() === 0L)
    // multi-column backfill: one rewrite adds both; the already-present
    // n2 keeps its STORED values (expressions not re-applied to it)
    val r3 = Layout.addColumns(spark, dir,
      Seq("n4" -> "n_chars * 3", "n2" -> "n_chars * 99"), Seq("doc_id"))
    assert(r3.toSet === dirs.toSet)
    val back3 = Layout.read(spark, dir)
    assert(back3.filter(col("n4") =!= col("n_chars") * 3).count() === 0L)
    assert(back3.filter(col("n2") =!= col("n_chars") * 2).count() === 0L,
      "existing column must keep stored values")
    // evolve → compactPartitions composition: an evolved store (one file
    // per source per target dir) compacts back to one file per dir with
    // no row lost
    val dir2 = freshDir()
    Layout.writePartitioned(docs, dir2, "source", Seq("doc_id"))
    Layout.evolvePartitions(spark, dir2, "source", "lang", Seq("doc_id"))
    assert(Layout.filesPerPartition(dir2).values.max > 1)
    Layout.compactPartitions(spark, dir2, Seq("doc_id"))
    assert(Layout.filesPerPartition(dir2).values.forall(_ == 1))
    assert(Layout.read(spark, dir2).count() === total)
  }

  test("size-targeted compaction splits a hot directory into parallel " +
      "disjoint sorted runs and converges") {
    val dir = freshDir()
    // fragment heavily: many small files per lang dir
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"),
      maxRecordsPerFile = 8L)
    val before = Layout.filesPerPartition(dir)
    assert(before.values.max > 3, s"need real fragmentation, got $before")
    val total = Layout.read(spark, dir).count()
    // target ~1/3 of the hottest directory's bytes per file → every dir
    // rewrites as >=2 parallel range-partitioned runs (if big enough)
    val hot = before.maxBy(_._2)._1
    val hotBytes = Option(new java.io.File(s"$dir/$hot").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = math.max(1L, hotBytes / 3L)
    val done = Layout.compactPartitions(spark, dir, Seq("doc_id"),
      targetFileBytes = target)
    assert(done.contains(hot))
    val after = Layout.filesPerPartition(dir)
    assert(after(hot) >= 2 && after(hot) < before(hot),
      s"expected 2..${before(hot) - 1} files for $hot, got ${after(hot)}")
    assert(Layout.read(spark, dir).count() === total, "rows lost in re-split")
    // the parallel runs are DISJOINT sorted ranges on the sort key — the
    // property that keeps per-file min/max tight for later skipping
    val ranges = PointerStore.liveFiles(dir).filter(_.startsWith(s"$hot/"))
      .map { f =>
        val ids = spark.read.parquet(s"$dir/$f").select("doc_id")
          .collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"$f not sorted")
        (ids.min, ids.max)
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // convergence: passes strictly shrink until a fixpoint (compacting
    // overhead-dominated tiny files SHRINKS bytes, so the first pass can
    // legitimately re-select; realistic large files are byte-stable and
    // converge in one), and the fixpoint is STABLE — a size-targeted
    // multi-file layout is treated as compacted, not re-grabbed forever
    var lastCount = after.values.sum
    var passes = 0
    var sel = Layout.compactPartitions(spark, dir, Seq("doc_id"),
      targetFileBytes = target)
    while (sel.nonEmpty && passes < 4) {
      val now = Layout.filesPerPartition(dir).values.sum
      assert(now < lastCount, s"pass did not shrink: $lastCount -> $now")
      lastCount = now
      passes += 1
      sel = Layout.compactPartitions(spark, dir, Seq("doc_id"),
        targetFileBytes = target)
    }
    assert(sel.isEmpty, "size-targeted compaction did not reach a fixpoint")
    assert(Layout.read(spark, dir).count() === total)
    // recovery on the healthy multi-file store is a no-op
    PointerStore.recover(dir)
    assert(Layout.read(spark, dir).count() === total)
  }

  test("the whole maintenance cycle runs through a scheme-qualified " +
      "file: path (the Hadoop FileSystem protocol, not java.nio)") {
    val local = freshDir()
    val dir = "file:" + local // scheme-qualified from here on
    Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
    val total = Layout.read(spark, dir).count()
    // append + fragmentation + per-dir compaction
    Layout.append(docs.limit(50), dir, "lang", Seq("doc_id"))
    assert(Layout.filesPerPartition(dir).values.max > 1)
    val compacted = Layout.compactPartitions(spark, dir, Seq("doc_id"))
    assert(compacted.nonEmpty)
    assert(Layout.filesPerPartition(dir).values.forall(_ == 1))
    assert(Layout.read(spark, dir).count() === total + 50L)
    // whole-store compact (one commit through the Hadoop API)
    Layout.compact(spark, dir, "lang", Seq("doc_id"))
    assert(Layout.read(spark, dir).count() === total + 50L)
    // batch-versioned store + consumer checkpoints on file: paths
    val vdir = "file:" + freshDir()
    val b0 = Layout.appendBatch(docs.limit(20), vdir, "lang", Seq("doc_id"))
    val b1 = Layout.appendBatch(docs.limit(10), vdir, "lang", Seq("doc_id"))
    assert(b0 === 0L && b1 === 1L)
    val (fresh, upTo) = Layout.readNew(spark, vdir, "c1")
    assert(upTo === 1L && fresh.count() === 30L)
    Layout.commitCheckpoint(vdir, "c1", upTo)
    assert(Layout.lastCheckpoint(vdir, "c1") === 1L)
    assert(Layout.consumers(vdir) === Map("c1" -> 1L))
    val (fresh2, _) = Layout.readNew(spark, vdir, "c1")
    assert(fresh2.count() === 0L)
    // retention vacuum through the scheme-qualified path
    val (del, rew) = Layout.vacuumRetention(spark, dir, "doc_id",
      cutoff = 5L, Seq("doc_id"))
    assert(del.nonEmpty || rew.nonEmpty)
    assert(Layout.read(spark, dir).filter(col("doc_id") < 5L).count() === 0L)
  }

  test("ORC round trip preserves rows and schema") {
    val dir = freshDir()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
    li.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === li.schema)
    assert(back.count() === li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }
}
