package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-directory table layout — the write path of a corpus store.
  *
  * At 100 TB the dominant cost of most queries is the scan, and the scan
  * cost is set at WRITE time: a corpus laid out as `lang=en/…` directories
  * with rows sorted by key inside each file gives every later reader
  * directory-level partition pruning (the `lang = 'en'` filter never opens
  * the other directories) plus parquet row-group min/max skipping on the
  * sort key — no index structure to maintain, just layout. Complements
  * [[Partitioning.saveBucketed]] (bucketed layout for exchange-free joins)
  * and [[Partitioning.zOrderLayout]] (two-dimensional skipping).
  *
  * ONE COMMIT PER WRITE. Every write here — and [[Rollup.maintain]] —
  * does three things: stage its new immutable files under a `_stage_*`
  * dir of the store, move them in with [[Fs.moveFileUncommitted]] (still
  * unreferenced, so invisible), and publish the new live set with ONE
  * [[PointerStore]] commit. A write is therefore atomic across the whole
  * store: a crash anywhere before the commit leaves the old version live,
  * a crash after it leaves the new one. Nothing is renamed into place, so
  * the same protocol runs on object stores. [[PointerStore.recover]] is
  * the one recovery routine, and readers never need it.
  *
  * READ THROUGH GRAFT. [[read]] resolves the current commit and reads its
  * live files. Each write ends with [[PointerStore.retire]] at
  * `keepCommits = 2`: the previous version's files stay on disk, so a
  * reader that resolved before a commit still reads its version, and disk
  * holds at most two versions. A plain `spark.read.parquet(dir)` sees both
  * versions and is not a store reader.
  *
  * Reference scope: pandas-db reads whole SQLite tables (table.py's
  * SELECT-from-table model); a partition-pruned parquet store is the
  * Spark-native equivalent of its per-table files, scaled out.
  */
object Layout {

  private def base(dir: String): String = dir.stripSuffix("/")

  /** The store's current rows: its current commit's live files, partition
    * columns recovered from the directory names. The file list is resolved
    * once, here, so the frame stays pinned to that version through later
    * commits. A store with no data yet is a zero-column empty frame.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val files = PointerStore.liveFiles(dir)
    if (files.isEmpty) spark.emptyDataFrame
    else PointerStore.readFiles(spark, dir, files)
  }

  /** Stage `write`'s output under a fresh `_stage_*` dir of the store and
    * move every data file it produced in, at store path `to(relative)`.
    * Returns the moved files' store-relative paths. Nothing is published
    * (the caller's [[commit]] does that). A write that produced no data
    * file into a store that did not exist leaves no directory behind.
    */
  private def stage(dir: String, to: String => String = identity)(
      write: String => Unit): Seq[String] = {
    val b = base(dir)
    val fresh = !Fs.exists(Fs.path(b))
    val st = s"$b/_stage_${java.util.UUID.randomUUID}"
    write(st)
    val staged = PointerStore.dataFiles(st)
    if (staged.nonEmpty) PointerStore.claim(dir)
    staged.foreach(rel =>
      Fs.moveFileUncommitted(Fs.path(s"$st/$rel"), Fs.path(s"$b/${to(rel)}")))
    Fs.deleteRecursively(Fs.path(if (fresh && staged.isEmpty) b else st))
    staged.map(to)
  }

  /** Publish `live` as version `from + 1`, then retire everything older
    * than the previous version.
    */
  private def commit(dir: String, from: Long, live: Seq[String]): Unit = {
    PointerStore.writeCommit(dir, from + 1, live)
    PointerStore.retire(dir, from + 1, keepCommits = 2)
    ()
  }

  /** Replace the store's whole live set with the data files `write`
    * stages (named `to(relative)`), in one commit.
    */
  private[ops] def replaceAll(dir: String, to: String => String = identity)(
      write: String => Unit): Seq[String] = {
    val (v, _) = PointerStore.snapshot(dir)
    val files = stage(dir, to)(write)
    commit(dir, v, files)
    files
  }

  /** The live set after `rewrites`: each (old, fresh) pair's old files
    * dropped and its fresh files added.
    */
  private def swap(live: Seq[String], rewrites: Seq[(Seq[String], Seq[String])]):
      Seq[String] = {
    val gone = rewrites.flatMap(_._1).toSet
    live.filterNot(gone) ++ rewrites.flatMap(_._2)
  }

  /** Live files per top-level partition directory (`key=value`), every
    * file under it (nested batch dirs included).
    */
  private def byPartition(live: Seq[String]): Map[String, Seq[String]] =
    live.filter(_.contains('/')).groupBy(_.takeWhile(_ != '/'))
      .filter(_._1.contains('='))

  /** Read the files of partition directory `pd` as `spark.read.parquet`
    * of that directory would: its own partition column (the directory
    * name) absent, nested ones recovered.
    */
  private def readPartition(spark: SparkSession, dir: String, pd: String,
      files: Seq[String]): DataFrame = {
    val b = base(dir)
    spark.read.option("basePath", s"$b/$pd")
      .parquet(files.map(f => s"$b/$f"): _*)
  }

  /** Write `df` under `dir` as `partitionCol=value/` parquet directories,
    * one file per partition value (unless `maxRecordsPerFile` splits it),
    * rows sorted by `sortCols` within each file. Replaces the store's
    * current rows in one commit.
    *
    * The `repartition(col)` clusters each partition value into exactly one
    * task, so a value's rows land in ONE file per directory instead of one
    * file per upstream task × directory — the small-files failure mode of a
    * naive `partitionBy` write from a wide shuffle (1000 tasks × 100 langs
    * = 100k files). `maxRecordsPerFile` caps file size back up where a
    * single value is too big for one file (the hot-partition case).
    */
  def writePartitioned(df: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String], maxRecordsPerFile: Long = 0L): Unit = {
    replaceAll(dir) { st =>
      val w = df.repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write.partitionBy(partitionCol)
      (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
       else w).parquet(st)
    }
    ()
  }

  /** Rewrite a partitioned store with one file per partition directory,
    * rows re-sorted by `sortCols` — the compaction pass that undoes
    * small-file accumulation from incremental appends. One commit swaps
    * the whole store.
    */
  def compact(spark: SparkSession, dir: String, partitionCol: String,
      sortCols: Seq[String]): Unit =
    writePartitioned(read(spark, dir), dir, partitionCol, sortCols)

  /** Per-directory rewrites run at most this many at a time. */
  private val MaxConcurrentRewrites = 4

  /** Run per-directory rewrite bodies CONCURRENTLY (optimization round 15,
    * guide §2.6 "overlap independent jobs"): the maintenance family's
    * per-partition rewrites are driver-sequenced Spark jobs over disjoint
    * directories, so a store with P fragmented/expiring dirs paid P full
    * job round-trips back to back while most of the cluster idled through
    * each job's tail. Each body only stages its own directory's files; the
    * caller publishes them all in one commit afterwards, so completion
    * order changes nothing. A small pool merely lets the next directory's
    * job back-fill executors the current one no longer saturates. Results
    * come back in ITEM order, the first failure propagates with its
    * original exception (unwrapped), and at most [[MaxConcurrentRewrites]]
    * jobs are in flight (the guide's "2-3 jobs in flight is plenty" plus
    * one) so production-sized directory rewrites don't fight for executors.
    */
  private def forEachRewrite[T, R](items: Seq[T])(body: T => R): Seq[R] = {
    val conc = math.min(items.size, MaxConcurrentRewrites)
    if (conc <= 1) items.map(body)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      try {
        val fs = items.map { i =>
          pool.submit(new java.util.concurrent.Callable[R] {
            override def call(): R = body(i)
          })
        }
        // DRAIN before propagating a failure: shutdownNow() would
        // interrupt sibling bodies mid-stage and leave their Spark jobs
        // running detached. Every in-flight (and queued) body runs to its
        // own completion; their staged files are orphans no commit names
        // (PointerStore.recover reaps them). First failure still
        // propagates unwrapped, in item order.
        val outcomes = fs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(e.getCause)
          }
        }
        outcomes.collectFirst { case Left(e) => e }.foreach(throw _)
        outcomes.collect { case Right(r) => r }
      } finally pool.shutdownNow()
    }
  }

  /** Compact ONLY the partition directories whose file count exceeds
    * `maxFiles` — the 100 TB form of [[compact]]: a store with thousands
    * of partition values accumulates appends unevenly, and rewriting the
    * whole store to fix a handful of hot directories is a full-corpus
    * write. Each fragmented directory is rewritten sorted and staged;
    * one commit then swaps every rewritten directory's files. Untouched
    * directories are not read, not written, not even opened. `maxDirs`
    * bounds one pass to the worst offenders (budgeted maintenance window);
    * repeated passes converge.
    *
    * `targetFileBytes` = 0 keeps the classic one-file-per-directory
    * contract — which funnels each directory through ONE task, fine for
    * long-tail values, wrong for a hot one (`lang=en` at 100 TB is
    * multi-TB). With `targetFileBytes` > 0 a directory rewrites as
    * ceil(bytes / target) PARALLEL range-partitioned sorted runs (each
    * file still carries tight sort-key min/max), and a directory already
    * within that file count counts as compacted, so passes converge on
    * size-targeted stores too. Bytes come from the live files' lengths —
    * no footer is opened (row-count targeting would have to open every
    * footer of every directory, breaking the untouched-dirs contract).
    *
    * Returns the partition directory names that were compacted.
    */
  def compactPartitions(spark: SparkSession, dir: String, sortCols: Seq[String],
      maxFiles: Int = 1, maxDirs: Int = Int.MaxValue,
      targetFileBytes: Long = 0L): Seq[String] = {
    require(maxDirs >= 1, "compactPartitions: maxDirs must be >= 1")
    val (v, live) = PointerStore.snapshot(dir)
    val parts = byPartition(live)
    // size-targeted mode (targetFileBytes > 0): a directory is COMPACTED
    // once its file count is within what a size-targeted layout needs —
    // ceil(bytes / target) files — so a hot directory rewritten to k
    // parallel sorted runs does not re-select forever
    def needed(pd: String): Int =
      if (targetFileBytes <= 0L) maxFiles
      else math.max(maxFiles, targetFiles(bytesOf(dir, parts(pd)), targetFileBytes))
    // maxDirs caps the pass to the WORST offenders (file count desc, then
    // name) — the maintenance-window form: a nightly job with a time
    // budget compacts the most fragmented directories first and converges
    // over successive nights instead of rewriting everything at once
    val fragmented = filesPerPartition(live).filter { case (pd, n) =>
        n > needed(pd) }.toSeq
      .sortBy { case (name, n) => (-n, name) }
      .take(maxDirs).map(_._1).sorted
    if (fragmented.isEmpty) return Seq.empty
    val rewrites = forEachRewrite(fragmented) { pd =>
      val old = parts(pd)
      old -> stage(dir, rel => s"$pd/$rel") { st =>
        clusterForRewrite(readPartition(spark, dir, pd, old), sortCols,
            targetFiles(bytesOf(dir, old), targetFileBytes))
          .write.parquet(st)
      }
    }
    commit(dir, v, swap(live, rewrites))
    fragmented
  }

  /** Total bytes of the given store-relative data files, the input to
    * size-targeted rewrites: lengths from one listing per directory that
    * holds them — no footer is opened, no per-file call made.
    */
  private def bytesOf(dir: String, files: Seq[String]): Long =
    files.groupBy(f => f.take(f.lastIndexOf('/') + 1)).iterator.map {
      case (parent, fs) =>
        val names = fs.map(_.drop(parent.length)).toSet
        Fs.list(Fs.path(s"${base(dir)}/$parent"))
          .filter(st => names(st.getPath.getName)).map(_.getLen).sum
    }.sum

  /** Files a size-targeted rewrite of `bytes` aims for: 1 when no target
    * is set (the classic one-file contract), else ceil(bytes / target).
    */
  private def targetFiles(bytes: => Long, targetFileBytes: Long): Int =
    if (targetFileBytes <= 0L) 1
    else math.max(1L, (bytes + targetFileBytes - 1L) / targetFileBytes)
      .min(Int.MaxValue.toLong).toInt

  /** Cluster one partition directory's rows for rewrite: a single sorted
    * task when `numFiles` = 1; otherwise the merge path's
    * `repartitionByRange + sortWithinPartitions` shape — `numFiles`
    * PARALLEL tasks whose outputs are disjoint sorted runs on the sort
    * key, so every emitted file still carries tight min/max. This is what
    * keeps a hot multi-TB directory from funneling through one task at
    * 100 TB (the `repartition(1)` form rewrites `lang=en` single-threaded
    * no matter how many executors are idle).
    */
  private def clusterForRewrite(df: DataFrame, sortCols: Seq[String],
      numFiles: Int): DataFrame =
    if (numFiles <= 1) df.repartition(1)
      .sortWithinPartitions(sortCols.map(col): _*)
    else if (sortCols.isEmpty) df.repartition(numFiles)
    else df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)

  /** Append a batch to a partitioned store — same per-value clustering
    * and in-file sort as [[writePartitioned]], but additive: each append
    * lands ONE new file per touched partition directory and publishes the
    * old live set plus them. Fragmentation grows by one file per batch per
    * value; [[compact]] is the periodic remedy (spec'd together in
    * LayoutSpec). An empty batch stages no data file and publishes nothing
    * (the batch is read once, by the write itself).
    *
    * Schema drift fails LOUD: appending a batch whose columns differ
    * from the store (a crawl pipeline that renamed or retyped a field)
    * would otherwise succeed silently and surface later as NULLs in
    * whichever files lack the column — the worst kind of corruption at
    * 100 TB, discovered by a trainer weeks later. One footer-only schema
    * read guards every append.
    */
  def append(df: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String]): Unit = {
    requireSchemaMatch(df, dir, partitionCol)
    val (v, live) = PointerStore.snapshot(dir)
    val files = stage(dir) { st =>
      df.repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write.partitionBy(partitionCol).parquet(st)
    }
    if (files.nonEmpty) commit(dir, v, live ++ files)
  }

  /** Fail-loud guard: the batch's (name → type) map must equal the
    * store's. No-op when the store holds no data yet. Column ORDER is
    * not compared; parquet is by-name. Partition columns (the caller's
    * `partitionCol` and the managed `ingest_batch`) are compared by NAME
    * only: their store-side type comes from DIRECTORY-NAME inference,
    * which narrows (day='2020-01-01' infers date, shard='42' infers int)
    * — a type mismatch there is an inference artifact, not drift.
    */
  private[ops] def requireSchemaMatch(df: DataFrame, dir: String,
      partitionCol: String): Unit = {
    val store = read(df.sparkSession, dir).schema
    if (store.isEmpty) return // nothing to drift from yet
    val byName = Set(partitionCol, "ingest_batch")
    def sig(s: org.apache.spark.sql.types.StructType): Map[String, String] =
      s.fields.map(f =>
        f.name -> (if (byName(f.name)) "<partition>" else f.dataType.simpleString))
        .toMap
    val batchSig = sig(df.schema) - "ingest_batch"
    val storeSig = sig(store) - "ingest_batch"
    if (batchSig != storeSig) {
      val missing = storeSig.keySet -- batchSig.keySet
      val extra = batchSig.keySet -- storeSig.keySet
      val retyped = (batchSig.keySet & storeSig.keySet)
        .filter(k => batchSig(k) != storeSig(k))
        .map(k => s"$k: store ${storeSig(k)} vs batch ${batchSig(k)}")
      throw new IllegalArgumentException(
        s"append to '$dir' refused — batch schema drifted from the store. " +
          s"missing=${missing.mkString(",")} extra=${extra.mkString(",")} " +
          s"retyped=${retyped.mkString(";")}")
    }
  }

  /** Batch-VERSIONED append: rows land under
    * `partitionCol=X/ingest_batch=N/` with N = 1 + the highest batch id
    * in the store's live files (0-based first batch). The second partition
    * level turns "reprocess everything since my last checkpoint" — the
    * incremental-consumer pattern of every downstream trainer — into a
    * DIRECTORY-PRUNED scan via [[readSince]]: consuming batch N+1..M of a
    * 100 TB store opens only those batches' files, no matter how big the
    * history is. Returns the batch id it wrote, or -1 for an empty batch
    * (no id handed out, nothing published — the next real batch takes the
    * id, so no consumer records a phantom).
    *
    * Same one-file-per-value clustering as [[append]]; fragmentation per
    * batch is one file per touched partition value, and old batches are
    * immutable once written (compaction would merge batch dirs and break
    * the checkpoint contract — deliberately not offered for versioned
    * stores; [[squashHistory]] is the retention form).
    *
    * SINGLE-PRODUCER protocol: the batch id comes from the current commit,
    * so two concurrent writers could allocate the same id (and the second
    * commit would refuse). Run one ingest writer per store (the normal
    * crawl-pipeline shape); concurrent CONSUMERS are fine — they only read
    * and write their own checkpoint files.
    */
  def appendBatch(df: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String]): Long = {
    requireSchemaMatch(df, dir, partitionCol)
    val (v, live) = PointerStore.snapshot(dir)
    val next = nextBatchId(live)
    val files = stage(dir) { st =>
      df.withColumn("ingest_batch", lit(next))
        .repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write.partitionBy(partitionCol, "ingest_batch").parquet(st)
    }
    if (files.isEmpty) -1L
    else { commit(dir, v, live ++ files); next }
  }

  /** 1 + the highest `ingest_batch=` id among the store's live files; 0
    * for an absent or empty store. Reads the commit only — no data file
    * is opened.
    */
  def nextBatchId(dir: String): Long = nextBatchId(PointerStore.liveFiles(dir))

  private def nextBatchId(live: Seq[String]): Long =
    live.flatMap(batchOf).maxOption.fold(0L)(_ + 1L)

  /** The `ingest_batch=` id a store-relative file lives under, if any. */
  private def batchOf(file: String): Option[Long] =
    file.split('/').collectFirst {
      case s if s.startsWith("ingest_batch=") =>
        s.stripPrefix("ingest_batch=").toLongOption
    }.flatten

  /** Rows of batches `fromBatch` and later — the incremental consume.
    * The `ingest_batch >= fromBatch` filter prunes at the DIRECTORY level
    * (asserted via scan metrics in LayoutSpec): history never rescans.
    * A store that has never received a batch yields a zero-column empty
    * frame — there is no schema to serve yet; callers that need columns
    * should gate on [[nextBatchId]] > 0 first (readNew surfaces this as
    * upTo = -1).
    */
  def readSince(spark: SparkSession, dir: String, fromBatch: Long): DataFrame = {
    val df = read(spark, dir)
    if (df.columns.isEmpty) df else df.filter(col("ingest_batch") >= fromBatch)
  }

  // ---- per-consumer checkpoints on a versioned store --------------------
  // A named consumer records the last batch it fully processed; its next
  // run reads exactly the batches it has not seen. The records live in an
  // UNDERSCORE-prefixed sidecar dir (readers ignore it, like _SUCCESS),
  // one file per consumer, written atomically (tmp + rename-replace) so a
  // crash mid-write leaves the previous checkpoint intact; a crash inside
  // the replace itself can only LOSE the file, which reads as "never
  // committed" and costs re-consumption, never corruption (Fs scaladoc).

  private def checkpointFile(dir: String, consumer: String) = {
    require(consumer.matches("[A-Za-z0-9._-]+"),
      s"consumer name '$consumer' must be a plain token (it names a file)")
    Fs.path(s"${base(dir)}/_graft_checkpoints/$consumer")
  }

  /** Last batch id `consumer` committed for this store, or -1 for a
    * first-time consumer.
    */
  def lastCheckpoint(dir: String, consumer: String): Long = {
    val f = checkpointFile(dir, consumer)
    if (!Fs.isFile(f)) -1L
    else Fs.readUTF8(f).trim.toLong
  }

  /** Record that `consumer` has fully processed batches up to and
    * including `batch`. Atomic replace; concurrent consumers use
    * different names and never contend.
    */
  def commitCheckpoint(dir: String, consumer: String, batch: Long): Unit = {
    val f = checkpointFile(dir, consumer)
    Fs.mkdirs(f.getParent)
    Fs.writeUTF8Atomic(f, batch.toString)
  }

  /** The batches `consumer` has not yet processed (empty frame when none),
    * paired with the last batch id currently in the store — commit THAT id
    * after processing succeeds:
    * {{{
    *   val (fresh, upTo) = Layout.readNew(spark, dir, "tokenizer-v2")
    *   process(fresh)
    *   Layout.commitCheckpoint(dir, "tokenizer-v2", upTo)
    * }}}
    * Read-then-commit keeps at-least-once semantics: a batch appended
    * between the read and the commit is NOT skipped (the committed id is
    * the one captured at read time, not "latest at commit time").
    */
  def readNew(spark: SparkSession, dir: String,
      consumer: String): (DataFrame, Long) = {
    val upTo = nextBatchId(dir) - 1L
    // no batch ever written: nothing to consume and no schema to serve —
    // zero-column empty frame + upTo = -1 (committing -1 is a no-op
    // checkpoint: the next read still starts at batch 0)
    if (upTo < 0L) return (spark.emptyDataFrame, -1L)
    val from = lastCheckpoint(dir, consumer) + 1L
    (readSince(spark, dir, from).filter(col("ingest_batch") <= upTo), upTo)
  }

  /** Dedup-screened incremental ingest: append only the rows of `batch`
    * whose `keyExpr` (a content key — e.g. `md5(col("text"))`) does not
    * already exist in the store. The screen scans ONLY the key expression's
    * input columns of the existing store (column-pruned parquet scan) and
    * anti-joins — rows duplicated WITHIN the batch are both kept, matching
    * append semantics; pre-dedup the batch first when that matters.
    *
    * At 100 TB the anti-join's store side is keys-only (a fraction of the
    * data width) and AQE picks broadcast when the BATCH side is small —
    * and a [[Bloom.bloomAntiJoin]] prefilter can screen the obvious
    * non-dups before the exact join (see [[ingestBloom]]).
    *
    * NULL keys compare null-safely (`IS NOT DISTINCT FROM`): a NULL-key
    * batch row is screened out iff the store already holds a NULL-key
    * row — the same "two NULLs are the same content" reading an exact
    * dedup wants, and the semantics a plain `left_anti` equi-join would
    * silently break (NULL never equi-matches, so every NULL-key row
    * would pass the screen on every re-ingest, duplicating forever).
    * A store with no data yet degrades to a plain first append.
    */
  def ingest(batch: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String], keyExpr: org.apache.spark.sql.Column): Unit = {
    val store = read(batch.sparkSession, dir)
    if (store.columns.isEmpty) {
      append(batch, dir, partitionCol, sortCols); return
    }
    val existingKeys = store.select(keyExpr.as("__k")).distinct()
    val withK = batch.withColumn("__k", keyExpr)
    // EqualNullSafe is a planner-recognized equi-join key, so this still
    // hashes (and AQE still broadcasts a small side) — no BNLJ risk.
    val fresh = withK
      .join(existingKeys, withK("__k") <=> existingKeys("__k"), "left_anti")
      .drop("__k")
    append(fresh, dir, partitionCol, sortCols)
  }

  /** [[ingest]] with a Bloom prefilter on the store's key set — the
    * mostly-fresh-batch fast path. The exact anti-join screen shuffles
    * every batch row whose key might match; with a Bloom sketch of the
    * store keys broadcast to the scan, rows the sketch rules out
    * ("definitely not stored" — no false negatives) skip the join
    * entirely and only the ~`fpp` fraction pays the exact confirm
    * ([[Bloom.bloomAntiJoin]] mechanics; result EQUALS the exact screen).
    *
    * When the batch is mostly fresh — the normal crawl-ingest case —
    * this turns the screen's shuffle from |batch| rows into
    * ~fpp·|batch| + |true dups|. Keys are compared as strings with
    * NULL coalesced to a private sentinel, preserving [[ingest]]'s
    * null-safe key semantics (NULL-key row screened iff the store has
    * one); `stat.bloomFilter` only ingests string/long keys anyway.
    */
  def ingestBloom(batch: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String], keyExpr: org.apache.spark.sql.Column,
      fpp: Double = 0.01): Unit = {
    val store = read(batch.sparkSession, dir)
    if (store.columns.isEmpty) {
      append(batch, dir, partitionCol, sortCols); return
    }
    val k = coalesce(keyExpr.cast("string"), lit("\u0000__graft_null_key__"))
    val fresh = Bloom.bloomAntiJoin(
        batch.withColumn("__k", k), store.select(k.as("__k")), "__k", fpp = fpp)
      .drop("__k")
    append(fresh, dir, partitionCol, sortCols)
  }

  /** Snapshot read of a batch-versioned store AS OF `upToBatch` — the
    * rows of batches 0..`upToBatch` inclusive: the reproducibility
    * complement of [[readSince]]. A trainer that records the batch id it
    * consumed can re-read the IDENTICAL corpus later, no matter how many
    * batches have been appended since (old batches are immutable — see
    * [[appendBatch]]). Same directory-level pruning as readSince: history
    * later than the snapshot is never opened.
    */
  def readAsOf(spark: SparkSession, dir: String, upToBatch: Long): DataFrame = {
    val df = read(spark, dir)
    if (df.columns.isEmpty) df else df.filter(col("ingest_batch") <= upToBatch)
  }

  /** Every consumer with a committed checkpoint on this store, with its
    * last committed batch id.
    */
  def consumers(dir: String): Map[String, Long] = {
    val d = Fs.path(s"${base(dir)}/_graft_checkpoints")
    Fs.list(d)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
      .map(f => f.getPath.getName -> lastCheckpoint(dir, f.getPath.getName))
      .toMap
  }

  /** HISTORY RETENTION for a batch-versioned store: consolidate every
    * `ingest_batch` directory with id <= `upTo` into ONE directory per
    * partition value, labeled with S = the highest batch id <= `upTo`
    * present anywhere in the store — the Delta-checkpoint/VACUUM analogue
    * for the [[appendBatch]] layout. A store that ingests hourly for a
    * year accrues ~9k batch dirs per partition value; every full read
    * then lists and opens 9k directories. Squashing bounds history
    * fragmentation while keeping the contracts that matter:
    *
    *  - [[readSince]]`(k)` for k > S and [[readAsOf]]`(k)` for k >= S are
    *    byte-identical before and after (surviving batch dirs untouched);
    *  - [[readAsOf]]`(k)` for k < S becomes the retention FLOOR (history
    *    below S is no longer separately addressable — that is the point);
    *  - consumer checkpoints stay valid: the call REFUSES to squash past
    *    any outstanding checkpoint (a consumer at c < S would re-consume
    *    the whole squashed mass as "new" on its next [[readNew]]).
    *
    * Each partition's merged rewrite is staged into its
    * `ingest_batch=S/` directory, and one commit swaps every partition's
    * squashed files for it, so readers see the whole squash or none of it.
    *
    * Returns the partition directory names that were squashed.
    */
  def squashHistory(spark: SparkSession, dir: String, upTo: Long,
      sortCols: Seq[String] = Seq.empty,
      targetFileBytes: Long = 0L): Seq[String] = {
    val (v, live) = PointerStore.snapshot(dir)
    // per partition: batch id -> its live files, for ids <= upTo
    val partIds = byPartition(live).toSeq.sortBy(_._1).map { case (pd, fs) =>
      pd -> fs.flatMap(f => batchOf(f).map(_ -> f)).filter(_._1 <= upTo)
        .groupBy(_._1).map { case (i, g) => i -> g.map(_._2) }
    }
    val allIds = partIds.flatMap(_._2.keys)
    if (allIds.isEmpty) return Seq.empty
    val s = allIds.max
    val lagging = consumers(dir).filter { case (_, c) => c >= 0 && c < s }
    require(lagging.isEmpty,
      s"squashHistory($dir, upTo=$upTo) refused — consumer(s) " +
        s"${lagging.keys.toSeq.sorted.mkString(",")} are checkpointed below " +
        s"batch $s and would re-consume the squashed history; advance or " +
        "drop their checkpoints first")
    // a partition already holding exactly one dir labeled S is done
    val todo = partIds.filter { case (_, ids) =>
      ids.nonEmpty && ids.keySet != Set(s) }
    if (todo.isEmpty) return Seq.empty
    val rewrites = forEachRewrite(todo) { case (pd, ids) =>
      val old = ids.values.flatten.toSeq
      // the partition cols live in directory names; the merged files
      // must carry data columns only, exactly like compactPartitions.
      // Size-targeted split: the squashed mass of a hot partition can
      // be a whole year of batches — rewrite it in parallel sorted runs
      old -> stage(dir, rel => s"$pd/ingest_batch=$s/$rel") { st =>
        clusterForRewrite(
            readPartition(spark, dir, pd, old).drop("ingest_batch"), sortCols,
            targetFiles(bytesOf(dir, old), targetFileBytes))
          .write.parquet(st)
      }
    }
    commit(dir, v, swap(live, rewrites))
    todo.map(_._1)
  }

  /** MERGE (upsert) by key into a partitioned store: each batch row
    * REPLACES every store row sharing its `keyCols` value; batch rows with
    * no match are inserted. The update primitive the append-only paths
    * ([[append]]/[[ingest]]) deliberately lack — re-crawled documents,
    * corrected labels, late-arriving fixes.
    *
    * PARTITION-PRUNED: only the partition directories whose
    * `partitionCol` values appear in the batch are read and rewritten.
    * At 100 TB a merge touching 3 of 10 000 day-partitions scans and
    * writes 3 directories; the other 9 997 are never opened. The touched
    * directories' rewrites are staged and published in one commit, so the
    * merge is atomic across the store; re-running the same merge is
    * idempotent (replace-by-key twice = once).
    *
    * Fail-loud contract, checked in two batch-sized aggregate passes
    * (per-value screens ride the job that collects the touched partition
    * values; the key-dup screen needs a batch-GLOBAL distinct):
    *  - `keyCols` must be non-null (SQL equality cannot address a store
    *    row by NULL — the row would silently duplicate on every merge);
    *  - `partitionCol` must be non-null (no directory to merge into);
    *  - a key may appear at most once in the batch (two updates to one
    *    key in one batch has no defined winner under shuffle — refused,
    *    not guessed).
    * The batch must carry the store's exact schema
    * ([[requireSchemaMatch]]). Keys need NOT be unique in the store: all
    * store rows matching a batch key are replaced by that one batch row
    * (a multiset store collapses to the upserted row). Replacement is
    * strictly within the batch row's OWN partition value — the partition
    * value is part of the row's address, so a store row whose key matches
    * a batch key but lives under a DIFFERENT partition value always
    * survives, even when that directory happens to be touched by other
    * batch rows (the anti-join keys on partitionCol + keyCols, never on
    * the key alone, so the outcome cannot depend on which directories the
    * rest of the batch visits). A merge therefore cannot MOVE a row
    * across partition values — repartitioning a row is
    * delete-then-insert, not merge.
    *
    * Returns the touched partition-directory names (sorted).
    */
  def merge(batch: DataFrame, dir: String, partitionCol: String,
      keyCols: Seq[String], sortCols: Seq[String]): Seq[String] = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = batch.sparkSession
    requireSchemaMatch(batch, dir, partitionCol)
    // screen pass 1 (per partition value): touched values + null screens.
    // The key-dup count is NOT taken from these per-value groups — a key
    // appearing under TWO partition values would count distinct in each —
    // it needs the batch-GLOBAL distinct in pass 2 below.
    val keyStruct = struct(keyCols.map(col): _*)
    val stats = batch.groupBy(col(partitionCol).as("__p"))
      .agg(count(lit(1)).as("__n"),
        sum(when(keyCols.map(col(_).isNull).reduce(_ || _), 1L)
          .otherwise(0L)).as("__null_keys"))
      .collect()
    if (stats.isEmpty) return Seq.empty // empty batch: nothing to merge
    if (stats.exists(_.isNullAt(0)))
      throw new IllegalArgumentException(
        s"merge into '$dir' refused — NULL $partitionCol in the batch has " +
          "no partition directory")
    val nullKeys = stats.map(_.getAs[Long]("__null_keys")).sum
    if (nullKeys > 0)
      throw new IllegalArgumentException(
        s"merge into '$dir' refused — $nullKeys batch row(s) with NULL in " +
          s"key columns ${keyCols.mkString(",")} cannot address store rows")
    // screen pass 2 (global): one key = one batch row, across ALL
    // partition values — two rows sharing a key under different values
    // would otherwise both land and duplicate the key forever
    val g = batch.agg(count(lit(1)).as("__n"),
      countDistinct(keyStruct).as("__d")).head()
    val dups = g.getAs[Long]("__n") - g.getAs[Long]("__d")
    if (dups > 0)
      throw new IllegalArgumentException(
        s"merge into '$dir' refused — $dups batch row(s) share a key with " +
          "another batch row (possibly under different partition values); " +
          "one batch may carry one row per key")
    val touchedVals = stats.map(_.get(0)).toSeq
    val (v, live) = PointerStore.snapshot(dir)
    // read ONLY the touched directories (partition filter prunes at the
    // file index — untouched directories are not opened), drop the rows
    // being replaced, union the batch, stage the rewrite.
    // A store with no data yet retains nothing: its first batch takes the
    // same screens, staging and commit as every later one.
    // The anti-join is on (partition value + key), NOT the key alone: a
    // store row under a different partition value than the batch row's
    // must survive deterministically, not depend on whether unrelated
    // batch rows happened to touch its directory (see scaladoc contract)
    val retained =
      if (live.isEmpty) batch.limit(0)
      else PointerStore.readFiles(spark, dir, live)
        .filter(col(partitionCol).isInCollection(touchedVals))
        .join(batch.select((partitionCol +: keyCols).map(col): _*).distinct(),
          partitionCol +: keyCols, "left_anti")
    // repartitionByRange, NOT repartition(partitionCol): clustering by
    // value alone would funnel each touched directory through ONE task —
    // a merge touching a hot day-partition would rewrite it single-
    // threaded (measured 2x slower than a full rewrite at 100x, ScaleBench
    // "merge"). Range partitioning on (partition value, sort key) keeps
    // every task's output inside one directory as a sorted run, so the
    // rewrite parallelizes across the cluster and each file still carries
    // tight min/max on the sort key. More files per hot dir than the
    // one-file [[writePartitioned]] contract — [[compactPartitions]] is
    // the remedy when run counts accumulate.
    val files = stage(dir) { st =>
      retained.unionByName(batch)
        .repartitionByRange((partitionCol +: sortCols).map(col): _*)
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write.partitionBy(partitionCol).parquet(st)
    }
    val rewritten = byPartition(files).keys.toSeq.sorted
    val parts = byPartition(live)
    commit(dir, v, swap(live, Seq(rewritten.flatMap(parts.getOrElse(_, Nil)) -> files)))
    rewritten
  }

  /** PARTITION EVOLUTION: re-key an existing `fromCol=value/` store onto
    * `toCol=value/` directories — the operation a 100 TB store needs when
    * the original partitioning stops matching the read pattern (a corpus
    * laid out by `source` that is now always filtered by `lang`). Each
    * source partition directory is its own job (read with basePath, so
    * `fromCol` survives as a data column — evolution must not lose the old
    * key — clustered by `toCol`, staged), so per-increment work is one
    * source partition's rows, never one corpus-wide shuffle; the jobs
    * overlap through the rewrite pool. One commit then publishes every
    * source's files as the new store.
    *
    * Resume contract: the ORIGINAL store stays live and readable until
    * that one commit. A crash anywhere before it leaves the old version
    * live, and a rerun redoes EVERY source (the crashed run's moved-in
    * files are orphans no commit names, which [[PointerStore.recover]]
    * reaps); a crash after it leaves the evolved store, and a rerun is a
    * no-op.
    *
    * Returns the source directory names processed (empty = the store was
    * already evolved).
    */
  def evolvePartitions(spark: SparkSession, dir: String, fromCol: String,
      toCol: String, sortCols: Seq[String]): Seq[String] = {
    val (v, live) = PointerStore.snapshot(dir)
    val sources = sourcesOf(live, dir, fromCol, toCol, "evolvePartitions")
    if (sources.isEmpty) return Seq.empty
    val staged = forEachRewrite(sources.keys.toSeq.sorted) { src =>
      stage(dir) { st =>
        PointerStore.readFiles(spark, dir, sources(src))
          .repartition(col(toCol))
          .sortWithinPartitions((toCol +: sortCols).map(col): _*)
          .write.partitionBy(toCol).parquet(st)
      }
    }
    commit(dir, v, staged.flatten)
    sources.keys.toSeq.sorted
  }

  /** The live files of each `fromCol=` source directory; empty when the
    * store is already evolved onto `toCol=` (a rerun after the commit
    * no-ops), refused when it is neither.
    */
  private def sourcesOf(live: Seq[String], dir: String, fromCol: String,
      toCol: String, op: String): Map[String, Seq[String]] = {
    val parts = byPartition(live)
    val sources = parts.filter(_._1.startsWith(fromCol + "="))
    require(sources.nonEmpty || parts.keys.exists(_.startsWith(toCol + "=")),
      s"$op: no '$fromCol=' partition directories under $dir")
    sources
  }

  /** ONE-PASS partition evolution + compaction: re-key the store from
    * `fromCol=value/` onto `toCol=value/` directories AND leave exactly one
    * sorted file per target directory, in a single read + single shuffle +
    * single write. The composition [[evolvePartitions]] →
    * [[compactPartitions]] reads and writes the corpus TWICE (evolve lands
    * one file per source dir per target dir — a store with S sources
    * fragments every target S ways — and the compaction pass re-reads all
    * of it); this form shuffles each row once to its final task, where
    * `repartition(col(toCol))` guarantees all rows of a target value share
    * one task and the dynamic-partition writer emits one file per value.
    *
    * Trade-off vs the per-source form: one corpus-wide shuffle round
    * instead of S bounded jobs. Both publish in one commit, so a crash in
    * either leaves the old version live and a rerun redoes the rewrite.
    *
    * Returns the target partition directory names created.
    */
  def evolveCompact(spark: SparkSession, dir: String, fromCol: String,
      toCol: String, sortCols: Seq[String]): Seq[String] = {
    val live = PointerStore.liveFiles(dir)
    if (sourcesOf(live, dir, fromCol, toCol, "evolveCompact").isEmpty)
      return Seq.empty
    val df = PointerStore.readFiles(spark, dir, live)
    byPartition(replaceAll(dir) { st =>
      df.repartition(col(toCol))
        .sortWithinPartitions((toCol +: sortCols).map(col): _*)
        .write.partitionBy(toCol).parquet(st)
    }).keys.toSeq.sorted
  }

  /** TTL / RETENTION VACUUM: delete every row whose `tsCol` value is
    * below `cutoff` from a partitioned store — the retention sweep a
    * 100 TB events store runs nightly. Three tiers, cheapest first, and
    * the data is never read unless a directory actually straddles the
    * boundary:
    *
    *  - EXPIRED directories (footer-level max(tsCol) < cutoff for every
    *    row group): dropped from the live set outright. No data read —
    *    parquet footers only, the [[Manifest]] trick.
    *  - LIVE directories (footer min(tsCol) ≥ cutoff everywhere):
    *    untouched — not read, not rewritten, not opened past the footer.
    *  - BOUNDARY directories (straddle the cutoff): rewritten with the
    *    `tsCol >= cutoff` filter to one sorted file and staged. A rewrite
    *    that keeps NO row drops the directory, like an expired one (empty
    *    partition dirs poison readers).
    * One commit publishes every directory's outcome.
    *
    * Files without `tsCol` stats are treated as boundary (rewritten —
    * correct, just not skipped). Scale: cost is proportional to the
    * boundary partitions only; on a day-partitioned store that is ONE
    * directory per sweep regardless of corpus size.
    *
    * Returns (deleted directory names, rewritten directory names).
    */
  def vacuumRetention(spark: SparkSession, dir: String, tsCol: String,
      cutoff: Long, sortCols: Seq[String],
      targetFileBytes: Long = 0L): (Seq[String], Seq[String]) = {
    val (v, live) = PointerStore.snapshot(dir)
    val parts = byPartition(live)
    val names = parts.keys.toSeq.sorted
    // per-dir outcomes collected concurrently (order restored below):
    // None = kept, Some(fresh files) = replaced (no files = deleted)
    val outcomes = forEachRewrite(names) { pd =>
      val old = parts(pd)
      // footer sweep: (every group max < cutoff, every group min >= cutoff)
      val stats = Manifest.footers(spark,
          old.map(f => s"${base(dir)}/$f"), tsCol)
        .select("min_value", "max_value", "n_nulls", "n_rows").collect()
      // NULL tsCol is NOT below the cutoff: a dir is only whole-deleted
      // when every group's max < cutoff AND it holds zero null rows
      // (null counts come from the same footers); a rewrite keeps nulls.
      // A group is untouchable-live when nothing in it can expire:
      // min >= cutoff, or every row is null (all-null groups must read
      // live, or a rewritten null-only directory would re-rewrite on
      // every later sweep)
      val allExpired = stats.nonEmpty && stats.forall { r =>
        !r.isNullAt(1) && Manifest.statNumber(r.getString(1)).exists(_ < cutoff) &&
          r.getLong(2) == 0L }
      val allLive = stats.nonEmpty && stats.forall { r =>
        (!r.isNullAt(0) && Manifest.statNumber(r.getString(0)).exists(_ >= cutoff)) ||
          (r.getLong(2) >= 0L && r.getLong(2) == r.getLong(3)) }
      if (allExpired) Some(Seq.empty[String])
      else if (!allLive) {
        // survivors <= the directory's bytes: the pre-filter size is a
        // safe (over-)estimate for the parallel-split width
        val fresh = stage(dir, rel => s"$pd/$rel") { st =>
          clusterForRewrite(readPartition(spark, dir, pd, old)
              .filter(col(tsCol) >= lit(cutoff) || col(tsCol).isNull),
              sortCols, targetFiles(bytesOf(dir, old), targetFileBytes))
            .write.parquet(st)
        }
        // a rewrite that kept no row drops the directory; its empty files
        // were never committed, so they go now
        val anyRow = fresh.nonEmpty &&
          readPartition(spark, dir, pd, fresh).limit(1).count() > 0
        if (!anyRow) PointerStore.deleteData(dir, fresh)
        Some(if (anyRow) fresh else Seq.empty[String])
      } else None
    }
    val byDir = names.zip(outcomes).collect { case (pd, Some(f)) => pd -> f }
    if (byDir.nonEmpty)
      commit(dir, v, swap(live, byDir.map { case (pd, f) => parts(pd) -> f }))
    (byDir.collect { case (pd, f) if f.isEmpty => pd },
      byDir.collect { case (pd, f) if f.nonEmpty => pd })
  }

  /** SCHEMA EVOLUTION with backfill: add `colName` = `sqlExpr` (a Spark
    * SQL expression over the store's existing columns) to every row of a
    * partitioned store, one partition directory per rewrite job — the
    * other half of store evolution next to [[evolvePartitions]] (new key)
    * and the schema-drift guard on [[append]] (which refuses a batch
    * carrying a column the store lacks until the store is evolved first).
    *
    * Idempotent: a directory whose files ALREADY carry `colName` is
    * skipped (one footer-only schema read). Every rewritten directory is
    * published in one commit, so readers see the old schema everywhere or
    * the new one everywhere; a crashed run leaves the old version live and
    * a rerun redoes it. Scale: cost is one read+write of each directory.
    *
    * Returns the directories rewritten THIS call (skipped ones absent).
    */
  def addColumn(spark: SparkSession, dir: String, colName: String,
      sqlExpr: String, sortCols: Seq[String],
      targetFileBytes: Long = 0L): Seq[String] =
    addColumns(spark, dir, Seq(colName -> sqlExpr), sortCols, targetFileBytes)

  /** Multi-column [[addColumn]]: backfill SEVERAL (name, expression)
    * pairs in ONE read+write of each directory — N columns cost the same
    * directory rewrite as one. A directory already carrying EVERY
    * requested column skips; a directory carrying some-but-not-all gets
    * the missing ones added (columns it already has keep their stored
    * values — expressions are not re-applied).
    */
  def addColumns(spark: SparkSession, dir: String,
      cols: Seq[(String, String)], sortCols: Seq[String],
      targetFileBytes: Long = 0L): Seq[String] = {
    require(cols.nonEmpty, "addColumns: no columns to add")
    require(cols.map(_._1).distinct.size == cols.size,
      "addColumns: duplicate column names")
    val (v, live) = PointerStore.snapshot(dir)
    val parts = byPartition(live)
    require(parts.nonEmpty, s"addColumn: no partition directories under $dir")
    val names = parts.keys.toSeq.sorted
    val rewrites = forEachRewrite(names) { pd =>
      val existing = readPartition(spark, dir, pd, parts(pd))
      val missing = cols.filterNot { case (n, _) =>
        existing.columns.contains(n) }
      if (missing.isEmpty) None
      else Some(parts(pd) -> stage(dir, rel => s"$pd/$rel") { st =>
        clusterForRewrite(
            missing.foldLeft(existing) { case (df, (n, e)) =>
              df.withColumn(n, expr(e)) },
            sortCols, targetFiles(bytesOf(dir, parts(pd)), targetFileBytes))
          .write.parquet(st)
      })
    }
    if (rewrites.exists(_.isDefined)) commit(dir, v, swap(live, rewrites.flatten))
    names.zip(rewrites).collect { case (pd, Some(_)) => pd }
  }

  /** Data files per partition directory — the compaction health metric,
    * counted from the current commit (files directly in the directory;
    * a batch-versioned store's nested batch files count 0 here).
    */
  def filesPerPartition(dir: String): Map[String, Int] =
    filesPerPartition(PointerStore.liveFiles(dir))

  private def filesPerPartition(live: Seq[String]): Map[String, Int] =
    byPartition(live).map { case (pd, fs) =>
      pd -> fs.count(_.count(_ == '/') == 1) }
}
