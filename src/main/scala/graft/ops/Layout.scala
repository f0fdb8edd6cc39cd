package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
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
  * Every filesystem touch goes through [[Fs]] (the Hadoop `FileSystem`
  * API), so the same store and the same crash-safe maintenance protocol
  * work on `file:` paths in CI and on HDFS in production unchanged —
  * rename is atomic on both; [[Fs.rename]] refuses the object-store
  * schemes where it is not (see [[Fs]] scaladoc for the full stance).
  *
  * Reference scope: pandas-db reads whole SQLite tables (table.py's
  * SELECT-from-table model); a partition-pruned parquet store is the
  * Spark-native equivalent of its per-table files, scaled out.
  */
object Layout {

  /** Write `df` under `dir` as `partitionCol=value/` parquet directories,
    * one file per partition value (unless `maxRecordsPerFile` splits it),
    * rows sorted by `sortCols` within each file.
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
    val clustered = df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
    val w = clustered.write.mode("overwrite").partitionBy(partitionCol)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(dir)
  }

  /** Rewrite a partitioned store in place with one file per partition
    * directory, rows re-sorted by `sortCols` — the compaction pass that
    * undoes small-file accumulation from incremental appends.
    *
    * The rewrite lands in `dir__next` and [[swapIn]] puts it in place: at
    * every instant at least one complete copy of the data exists on disk,
    * and [[recover]] (run first, as by every store write) rolls an
    * interrupted swap forward or back.
    */
  def compact(spark: SparkSession, dir: String, partitionCol: String,
      sortCols: Seq[String]): Unit = {
    recover(dir)
    val base = dir.stripSuffix("/")
    writePartitioned(spark.read.parquet(base), base + StoreNext, partitionCol,
      sortCols)
    swapIn(base + StoreNext, base, base + StoreAside)
  }

  // Every scratch, aside and marker name of the store family — the names
  // `recover` acts on. The two swap shapes: the whole store
  // (`<dir>__next` / `<dir>__old`) and one partition directory
  // (`<dir>/.__next__<pd>` / `<dir>/.__old__<pd>`, dot-prefixed so a
  // concurrent reader's file index never parses them as partition values).
  private[ops] val StoreNext = "__next"
  private[ops] val StoreAside = "__old"
  private val DirNext = ".__next__"
  private val DirAside = ".__old__"
  private val Merging = ".__merging__"
  private val Evolving = "__evolving"
  private val EvolveDone = "._evolve_done"
  private val SquashTmp = ".__squashtmp__"
  private val SquashMark = ".__squashmark__"

  /** THE rename-aside swap: replace `live` by the complete rewrite in
    * `scratch`. `live` is renamed ASIDE (not deleted), the scratch renamed
    * into place, and only then is the aside dropped, so at every instant
    * one complete copy is on disk. If the second rename fails the aside is
    * renamed back before rethrowing. With no `live` yet (a new partition
    * value) the scratch is just renamed into place. Renames are single
    * `FileSystem.rename` calls — atomic on HDFS and POSIX; [[Fs.rename]]
    * refuses the object-store schemes where they are not.
    */
  private[ops] def swapIn(scratch: String, live: String,
      aside: String): Unit = {
    val (scratchP, liveP, asideP) =
      (Fs.path(scratch), Fs.path(live), Fs.path(aside))
    if (!Fs.exists(liveP)) Fs.rename(scratchP, liveP)
    else {
      Fs.rename(liveP, asideP)
      try Fs.rename(scratchP, liveP)
      catch {
        case e: Throwable =>
          try Fs.rename(asideP, liveP)
          catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      }
      Fs.deleteRecursively(asideP)
    }
    ()
  }

  /** THE crash recovery of the partitioned-store family — SQLite's
    * hot-journal rule: every store write ([[append]], [[appendBatch]],
    * [[ingest]], [[ingestBloom]], [[merge]], every maintenance op here and
    * [[Rollup.maintain]]) runs it first, so no write lands on a
    * half-swapped store. On a healthy store it only probes. In order:
    *  1. whole-store aside `dir__old`: live `dir` present → the swap
    *     completed, drop the aside; live missing → roll back;
    *  2. whole-store scratch `dir__next`: an unswapped rewrite, dropped
    *     (its op rebuilds it from the live store);
    *  3. [[evolvePartitions]]' resumable `dir__evolving`: staging dirs and
    *     the `src-<enc>-*` files of sources missing from its progress log
    *     are pruned, completed sources are kept; a progress log that a
    *     completed swap carried into the live dir is dropped;
    *  4. per-directory asides `.__old__<pd>`: the rule of step 1;
    *  5. per-directory scratch `.__next__<pd>` and [[merge]]'s
    *     `.__merging__`: dropped;
    *  6. [[squashHistory]] markers roll forward (scratch present → redo the
    *     deletes and the move; scratch gone → finish the deletes);
    *     markerless squash scratch is a pre-commit crash, dropped;
    *  7. `.*.tmp` atomic-write leftovers ([[Fs.tmpFor]]'s naming rule) in
    *     the store root and in `dir__evolving`.
    */
  def recover(dir: String): Unit = {
    val base = dir.stripSuffix("/")
    def rollAside(aside: String, live: String): Unit =
      if (Fs.exists(Fs.path(aside))) {
        if (Fs.exists(Fs.path(live))) Fs.deleteRecursively(Fs.path(aside))
        else Fs.rename(Fs.path(aside), Fs.path(live))
      }
    def sweepTmp(d: Path): Unit = Fs.list(d).foreach { f =>
      val n = f.getPath.getName
      if (f.isFile && n.startsWith(".") && n.endsWith(".tmp"))
        Fs.deleteFile(f.getPath)
    }
    rollAside(base + StoreAside, base)
    Fs.deleteRecursively(Fs.path(base + StoreNext))
    val evolving = Fs.path(base + Evolving)
    if (Fs.isDir(evolving)) {
      val doneFile = new Path(evolving, EvolveDone)
      val keep = (if (Fs.exists(doneFile))
        Fs.readUTF8(doneFile).linesIterator.toSet else Set.empty[String])
        .map(srcEnc)
      Fs.list(evolving).foreach { f =>
        if (f.getPath.getName.startsWith(".__stage__"))
          Fs.deleteRecursively(f.getPath)
        else if (f.isDirectory)
          Fs.list(f.getPath).foreach { df =>
            val n = df.getPath.getName
            if (n.startsWith("src-") && n.endsWith(".parquet") &&
                !keep.exists(e => n.startsWith(s"src-$e-")))
              Fs.deleteFile(df.getPath)
          }
      }
      sweepTmp(evolving)
    }
    Fs.deleteFile(Fs.path(s"$base/$EvolveDone"))
    val entries = Fs.list(Fs.path(base)).map(_.getPath.getName)
    entries.filter(_.startsWith(DirAside)).foreach(n =>
      rollAside(s"$base/$n", s"$base/${n.stripPrefix(DirAside)}"))
    entries.filter(n => n.startsWith(DirNext) || n == Merging)
      .foreach(n => Fs.deleteRecursively(Fs.path(s"$base/$n")))
    val marks =
      entries.filter(n => n.startsWith(SquashMark) && !n.endsWith(".tmp"))
    marks.foreach { n =>
      val pd = n.stripPrefix(SquashMark)
      val lines = Fs.readUTF8(Fs.path(s"$base/$n")).trim.split("\n").toSeq
      val target = lines.head.toLong
      val ids = lines.tail.map(_.toLong)
      val tmp = Fs.path(s"$base/$SquashTmp$pd")
      def drop(i: Long): Unit =
        Fs.deleteRecursively(Fs.path(s"$base/$pd/ingest_batch=$i"))
      if (Fs.exists(tmp)) {
        // deletes may be partial and the move has not happened (the
        // scratch is the only complete copy): redo both
        ids.foreach(drop)
        Fs.rename(tmp, Fs.path(s"$base/$pd/ingest_batch=$target"))
      } else ids.filter(_ != target).foreach(drop) // moved: finish deletes
      Fs.deleteFile(Fs.path(s"$base/$n"))
    }
    entries.filter(n => n.startsWith(SquashTmp) &&
        !marks.contains(SquashMark + n.stripPrefix(SquashTmp)))
      .foreach(n => Fs.deleteRecursively(Fs.path(s"$base/$n")))
    sweepTmp(Fs.path(base))
  }

  /** Per-directory rewrites run at most this many at a time. */
  private val MaxConcurrentRewrites = 4

  /** Run per-directory rewrite bodies CONCURRENTLY (optimization round 15,
    * guide §2.6 "overlap independent jobs"): the maintenance family's
    * per-partition rewrites are driver-sequenced Spark jobs over disjoint
    * directories, so a store with P fragmented/expiring dirs paid P full
    * job round-trips back to back while most of the cluster idled through
    * each job's tail. Each body swaps its own directory with [[swapIn]]
    * ([[recover]] rolls ANY subset of completed dirs forward, so
    * concurrent completion order changes nothing); a small pool merely
    * lets the next directory's job back-fill executors the current one no
    * longer saturates. Results come back in ITEM order, the first failure
    * propagates with its original exception (unwrapped), and at most
    * [[MaxConcurrentRewrites]] jobs are in flight (the guide's "2-3 jobs
    * in flight is plenty" plus one) so production-sized directory
    * rewrites don't fight for executors.
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
        // DRAIN before propagating a failure (r15 advice): shutdownNow()
        // would interrupt sibling rewrites mid rename-protocol, leaving
        // up to `conc` directories in the rename-away window at once and
        // several needing recover after one bad directory. Letting every
        // in-flight (and queued) body run to its own completion keeps the
        // old sequential guarantee — at most the failed directory needs
        // recovery — and the bodies are small per-directory rewrites, so
        // the drain is bounded. First failure still propagates unwrapped,
        // in item order.
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
    * write. Each fragmented directory is rewritten sorted into
    * `.__next__<pd>` and put in place with [[swapIn]] (per directory: at
    * least one complete copy on disk at every instant; [[recover]], run
    * first, rolls an interrupted swap forward or back). Untouched
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
    * size-targeted stores too. Bytes come from the directory listing —
    * no footer is opened (row-count targeting would have to open every
    * footer of every directory, breaking the untouched-dirs contract).
    *
    * Returns the partition directory names that were compacted.
    */
  def compactPartitions(spark: SparkSession, dir: String, sortCols: Seq[String],
      maxFiles: Int = 1, maxDirs: Int = Int.MaxValue,
      targetFileBytes: Long = 0L): Seq[String] = {
    require(maxDirs >= 1, "compactPartitions: maxDirs must be >= 1")
    recover(dir)
    val base = dir.stripSuffix("/")
    // size-targeted mode (targetFileBytes > 0): a directory is COMPACTED
    // once its file count is within what a size-targeted layout needs —
    // ceil(bytes / target) files — so a hot directory rewritten to k
    // parallel sorted runs does not re-select forever; byte sizes come
    // from the same listing as the file counts (no footer opened, the
    // untouched-dirs-never-opened contract holds)
    def needed(pd: String): Int =
      if (targetFileBytes <= 0L) maxFiles
      else math.max(maxFiles,
        targetFiles(dirDataBytes(Fs.path(s"$base/$pd")), targetFileBytes))
    // maxDirs caps the pass to the WORST offenders (file count desc, then
    // name) — the maintenance-window form: a nightly job with a time
    // budget compacts the most fragmented directories first and converges
    // over successive nights instead of rewriting everything at once
    val fragmented = filesPerPartition(dir).filter { case (pd, n) =>
        n > needed(pd) }.toSeq
      .sortBy { case (name, n) => (-n, name) }
      .take(maxDirs).map(_._1).sorted
    forEachRewrite(fragmented) { pd =>
      val sub = s"$base/$pd"
      // the partition column lives in the DIRECTORY NAME, not the files —
      // reading the subdir yields the data columns only, which is exactly
      // what the rewritten files must contain
      clusterForRewrite(spark.read.parquet(sub), sortCols,
          targetFiles(dirDataBytes(Fs.path(sub)), targetFileBytes))
        .write.mode("overwrite").parquet(s"$base/$DirNext$pd")
      swapIn(s"$base/$DirNext$pd", sub, s"$base/$DirAside$pd")
    }
    fragmented
  }

  /** Total data-file bytes under a partition directory (one listing —
    * no footer is opened), the input to size-targeted rewrites.
    */
  private def dirDataBytes(p: Path): Long =
    Fs.list(p).iterator.map { f =>
      if (f.isFile) {
        if (f.getPath.getName.endsWith(".parquet") ||
            f.getPath.getName.endsWith(".orc")) f.getLen else 0L
      } else dirDataBytes(f.getPath)
    }.sum

  /** Files a size-targeted rewrite of `bytes` aims for: 1 when no target
    * is set (the classic one-file contract), else ceil(bytes / target).
    */
  private def targetFiles(bytes: Long, targetFileBytes: Long): Int =
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

  /** Append a batch to an existing partitioned store — same per-value
    * clustering and in-file sort as [[writePartitioned]], but additive:
    * each append lands ONE new file per touched partition directory.
    * Fragmentation grows by one file per batch per value; [[compact]] is
    * the periodic remedy (spec'd together in LayoutSpec).
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
    recover(dir)
    // an EMPTY batch into a DATA-LESS store (absent, or existing with
    // only a checkpoint sidecar / _SUCCESS) must not create a schema-less
    // store that poisons later opens. The isEmpty job only runs in that
    // rare no-data case — never on the hot append path.
    if (!hasData(dir) && df.isEmpty) return
    requireSchemaMatch(df, dir, partitionCol)
    df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write.mode("append").partitionBy(partitionCol).parquet(dir)
  }

  /** A real partition directory (`key=value/`), as opposed to metadata
    * (`_SUCCESS`, `_graft_checkpoints`) or compaction scratch (dot
    * prefix) — the ONE definition every store listing shares.
    */
  private def isPartitionDir(f: FileStatus): Boolean =
    f.isDirectory && f.getPath.getName.contains("=") &&
      !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")

  /** True when the store holds any data file or partition directory —
    * "exists" is not enough (a checkpoint sidecar creates the dir).
    */
  private def hasData(dir: String): Boolean =
    Fs.list(Fs.path(dir)).exists(f =>
      isPartitionDir(f) || f.getPath.getName.endsWith(".parquet"))

  /** Fail-loud guard: the batch's (name → type) map must equal the
    * store's. No-op when the store does not exist yet. Column ORDER is
    * not compared; parquet is by-name. Partition columns (the caller's
    * `partitionCol` and the managed `ingest_batch`) are compared by NAME
    * only: their store-side type comes from DIRECTORY-NAME inference,
    * which narrows (day='2020-01-01' infers date, shard='42' infers int)
    * — a type mismatch there is an inference artifact, not drift.
    */
  private[ops] def requireSchemaMatch(df: DataFrame, dir: String,
      partitionCol: String): Unit = {
    if (!hasData(dir)) return // nothing to drift from yet
    val store = df.sparkSession.read.parquet(dir).schema
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
    * already in the store (0-based first batch). The second partition
    * level turns "reprocess everything since my last checkpoint" — the
    * incremental-consumer pattern of every downstream trainer — into a
    * DIRECTORY-PRUNED scan via [[readSince]]: consuming batch N+1..M of a
    * 100 TB store opens only those batches' files, no matter how big the
    * history is. Returns the batch id it wrote.
    *
    * Same one-file-per-value clustering as [[append]]; fragmentation per
    * batch is one file per touched partition value, and old batches are
    * immutable once written (compaction would merge batch dirs and break
    * the checkpoint contract — deliberately not offered for versioned
    * stores).
    *
    * SINGLE-PRODUCER protocol: the batch id comes from a directory
    * listing, so two concurrent writers could allocate the same id.
    * Run one ingest writer per store (the normal crawl-pipeline shape);
    * concurrent CONSUMERS are fine — they only read and write their own
    * checkpoint files.
    */
  def appendBatch(df: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String]): Long = {
    // empty batches must not hand out a batch id (the next real batch
    // would reuse it, mis-attributing its rows to whoever recorded the
    // phantom id) nor create an unreadable schema-less dir on a fresh
    // store. The pre-write isEmpty job runs only in the rare fresh-store
    // case; on an existing store emptiness is detected for free AFTER the
    // write (no ingest_batch dir appeared). Returns -1: nothing written.
    recover(dir)
    if (!hasData(dir) && df.isEmpty) return -1L
    requireSchemaMatch(df, dir, partitionCol)
    val next = nextBatchId(dir)
    df.withColumn("ingest_batch", lit(next))
      .repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write.mode("append").partitionBy(partitionCol, "ingest_batch").parquet(dir)
    // new ingest_batch dir appeared → the id was really written
    if (nextBatchId(dir) > next) next else -1L
  }

  /** 1 + the highest `ingest_batch=` id present under any partition dir
    * of `dir`; 0 for an absent or empty store. Pure directory listing —
    * no file is opened.
    */
  def nextBatchId(dir: String): Long = {
    val parts = Fs.list(Fs.path(dir)).filter(isPartitionDir)
    val ids = parts.flatMap(p =>
      Fs.list(p.getPath)
        .filter(b => b.isDirectory &&
          b.getPath.getName.startsWith("ingest_batch="))
        .flatMap(b =>
          b.getPath.getName.stripPrefix("ingest_batch=").toLongOption))
    if (ids.isEmpty) 0L else ids.max + 1L
  }

  /** Rows of batches `fromBatch` and later — the incremental consume.
    * The `ingest_batch >= fromBatch` filter prunes at the DIRECTORY level
    * (asserted via scan metrics in LayoutSpec): history never rescans.
    * A store that has never received a batch (absent dir) yields a
    * zero-column empty frame — there is no schema to serve yet; callers
    * that need columns should gate on [[nextBatchId]] > 0 first (readNew
    * surfaces this as upTo = -1).
    */
  def readSince(spark: SparkSession, dir: String, fromBatch: Long): DataFrame =
    if (!Fs.exists(Fs.path(dir))) spark.emptyDataFrame
    else spark.read.parquet(dir).filter(col("ingest_batch") >= fromBatch)

  // ---- per-consumer checkpoints on a versioned store --------------------
  // A named consumer records the last batch it fully processed; its next
  // run reads exactly the batches it has not seen. The records live in an
  // UNDERSCORE-prefixed sidecar dir (readers ignore it, like _SUCCESS),
  // one file per consumer, written atomically (tmp + rename-replace) so a
  // crash mid-write leaves the previous checkpoint intact; a crash inside
  // the replace itself can only LOSE the file, which reads as "never
  // committed" and costs re-consumption, never corruption (Fs scaladoc).

  private def checkpointFile(dir: String, consumer: String): Path = {
    require(consumer.matches("[A-Za-z0-9._-]+"),
      s"consumer name '$consumer' must be a plain token (it names a file)")
    Fs.path(s"${dir.stripSuffix("/")}/_graft_checkpoints/$consumer")
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
    * An absent store dir degrades to a plain first append.
    */
  def ingest(batch: DataFrame, dir: String, partitionCol: String,
      sortCols: Seq[String], keyExpr: org.apache.spark.sql.Column): Unit = {
    val spark = batch.sparkSession
    recover(dir) // before the store probe below; append's own is a no-op
    if (!Fs.exists(Fs.path(dir))) {
      append(batch, dir, partitionCol, sortCols); return
    }
    val existingKeys = spark.read.parquet(dir)
      .select(keyExpr.as("__k")).distinct()
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
    val spark = batch.sparkSession
    recover(dir) // before the store probe below; append's own is a no-op
    if (!Fs.exists(Fs.path(dir))) {
      append(batch, dir, partitionCol, sortCols); return
    }
    val k = coalesce(keyExpr.cast("string"), lit("\u0000__graft_null_key__"))
    val storeKeys = spark.read.parquet(dir).select(k.as("__k"))
    val fresh = Bloom.bloomAntiJoin(
        batch.withColumn("__k", k), storeKeys, "__k", fpp = fpp)
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
  def readAsOf(spark: SparkSession, dir: String, upToBatch: Long): DataFrame =
    if (!Fs.exists(Fs.path(dir))) spark.emptyDataFrame
    else spark.read.parquet(dir).filter(col("ingest_batch") <= upToBatch)

  /** Every consumer with a committed checkpoint on this store, with its
    * last committed batch id.
    */
  def consumers(dir: String): Map[String, Long] = {
    val d = Fs.path(s"${dir.stripSuffix("/")}/_graft_checkpoints")
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
    * Crash-safe per partition directory, with dot-prefixed scratch like
    * [[compactPartitions]] (a concurrent reader never parses half-written
    * dirs as partition values): the merged rewrite lands in
    * `.__squashtmp__<pd>` first, a commit MARKER records the ids being
    * replaced, only then are old dirs deleted and the scratch moved in,
    * and the marker removed. [[recover]] — run first, as by every store
    * write — rolls an interrupted squash forward from the marker (scratch
    * still present: redo deletes, complete the move; scratch gone: the
    * move completed, finish the deletes), and sweeps markerless scratch
    * (pre-commit crash: originals are intact). At every instant at least
    * one complete copy of each partition's rows exists ON DISK (the
    * scratch counts) — but a complete copy is not always VISIBLE to
    * readers: between the deletes and the move, a concurrent full read or
    * readAsOf observes the partition with its squashed history missing
    * (the same reader-race window every rename-aside swap in this file
    * has — compact/compactPartitions/merge). Run squash as the store's
    * single writer in a maintenance window with respect to full-history
    * readers; incremental consumers above the floor only lose listing
    * work. After a crash the gap PERSISTS until [[recover]] runs — reads
    * do not self-heal — so the next write to the store (which recovers
    * first) or an explicit [[recover]] at store-open closes it.
    *
    * Returns the partition directory names that were squashed.
    */
  def squashHistory(spark: SparkSession, dir: String, upTo: Long,
      sortCols: Seq[String] = Seq.empty,
      targetFileBytes: Long = 0L): Seq[String] = {
    recover(dir)
    val base = dir.stripSuffix("/")
    val parts = Fs.list(Fs.path(base)).filter(isPartitionDir)
    def batchIds(p: FileStatus): Seq[Long] =
      Fs.list(p.getPath)
        .filter(b => b.isDirectory &&
          b.getPath.getName.startsWith("ingest_batch="))
        .flatMap(b =>
          b.getPath.getName.stripPrefix("ingest_batch=").toLongOption)
    // one listing per partition dir, shared by the floor computation AND
    // the per-partition rewrite bodies (optimization round 16 — the body
    // used to re-list the directory it had just been screened from)
    val partIds = parts.map(p => p -> batchIds(p).filter(_ <= upTo).sorted)
    val allIds = partIds.flatMap(_._2)
    if (allIds.isEmpty) return Seq.empty
    val s = allIds.max
    val lagging = consumers(dir).filter { case (_, c) => c >= 0 && c < s }
    require(lagging.isEmpty,
      s"squashHistory($dir, upTo=$upTo) refused — consumer(s) " +
        s"${lagging.keys.toSeq.sorted.mkString(",")} are checkpointed below " +
        s"batch $s and would re-consume the squashed history; advance or " +
        "drop their checkpoints first")
    val touched = forEachRewrite(partIds.toSeq) { case (p, ids) =>
      // a partition already holding exactly one dir labeled S is done
      if (ids.isEmpty || ids == Seq(s)) None
      else {
        val pd = p.getPath.getName
        val tmp = s"$base/$SquashTmp$pd"
        val mark = Fs.path(s"$base/$SquashMark$pd")
        val srcs = ids.map(i => s"$base/$pd/ingest_batch=$i")
        // the partition cols live in directory names; the merged files
        // must carry data columns only, exactly like compactPartitions.
        // Size-targeted split: the squashed mass of a hot partition can
        // be a whole year of batches — rewrite it in parallel sorted runs
        val nf = targetFiles(
          ids.map(i => dirDataBytes(
            Fs.path(s"$base/$pd/ingest_batch=$i"))).sum, targetFileBytes)
        clusterForRewrite(spark.read.parquet(srcs: _*), sortCols, nf)
          .write.mode("overwrite").parquet(tmp)
        // commit point: marker lists the ids being replaced + the target.
        // Written via tmp + rename onto a NONEXISTENT name — fully atomic
        // (no replace window): the marker either exists complete or not
        val tmpMark = Fs.path(s"$base/$SquashMark$pd.tmp")
        Fs.writeUTF8(tmpMark,
          (s.toString +: ids.map(_.toString)).mkString("\n"))
        Fs.rename(tmpMark, mark)
        ids.foreach(i =>
          Fs.deleteRecursively(Fs.path(s"$base/$pd/ingest_batch=$i")))
        Fs.rename(Fs.path(tmp), Fs.path(s"$base/$pd/ingest_batch=$s"))
        Fs.deleteFile(mark)
        Some(pd)
      }
    }
    touched.flatten.sorted
  }

  /** MERGE (upsert) by key into a partitioned store: each batch row
    * REPLACES every store row sharing its `keyCols` value; batch rows with
    * no match are inserted. The update primitive the append-only paths
    * ([[append]]/[[ingest]]) deliberately lack — re-crawled documents,
    * corrected labels, late-arriving fixes.
    *
    * PARTITION-PRUNED: only the partition directories whose
    * `partitionCol` values appear in the batch are read, rewritten, and
    * swapped. At 100 TB a merge touching 3 of 10 000 day-partitions scans
    * and writes 3 directories; the other 9 997 are never opened. Each
    * touched directory is rewritten under the dot-prefixed `.__merging__`
    * scratch and put in place with [[swapIn]] ([[recover]], run first,
    * rolls an interrupted swap forward or back), so the merge is atomic
    * PER DIRECTORY, not across the store; re-running the same merge is
    * idempotent (replace-by-key twice = once), which is the recovery
    * story for a crash between directory swaps.
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
    recover(dir)
    requireSchemaMatch(batch, dir, partitionCol)
    val base = dir.stripSuffix("/")
    val scratch = s"$base/$Merging"
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
    // read ONLY the touched directories (partition filter prunes at the
    // file index — untouched directories are not opened), drop the rows
    // being replaced, union the batch, rewrite to dot-prefixed scratch.
    // A store with no data yet retains nothing: its first batch takes the
    // same screens, scratch and swaps as every later one.
    // The anti-join is on (partition value + key), NOT the key alone: a
    // store row under a different partition value than the batch row's
    // must survive deterministically, not depend on whether unrelated
    // batch rows happened to touch its directory (see scaladoc contract)
    val retained =
      if (!hasData(dir)) batch.limit(0)
      else spark.read.parquet(dir)
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
    retained.unionByName(batch)
      .repartitionByRange((partitionCol +: sortCols).map(col): _*)
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(scratch)
    // swap each rewritten directory into place, one at a time (new
    // partition values just move in — no live dir)
    val rewritten = Fs.list(Fs.path(scratch))
      .filter(isPartitionDir).map(_.getPath.getName).sorted
    rewritten.foreach(pd =>
      swapIn(s"$scratch/$pd", s"$base/$pd", s"$base/$DirAside$pd"))
    Fs.deleteRecursively(Fs.path(scratch))
    rewritten
  }

  /** PARTITION EVOLUTION: re-key an existing `fromCol=value/` store onto
    * `toCol=value/` directories, INCREMENTALLY and resumably — the
    * operation a 100 TB store needs when the original partitioning stops
    * matching the read pattern (a corpus laid out by `source` that is now
    * always filtered by `lang`). A whole-store `writePartitioned` redo is
    * one giant shuffle with nothing readable until it finishes; this
    * processes ONE source partition directory at a time:
    *
    *  1. scratch root `dir__evolving` accumulates the NEW layout; a
    *     dot-prefixed `._evolve_done` progress file lists completed
    *     source directories (updated by atomic tmp-file swap after each).
    *  2. per source dir: read it (with basePath, so `fromCol` survives as
    *     a data column — evolution must not lose the old key), cluster by
    *     `toCol`, write to a dot-prefixed staging dir, then MOVE each
    *     staged file into its `toCol=value/` target under a name prefixed
    *     `src-<md5(sourceDir)>-` — so a crash mid-source is recovered by
    *     deleting exactly that source's files and redoing it. All other
    *     completed sources' work is kept.
    *  3. when every source is listed done, the whole scratch is put in
    *     place with [[swapIn]] (live dir renamed to `dir__old`, scratch
    *     renamed live, `dir__old` dropped).
    *
    * The ORIGINAL store stays live and readable until the final atomic
    * swap; a crash anywhere loses at most one source partition's rewrite.
    * [[recover]] (run first) rolls an interrupted swap forward/back and
    * prunes partial source output, after which a re-run resumes from
    * `._evolve_done`. Scale: per-increment work is one source partition's
    * rows (bounded), never the corpus; the final swap is two renames.
    *
    * Returns the source directory names processed THIS call (empty =
    * everything was already done and only the swap was pending).
    */
  def evolvePartitions(spark: SparkSession, dir: String, fromCol: String,
      toCol: String, sortCols: Seq[String]): Seq[String] = {
    recover(dir)
    val base = dir.stripSuffix("/")
    val scratch = base + Evolving
    val doneFile = Fs.path(s"$scratch/$EvolveDone")
    val sources = Fs.list(Fs.path(base))
      .filter(f => f.isDirectory && f.getPath.getName.startsWith(fromCol + "="))
      .map(_.getPath.getName).sorted
    if (sources.isEmpty) {
      // a crash AFTER the final swap leaves the live dir already evolved
      // (recover just rolled it forward): re-running is the
      // documented recovery path and must be a no-op, not an error
      val alreadyEvolved = Fs.list(Fs.path(base))
        .exists(f => f.isDirectory && f.getPath.getName.startsWith(toCol + "="))
      require(alreadyEvolved,
        s"evolvePartitions: no '$fromCol=' partition directories under $dir")
      Fs.deleteRecursively(Fs.path(scratch))
      return Seq.empty
    }
    Fs.mkdirs(Fs.path(scratch))
    val done: Set[String] =
      if (Fs.exists(doneFile))
        Fs.readUTF8(doneFile).linesIterator.toSet
      else Set.empty
    val todo = sources.filterNot(done)
    // per-source rewrites are independent (staged under per-source scratch,
    // target file names carry the source encoding so two sources never
    // collide in a shared target dir; Fs.mkdirs is idempotent) — only the
    // progress log is shared, so its accumulate+write is synchronized. The
    // logged set is exactly the COMPLETED sources whatever the completion
    // order, which a crash resume (recover's prune + rerun) already
    // tolerates by construction.
    val committed = scala.collection.mutable.Set[String]() ++ done
    forEachRewrite(todo) { srcDir =>
      val enc = srcEnc(srcDir)
      val stage = s"$scratch/.__stage__$enc"
      spark.read.option("basePath", base).parquet(s"$base/$srcDir")
        .repartition(col(toCol))
        .sortWithinPartitions((toCol +: sortCols).map(col): _*)
        .write.mode("overwrite").partitionBy(toCol).parquet(stage)
      Fs.list(Fs.path(stage))
        .filter(f => f.isDirectory && f.getPath.getName.startsWith(toCol + "="))
        .foreach { td =>
          val target = s"$scratch/${td.getPath.getName}"
          Fs.mkdirs(Fs.path(target))
          Fs.list(td.getPath)
            .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
            .foreach { case (f, i) =>
              Fs.rename(f.getPath, Fs.path(s"$target/src-$enc-$i.parquet"))
            }
        }
      Fs.deleteRecursively(Fs.path(stage))
      // commit this source: rewrite the done file via atomic tmp swap so
      // a crash mid-write never truncates the progress log (a LOST done
      // file only redoes work — recover prunes and the run resumes)
      committed.synchronized {
        committed += srcDir
        Fs.writeUTF8Atomic(doneFile,
          committed.toSeq.sorted.mkString("\n") + "\n")
      }
    }
    // every source committed -> atomic whole-store swap; the progress log
    // rides in with the scratch and is dropped after
    swapIn(scratch, base, base + StoreAside)
    Fs.deleteFile(Fs.path(s"$base/$EvolveDone"))
    todo
  }

  /** ONE-PASS partition evolution + compaction: re-key the store from
    * `fromCol=value/` onto `toCol=value/` directories AND leave exactly one
    * sorted file per target directory, in a single read + single shuffle +
    * single write. The composition [[evolvePartitions]] →
    * [[compactPartitions]] reads and writes the corpus TWICE (evolve lands
    * one `src-*` file per source dir per target dir — a store with S
    * sources fragments every target S ways — and the compaction pass
    * re-reads all of it); this form shuffles each row once to its final
    * task, where `repartition(col(toCol))` guarantees all rows of a target
    * value share one task and the dynamic-partition writer emits one file
    * per value.
    *
    * Trade-off vs the incremental form: [[evolvePartitions]] is resumable
    * per source directory (a crash redoes one source); this is
    * all-or-nothing — the scratch store is one job, and a crash before the
    * final swap discards it (recovery = rerun from the intact live store,
    * which stays readable throughout). Choose this form inside a
    * maintenance window where one shuffle round is affordable; choose the
    * incremental form when redoing the whole rewrite on failure is not.
    * Both end in the same whole-store [[swapIn]]; [[recover]] (run
    * first) rolls an interrupted swap forward or back.
    *
    * Returns the target partition directory names created.
    */
  def evolveCompact(spark: SparkSession, dir: String, fromCol: String,
      toCol: String, sortCols: Seq[String]): Seq[String] = {
    recover(dir)
    val base = dir.stripSuffix("/")
    val scratch = base + StoreNext
    val sources = Fs.list(Fs.path(base))
      .filter(f => f.isDirectory && f.getPath.getName.startsWith(fromCol + "="))
    if (sources.isEmpty) {
      // crash after the swap: live dir is already evolved — rerun no-ops
      val alreadyEvolved = Fs.list(Fs.path(base))
        .exists(f => f.isDirectory && f.getPath.getName.startsWith(toCol + "="))
      require(alreadyEvolved,
        s"evolveCompact: no '$fromCol=' partition directories under $dir")
      return Seq.empty
    }
    spark.read.option("basePath", base).parquet(base)
      .repartition(col(toCol))
      .sortWithinPartitions((toCol +: sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy(toCol).parquet(scratch)
    val created = Fs.list(Fs.path(scratch))
      .filter(f => f.isDirectory && f.getPath.getName.startsWith(toCol + "="))
      .map(_.getPath.getName).sorted
    swapIn(scratch, base, base + StoreAside)
    created
  }

  /** Filesystem-safe token for a source partition directory name (it can
    * carry `=` and arbitrary partition values): 8-byte md5 hex.
    */
  private def srcEnc(srcDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(srcDir.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString

  /** TTL / RETENTION VACUUM: delete every row whose `tsCol` value is
    * below `cutoff` from a partitioned store — the retention sweep a
    * 100 TB events store runs nightly. Three tiers, cheapest first, and
    * the data is never read unless a directory actually straddles the
    * boundary:
    *
    *  - EXPIRED directories (footer-level max(tsCol) < cutoff for every
    *    row group): deleted outright. No data read — parquet footers
    *    only, the [[Manifest]] trick. Deleting expired rows is
    *    idempotent, so directory deletion needs no staging.
    *  - LIVE directories (footer min(tsCol) ≥ cutoff everywhere):
    *    untouched — not read, not rewritten, not opened past the footer.
    *  - BOUNDARY directories (straddle the cutoff): rewritten with the
    *    `tsCol >= cutoff` filter to one sorted file in `.__next__<pd>` and
    *    put in place with [[swapIn]] — at every instant a complete copy of
    *    the surviving rows exists on disk, and [[recover]] (run first)
    *    rolls an interrupted swap forward or back. A rewrite that drops
    *    EVERY row deletes the directory directly, like an expired one
    *    (empty partition dirs poison readers).
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
    recover(dir)
    val base = dir.stripSuffix("/")
    val parts = Fs.list(Fs.path(base)).filter(isPartitionDir)
      .map(_.getPath.getName).sorted
    // per-dir outcomes collected concurrently (order restored below)
    sealed trait Outcome
    object Kept extends Outcome
    object Deleted extends Outcome
    object Rewritten extends Outcome
    val outcomes = forEachRewrite(parts) { pd =>
      val sub = s"$base/$pd"
      // footer sweep: (every group max < cutoff, every group min >= cutoff)
      val stats = Manifest.manifest(spark, sub, tsCol)
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
      if (allExpired) {
        Fs.deleteRecursively(Fs.path(sub))
        Deleted
      } else if (!allLive) {
        val tmp = s"$base/$DirNext$pd"
        val survivors = spark.read.parquet(sub)
          .filter(col(tsCol) >= lit(cutoff) || col(tsCol).isNull)
        // survivors <= the directory's bytes: the pre-filter size is a
        // safe (over-)estimate for the parallel-split width
        clusterForRewrite(survivors, sortCols,
            targetFiles(dirDataBytes(Fs.path(sub)), targetFileBytes))
          .write.mode("overwrite").parquet(tmp)
        val anyRow = Fs.list(Fs.path(tmp))
          .exists(_.getPath.getName.endsWith(".parquet")) &&
          spark.read.parquet(tmp).limit(1).count() > 0
        if (anyRow) {
          swapIn(tmp, sub, s"$base/$DirAside$pd")
          Rewritten
        } else {
          Fs.deleteRecursively(Fs.path(sub))
          Fs.deleteRecursively(Fs.path(tmp))
          Deleted
        }
      } else Kept
    }
    val byDir = parts.zip(outcomes)
    (byDir.collect { case (pd, Deleted) => pd },
      byDir.collect { case (pd, Rewritten) => pd })
  }

  /** SCHEMA EVOLUTION with backfill: add `colName` = `sqlExpr` (a Spark
    * SQL expression over the store's existing columns) to every row of a
    * partitioned store, one partition directory at a time — the other
    * half of store evolution next to [[evolvePartitions]] (new key) and
    * the schema-drift guard on [[append]] (which refuses a batch carrying
    * a column the store lacks until the store is evolved first).
    *
    * Incremental + idempotent: each directory is rewritten with the new
    * column into `.__next__<pd>` and put in place with [[swapIn]]; a
    * directory whose files ALREADY carry `colName` is skipped (one
    * footer-only schema read), which is what makes a crashed run
    * resumable by just re-running — completed directories skip, the
    * interrupted one is rolled forward/back by [[recover]] (run first),
    * the rest redo.
    * At every instant every directory holds one complete copy of its
    * rows, and readers see old-schema or new-schema files per directory,
    * never a torn one. Scale: cost is one read+write of each directory,
    * resumable at directory granularity — a 100 TB backfill that dies at
    * 60% restarts at 60%.
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
    * requested column skips (the resume contract); a directory carrying
    * some-but-not-all gets the missing ones added (columns it already
    * has keep their stored values — expressions are not re-applied).
    */
  def addColumns(spark: SparkSession, dir: String,
      cols: Seq[(String, String)], sortCols: Seq[String],
      targetFileBytes: Long = 0L): Seq[String] = {
    require(cols.nonEmpty, "addColumns: no columns to add")
    require(cols.map(_._1).distinct.size == cols.size,
      "addColumns: duplicate column names")
    recover(dir)
    val base = dir.stripSuffix("/")
    val parts = Fs.list(Fs.path(base)).filter(isPartitionDir)
      .map(_.getPath.getName).sorted
    require(parts.nonEmpty, s"addColumn: no partition directories under $dir")
    val flags = forEachRewrite(parts) { pd =>
      val sub = s"$base/$pd"
      val existing = spark.read.parquet(sub)
      val missing = cols.filterNot { case (n, _) =>
        existing.columns.contains(n) }
      if (missing.nonEmpty) {
        val tmp = s"$base/$DirNext$pd"
        clusterForRewrite(
            missing.foldLeft(existing) { case (df, (n, e)) =>
              df.withColumn(n, expr(e)) },
            sortCols,
            targetFiles(dirDataBytes(Fs.path(sub)), targetFileBytes))
          .write.mode("overwrite").parquet(tmp)
        swapIn(tmp, sub, s"$base/$DirAside$pd")
        true
      } else false
    }
    parts.zip(flags).collect { case (pd, true) => pd }
  }

  /** Data files per partition directory — the compaction health metric.
    * Dot/underscore-prefixed entries are skipped, matching Spark's file
    * index (they are metadata or compaction scratch, never partitions).
    */
  def filesPerPartition(dir: String): Map[String, Int] =
    Fs.list(Fs.path(dir)).filter(isPartitionDir)
      .map(d => d.getPath.getName ->
        Fs.list(d.getPath).count(f =>
          f.getPath.getName.endsWith(".parquet") ||
            f.getPath.getName.endsWith(".orc")))
      .toMap
}
