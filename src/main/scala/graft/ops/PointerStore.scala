package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE commit log of a partitioned store — every [[Layout]] write
  * publishes through it, and every reader resolves it.
  *
  * The set of LIVE data files is named by a versioned pointer file, the
  * way published log-structured table formats do it (Delta Lake's
  * `_delta_log` JSON actions — Armbrust et al., VLDB 2020; Iceberg's
  * metadata-pointer snapshots). Every mutation is (1) write NEW immutable
  * data files nobody references yet, then (2) publish them by writing ONE
  * small commit file `_commits/v<n>.commit` that lists the whole live set.
  * Readers resolve the highest COMPLETE commit and read exactly the files
  * it names ([[Layout.read]]).
  *
  * Correctness needs NO rename atomicity anywhere, so the same protocol
  * runs on HDFS, POSIX and flat-namespace object stores alike:
  *  - data files are immutable and unreferenced until a commit names them;
  *    a crash mid-write/mid-move leaves an invisible orphan ([[recover]]
  *    reaps it);
  *  - the commit file itself carries a completeness trailer (`#end <n>`);
  *    a torn commit write is detectable and IGNORED — readers serve the
  *    previous version, [[recover]] deletes the fragment. A new-version
  *    commit file either validates or it doesn't exist yet, which is the
  *    same either-or a single-object PUT gives on S3;
  *  - the old files stay on disk until a later commit retires them, so a
  *    reader that resolved the old version keeps reading it.
  *
  * A directory with no complete commit is a plain parquet directory
  * (written by another tool, or never written): its data files read as
  * its live set. Before the first file of a write moves in, [[claim]]
  * publishes those files as commit v0 (none, for a new store), so a
  * crash anywhere in a store's first write leaves readers on its
  * pre-state: before v0 completes they still read the plain directory,
  * after it they read v0, never the half-moved files.
  *
  * Single-writer protocol, like the rest of the maintenance family (the
  * reference engine is single-process: its connection.py:17 holds one
  * sqlite3 connection); concurrent READERS are always safe.
  *
  * Scale (the 100 TB question): a commit is one small-file write regardless
  * of data size. The pointer lists one line (~50-100 bytes) per live file:
  * a 100 TB store at the 1 GB file sizing [[Layout.compactPartitions]]
  * targets is ~100k lines / a few MB — a metadata read, not a data read.
  * Growth beyond that is what log CHECKPOINTING exists for in the published
  * formats; this layer keeps the log trivially small instead by writing
  * the full live set each commit and retiring old versions in
  * [[retire]].
  */
object PointerStore {

  private val Header = "#graft-pointer v1"

  private def base(dir: String): String = dir.stripSuffix("/")

  private def commitsDir(dir: String): Path =
    Fs.path(s"${base(dir)}/_commits")

  private def commitPath(dir: String, v: Long): Path =
    new Path(commitsDir(dir), f"v$v%08d.commit")

  private val CommitName = "v(\\d{8})\\.commit".r

  /** All commit versions present (valid or torn), ascending. */
  private def commitVersions(dir: String): Seq[Long] =
    Fs.list(commitsDir(dir)).flatMap { st =>
      st.getPath.getName match {
        case CommitName(n) => Some(n.toLong)
        case _ => None
      }
    }.sorted

  /** Parse one commit file; None when absent or TORN (bad header, missing
    * or count-mismatched trailer — the crash-mid-commit signature).
    */
  private def parseCommit(dir: String, v: Long): Option[Seq[String]] = {
    val p = commitPath(dir, v)
    if (!Fs.isFile(p)) return None
    val lines = Fs.readUTF8(p).linesIterator.toVector
    if (lines.isEmpty || lines.head != Header) return None
    val files = lines.drop(1).dropRight(1)
    if (lines.last != s"#end ${files.size}") return None
    Some(files)
  }

  /** Highest COMPLETE commit: (version, live relative paths). Torn
    * fragments of a crashed later commit are skipped, which IS the
    * crash recovery for readers — no repair step needed before reading.
    */
  def currentCommit(dir: String): Option[(Long, Seq[String])] =
    commitVersions(dir).sorted(Ordering[Long].reverse)
      .iterator.flatMap(v => parseCommit(dir, v).map(v -> _))
      .nextOption()

  def currentVersion(dir: String): Option[Long] = currentCommit(dir).map(_._1)

  /** The store's version and its live data files, store-relative
    * (partition dirs included). A directory with no complete commit
    * serves its data files as version 0: no file moves in before a
    * commit exists ([[claim]]), so those are all pre-state files.
    */
  private[ops] def snapshot(dir: String): (Long, Seq[String]) =
    currentCommit(dir).getOrElse((0L, dataFiles(dir)))

  /** Live data files, store-relative (see [[snapshot]]). */
  def liveFiles(dir: String): Seq[String] = snapshot(dir)._2

  /** Publish `files` as version `v` — the ONE publish step. A direct
    * create-and-write (no rename): the trailer makes a torn write
    * self-invalidating, so this is safe on every scheme. Refuses to
    * overwrite a complete version (single-writer violation = loud stop,
    * not silent last-wins).
    */
  private[ops] def writeCommit(dir: String, v: Long, files: Seq[String]): Unit = {
    val p = commitPath(dir, v)
    if (Fs.exists(p)) {
      // a COMPLETE v here means two writers raced — loud stop. A TORN v is
      // our own crashed previous attempt (readers never resolved it); the
      // retry may overwrite it, or the next commit at this version would
      // deadlock behind a fragment forever.
      if (parseCommit(dir, v).isDefined)
        throw new IllegalStateException(
          s"commit v$v already exists under $dir — concurrent writer?")
      Fs.deleteFile(p)
    }
    Fs.mkdirs(commitsDir(dir))
    Fs.writeUTF8(p,
      (Header +: files.sorted :+ s"#end ${files.size}").mkString("\n"))
  }

  /** Called before the first file of an uncommitted write moves in: a
    * directory with no complete commit publishes its data files as v0
    * (the adoption of a plain directory; an empty v0 for a new store).
    * Per-directory rewrites stage concurrently, so the check and the
    * write are one step.
    */
  private[ops] def claim(dir: String): Unit = synchronized {
    if (currentCommit(dir).isEmpty) writeCommit(dir, 0L, dataFiles(dir))
  }

  /** Walk the store's DATA files (relative paths), skipping `_commits`,
    * `_stage_*`, dotfiles — the same hidden-entry rule Spark's file index
    * applies.
    */
  private[ops] def dataFiles(dir: String): Seq[String] = {
    def walk(p: Path, prefix: String): Seq[String] =
      Fs.list(p).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (st.isFile) {
          if (n.endsWith(".parquet")) Seq(s"$prefix$n") else Seq.empty
        } else walk(st.getPath, s"$prefix$n/")
      }
    walk(Fs.path(base(dir)), "")
  }

  /** Read exactly `files` (store-relative) — partition columns recovered
    * from the directory names via basePath.
    */
  private[ops] def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    val b = base(dir)
    spark.read.option("basePath", b).parquet(files.map(f => s"$b/$f"): _*)
  }

  /** TIME TRAVEL: the read path pinned to an explicit committed version —
    * what the retention window of [[vacuumOrphans]] exists to serve.
    * Because data files are immutable and every commit lists its full
    * live set, reading "as of v" is just resolving v's pointer; no
    * snapshot copy, no log replay. Throws on a version that is absent,
    * torn, or already retired past the vacuum window.
    */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    readFiles(spark, dir, parseCommit(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"no complete commit v$v under $dir/_commits — retired by vacuum, " +
          "torn, or never written")))

  /** Delete store-relative data files (and the checksum sidecar a Spark
    * local write leaves next to each), then every directory they leave
    * empty, deepest first — only directories that lost a file are listed.
    */
  private[ops] def deleteData(dir: String, files: Seq[String]): Unit = {
    val b = base(dir)
    files.foreach { f =>
      val p = Fs.path(s"$b/$f")
      Fs.deleteFile(p)
      Fs.deleteFile(new Path(p.getParent, s".${p.getName}.crc"))
    }
    val parents = files.flatMap { f =>
      val ds = f.split('/').init
      ds.indices.map(i => ds.take(i + 1).mkString("/"))
    }.distinct.sortBy(d => -d.count(_ == '/'))
    parents.foreach { d =>
      val p = Fs.path(s"$b/$d")
      // "empty" = no visible entries; leftover dot-sidecars go with it
      if (Fs.list(p).forall(_.getPath.getName.startsWith(".")))
        Fs.deleteRecursively(p)
    }
  }

  /** Delete the `_stage_*` dirs at the store's root (one listing). */
  private def dropStages(dir: String): Unit =
    Fs.list(Fs.path(base(dir))).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("_stage_"))
        Fs.deleteRecursively(st.getPath)
    }

  /** Retire what left the window once version `cur` is published: commit
    * files below the last `keepCommits` versions, then the data files
    * only they name and the directories those leave empty, then the
    * `_stage_*` leftovers of crashed writes. A grace window of VERSIONS,
    * not wall time: a reader pinned to version `cur - keepCommits + 1` or
    * newer still sees every file it resolved. Reads the commit log instead
    * of walking the store, so a write's metadata cost follows what it
    * changed, not the store's size; files a crashed write moved in but
    * never committed are not in the log — [[recover]] and
    * [[vacuumOrphans]] walk the store for those. Every [[Layout]] write
    * ends with `keepCommits = 2`. Returns the deleted data files.
    */
  private[ops] def retire(dir: String, cur: Long, keepCommits: Int): Seq[String] = {
    val keepFrom = cur - (keepCommits - 1)
    // the empty v0 a new store's claim wrote names nothing a reader could
    // pin: it retires with the first commit instead of taking a slot
    val (old, kept) = commitVersions(dir).filter(_ <= cur).partition(v =>
      v < keepFrom || (v == 0L && v < cur && parseCommit(dir, v).exists(_.isEmpty)))
    val named = kept.flatMap(v => parseCommit(dir, v).getOrElse(Seq.empty)).toSet
    val gone = old.flatMap(v => parseCommit(dir, v).getOrElse(Seq.empty))
      .distinct.filterNot(named)
    // commit files first: no commit may name a deleted file
    old.foreach(v => Fs.deleteFile(commitPath(dir, v)))
    deleteData(dir, gone)
    dropStages(dir)
    gone.sorted
  }

  /** Delete every data file no present commit names, every `_stage_*`
    * dir and every directory left with no visible entry — the full walk
    * of the store. Returns the deleted data files.
    */
  private def sweep(dir: String): Seq[String] = {
    val named = commitVersions(dir)
      .flatMap(v => parseCommit(dir, v).getOrElse(Seq.empty)).toSet
    val orphans = dataFiles(dir).filterNot(named)
    deleteData(dir, orphans)
    dropStages(dir)
    def prune(p: Path): Unit = Fs.list(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && !n.startsWith("_") && !n.startsWith(".")) {
        prune(st.getPath)
        if (Fs.list(st.getPath).forall(_.getPath.getName.startsWith(".")))
          Fs.deleteRecursively(st.getPath)
      }
    }
    prune(Fs.path(base(dir)))
    orphans.sorted
  }

  /** Retire versions older than the last `keepCommits` ([[retire]]) and
    * everything else no kept commit names ([[sweep]]): the explicit,
    * whole-store form of the cleanup every write runs on its own changes.
    * Returns the deleted data files' relative paths.
    */
  def vacuumOrphans(dir: String, keepCommits: Int = 2): Seq[String] = {
    require(keepCommits >= 1, "keepCommits must be >= 1")
    val (cur, _) = currentCommit(dir).getOrElse(
      throw new IllegalStateException(s"$dir is not a pointer store"))
    (retire(dir, cur, keepCommits) ++ sweep(dir)).sorted
  }

  /** THE crash recovery of the partitioned-store family: delete stage
    * leftovers, TORN commit fragments, data files a crashed write moved
    * in but never committed, and the `.*.tmp` leftovers of
    * consumer-checkpoint writes ([[Fs.tmpFor]]'s naming rule). Never
    * required for correctness (readers skip torn commits and orphans are
    * invisible) — this reclaims the space. Keeps every complete commit;
    * on a healthy store it only probes.
    */
  def recover(dir: String): Unit = {
    Fs.list(Fs.path(s"${base(dir)}/_graft_checkpoints")).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(".") && n.endsWith(".tmp"))
        Fs.deleteFile(st.getPath)
    }
    commitVersions(dir)
      .filter(v => parseCommit(dir, v).isEmpty)
      .foreach(v => Fs.deleteFile(commitPath(dir, v)))
    // a directory with no complete commit is plain: all its files are live
    if (currentCommit(dir).isDefined) sweep(dir)
    else dropStages(dir)
  }
}
