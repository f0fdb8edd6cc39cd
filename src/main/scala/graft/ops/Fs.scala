package graft.ops

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Hadoop-FileSystem primitives for the storage-maintenance protocol —
  * the ONE place [[Layout]]/[[PointerStore]]/[[Rollup]]/[[Manifest]] touch
  * a filesystem.
  *
  * Why Hadoop `FileSystem` and not `java.nio.file`: a 100 TB store lives
  * on HDFS (or an object store), where `java.nio` paths do not exist at
  * all. Everything here goes through the scheme-resolved Hadoop
  * filesystem, so the same crash-safe protocol runs unchanged against
  * `file:` (CI / local), `hdfs:`, or any other registered scheme.
  *
  * ATOMICITY STANCE: store commits rename nothing into place. A store
  * write moves unreferenced files ([[moveFileUncommitted]], which may be
  * a copy+delete) and publishes them with one commit-file write whose
  * trailer makes a torn write detectable ([[PointerStore]]), so stores
  * need no rename atomicity and run on object stores too. The one
  * rename left is [[renameReplace]] for consumer checkpoints, and it
  * keeps the guard: `FileSystem.rename` is atomic on HDFS (a namenode
  * metadata op) and on POSIX local filesystems, but flat-namespace object
  * stores (s3/s3a/gs/oss/swift) emulate it as copy+delete, during which a
  * reader can observe both or neither copy. [[renameReplace]] therefore
  * REFUSES those schemes loudly. The escape hatch for buckets that front
  * an atomic metadata layer the scheme string can't reveal:
  * `graft.layout.allow.nonatomic.rename = true` in the Hadoop conf
  * (settable via `spark.hadoop.graft.layout.allow.nonatomic.rename`).
  *
  * Local paths resolve to the RAW local filesystem (no `.crc` checksum
  * sidecars, true POSIX rename).
  */
private[graft] object Fs {

  /** Schemes whose `rename` is a copy+delete emulation — the replace
    * rename's atomicity premise does not hold there (see scaladoc).
    * abfs/wasb on hierarchical-namespace accounts DO rename atomically
    * and are not listed.
    */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cos")

  private val AllowNonAtomicKey = "graft.layout.allow.nonatomic.rename"

  /** The active session's Hadoop conf (carries the user's `fs.*` and
    * credential settings) or a fresh default when no session is up —
    * several [[Layout]] entry points (checkpoint reads, batch-id probes)
    * are plain-JVM calls with no SparkSession in scope.
    */
  def conf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def path(s: String): Path = new Path(s)

  /** Resolve the filesystem owning `p`: raw local FS for scheme-less and
    * `file:` paths, the registry (HDFS, …) for everything else.
    */
  def fs(p: Path): FileSystem = {
    val c = conf()
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") FileSystem.getLocal(c).getRaw
    else FileSystem.get(p.toUri, c)
  }

  def exists(p: Path): Boolean = fs(p).exists(p)

  def isFile(p: Path): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isFile
  }

  def isDir(p: Path): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** Children of `dir`; empty for an absent path or a plain file (the
    * `Option(listFiles()).getOrElse(empty)` idiom of the nio era).
    */
  def list(dir: Path): Seq[FileStatus] = {
    val f = fs(dir)
    if (!f.exists(dir) || f.getFileStatus(dir).isFile) Seq.empty
    else f.listStatus(dir).toSeq
  }

  /** Fault-injection seam for the crash specs: called with the primitive's
    * name and path just before every call below changes the filesystem
    * (probes and no-op calls never reach it). A hook that throws stands in
    * for the process dying at that point. No-op outside the specs.
    */
  @volatile private[ops] var beforeMutation: (String, Path) => Unit =
    (_, _) => ()

  /** No-op when `p` already exists. */
  def mkdirs(p: Path): Unit = {
    val f = fs(p)
    if (!f.exists(p)) { beforeMutation("mkdirs", p); f.mkdirs(p) }
    ()
  }

  /** Recursive delete; true when something was deleted. Absent = no-op. */
  def deleteRecursively(p: Path): Boolean = {
    val f = fs(p)
    f.exists(p) && { beforeMutation("deleteRecursively", p); f.delete(p, true) }
  }

  /** Absent = no-op. */
  def deleteFile(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) { beforeMutation("deleteFile", p); f.delete(p, false) }
    ()
  }

  /** REPLACE_EXISTING rename for the small metadata files (consumer
    * checkpoints): delete-then-rename. The window between
    * the two is BENIGN by design everywhere this is used — a crash there
    * loses the previous checkpoint/progress file, whose absence reads as
    * "never committed" and only costs re-consumption / re-derivation
    * (at-least-once preserved), never corruption.
    */
  def renameReplace(src: Path, dst: Path): Unit = {
    beforeMutation("renameReplace", src)
    val f = fs(src)
    assertAtomicRename(f, src)
    if (f.exists(dst) && !f.delete(dst, false))
      throw new IOException(s"could not replace $dst")
    if (!f.rename(src, dst))
      throw new IOException(s"rename $src -> $dst failed")
  }

  private def assertAtomicRename(f: FileSystem, p: Path): Unit = {
    // f.getUri, not f.getScheme: RawLocalFileSystem never overrides the
    // latter and the base class throws UnsupportedOperationException
    val scheme = Option(p.toUri.getScheme).getOrElse(f.getUri.getScheme)
    if (NonAtomicRenameSchemes.contains(scheme) &&
        !f.getConf.getBoolean(AllowNonAtomicKey, false))
      throw new IllegalStateException(
        s"refusing rename-based maintenance on '$scheme://' — rename is " +
          "copy+delete there, so the atomic-replace premise fails. " +
          s" Set $AllowNonAtomicKey=true only if the bucket " +
          "fronts an atomic metadata layer (see Fs scaladoc).")
  }

  /** File move for data NOT YET REFERENCED by any commit pointer — the
    * [[Layout]] staging→store move. Unlike [[renameReplace]] this does NOT
    * assert rename atomicity, because the protocol doesn't need it here: a
    * torn or half-copied `dst` is an unreferenced orphan until a commit
    * file names it, invisible to every reader and reaped by
    * [[PointerStore.recover]]. The commit that publishes `dst`
    * happens only AFTER this call returns (write fully landed). Falls back
    * to stream-copy + delete where the FS rejects the rename (some object
    * stores reject cross-"directory" renames outright).
    */
  def moveFileUncommitted(src: Path, dst: Path): Unit = {
    beforeMutation("moveFileUncommitted", src)
    val f = fs(src)
    if (f.exists(dst))
      throw new IOException(s"move target $dst already exists")
    val parent = dst.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    val renamed = try f.rename(src, dst) catch { case _: IOException => false }
    if (!renamed) {
      val in = f.open(src)
      val out = f.create(dst, false)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
      f.delete(src, false)
      ()
    }
  }

  def readUTF8(p: Path): String = {
    val f = fs(p)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  def writeUTF8(p: Path, s: String): Unit =
    writeBytes(p, s.getBytes("UTF-8"))

  def writeBytes(p: Path, bytes: Array[Byte]): Unit = {
    beforeMutation("writeBytes", p)
    val f = fs(p)
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  def readBytes(p: Path): Array[Byte] = {
    val f = fs(p)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Atomic(-enough) replace-write: land in a dot-prefixed `.name.tmp`
    * sibling, then [[renameReplace]] into place — a crash mid-write
    * leaves the previous file intact; a crash mid-replace loses it
    * (benign, see [[renameReplace]]). A target that is ALREADY
    * dot-prefixed keeps its own dot rather than gaining a second one.
    */
  def tmpFor(p: Path): Path = {
    val dot = if (p.getName.startsWith(".")) "" else "."
    new Path(p.getParent, s"$dot${p.getName}.tmp")
  }

  def writeUTF8Atomic(p: Path, s: String): Unit = {
    val tmp = tmpFor(p)
    writeUTF8(tmp, s)
    renameReplace(tmp, p)
  }
}
