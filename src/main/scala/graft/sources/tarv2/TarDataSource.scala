package graft.sources.tarv2

import java.util.{Map => JMap}

import scala.jdk.OptionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tar

/** WebDataset tar shards as a first-class DataSourceV2 table:
  * `spark.read.format("graft-tar").load(dir)` and
  * `df.write.format("graft-tar").mode("overwrite").save(dir)` — graft's
  * one tar reader and writer, over the USTAR header codec in
  * [[graft.sources.Tar]].
  *
  * What the connector integration buys at 100 TB:
  *
  *  - **Shard pruning**: filters on `shard_file` (=, IN, prefix, suffix)
  *    are pushed into planning, so excluded shard FILES are never opened —
  *    the tar analogue of partition pruning. One input partition per
  *    surviving shard.
  *  - **Column pruning**: a query that doesn't project `payload` (e.g. a
  *    manifest scan over name/size) SKIPS every payload's bytes with
  *    `InputStream.skip` — headers only, no per-entry allocation. Pruning
  *    reaches the scan, visible as ReadSchema in `.explain("formatted")`.
  *  - **Entry-name filters**: =, prefix, suffix, IN on `name` are applied
  *    per header BEFORE the payload read, so a probe for one sample in a
  *    1 GB shard streams headers and skips every other payload.
  *  - **Statistics**: `estimateStatistics` reports the summed byte size of
  *    the surviving shards, so Catalyst can broadcast a small tar join
  *    side instead of shuffling it.
  *
  * Pushed filters are reported via `pushedFilters` (visible in explain as
  * PushedFilters) but ALSO returned as post-scan residuals, so Spark
  * re-evaluates them — pruning here is a performance contract, never the
  * correctness boundary. Tar has no index, so a shard is always ONE
  * sequential read (exactly the access pattern trainers built the format
  * for); parallelism comes from the shard count, which is why writers
  * size shards to ~1 GB.
  *
  * Registered as `graft-tar` via DataSourceRegister
  * (META-INF/services); schema is fixed:
  * (shard_file string, name string, size long, payload binary).
  */
class TarDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-tar"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TarTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // names+types must match the fixed schema; nullability is ignored so
    // computed write inputs (nullable by construction) resolve by name
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        TarTable.Schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft-tar has a fixed schema ${TarTable.Schema.simpleString}; " +
        s"user-supplied schema ${schema.simpleString} is not supported")
    val path = properties.entrySet().stream()
      .filter(e => e.getKey.equalsIgnoreCase("path"))
      .map[String](_.getValue).findFirst().toScala
    new TarTable(path.getOrElse(
      throw new IllegalArgumentException("graft-tar: .load(path) is required")))
  }
}

object TarTable {
  // all-nullable so write inputs (whose computed columns are nullable by
  // construction) pass by-name output resolution; the reader never emits
  // nulls (except a pruned payload, which is simply absent) and the
  // writer REJECTS null shard/name/payload at runtime
  val Schema: StructType = StructType(Seq(
    StructField("shard_file", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("size", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true)))

  /** Conservative entry predicate from the pushable filter subset: true
    * unless the filter DEFINITELY excludes the value. Used both for
    * driver-side shard pruning and per-entry name screening.
    */
  private[tarv2] def accepts(filters: Seq[Filter], attr: String, v: String): Boolean =
    filters.forall {
      case EqualTo(a, value) if a == attr => value == v
      case In(a, values) if a == attr => values.contains(v)
      case StringStartsWith(a, p) if a == attr => v.startsWith(p)
      case StringEndsWith(a, s) if a == attr => v.endsWith(s)
      case IsNotNull(a) if a == attr => true // columns are never null
      case _ => true
    }

  private[tarv2] def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, v: String) => (a == "shard_file" || a == "name") && v != null
    case In(a, vs) => (a == "shard_file" || a == "name") &&
      vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => a == "shard_file" || a == "name"
    case StringEndsWith(a, _) => a == "shard_file" || a == "name"
    case IsNotNull(a) => a == "shard_file" || a == "name"
    case _ => false
  }
}

class TarTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-tar:$path"
  override def schema(): StructType = TarTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TarScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TarWriteBuilder(path)
}

class TarScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = TarTable.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the fixed field order; Spark may request columns in any order
    // and expects rows in the order IT named, so project by its schema
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TarTable.pushable)
    filters // everything re-evaluated post-scan: pruning is perf, not truth
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new TarScan(path, required, pushed.toSeq)
}

case class TarInputPartition(file: String, shardFile: String) extends InputPartition

class TarScan(path: String, required: StructType, pushed: Seq[Filter])
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // dynamic "partition" pruning, tar-style: when this scan joins a small
  // dimension on shard_file, Spark evaluates the build side first and
  // hands the observed key set here as an In filter — whole shard FILES
  // are then never opened. Pruning is conservative (accepts() keeps a
  // file unless a filter definitely excludes it) and the join itself
  // still applies, so a missed prune costs time, never rows.
  private var runtime: Seq[Filter] = Nil
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("shard_file"))
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(TarTable.pushable).toSeq

  private def survivingFiles(): Seq[java.io.File] = {
    // a marker here means a writer died mid-commit with every staged
    // byte durable — finish its renames so we list the COMPLETE new
    // export, never a partial shard set
    TarCommitProtocol.rollForward(path)
    val all = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".tar"))
    require(all.nonEmpty, s"graft-tar: no .tar shards under '$path'")
    all.filter(f => TarTable.accepts(pushed ++ runtime, "shard_file", f.getName))
      .sortBy(_.getName).toSeq
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tar $path, PushedFilters: [${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    survivingFiles()
      .map(f => TarInputPartition(f.getAbsolutePath, f.getName): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    TarReaderFactory(required.fieldNames.toSeq,
      pushed.filter {
        case EqualTo(a, _) => a == "name"
        case In(a, _) => a == "name"
        case StringStartsWith(a, _) => a == "name"
        case StringEndsWith(a, _) => a == "name"
        case _ => false
      })

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = survivingFiles().map(_.length()).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

case class TarReaderFactory(columns: Seq[String], nameFilters: Seq[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TarPartitionReader(partition.asInstanceOf[TarInputPartition], columns, nameFilters)
}

/** Shard-open counter: local-mode observability for specs asserting that
  * static and RUNTIME pruning really kept files shut (executor-side state,
  * meaningful in the single-JVM test/local deployments only).
  */
object TarMetrics {
  val openedShards = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Streams one shard: header → (name screen) → payload read OR skip.
  * Memory is one entry's payload at most — and zero when `payload` is
  * pruned or the name screen rejects the entry.
  */
class TarPartitionReader(p: TarInputPartition, columns: Seq[String],
    nameFilters: Seq[Filter]) extends PartitionReader[InternalRow] {

  TarMetrics.openedShards.incrementAndGet()
  private val in = new java.io.BufferedInputStream(
    new java.io.FileInputStream(p.file), 1 << 16)
  private val wantPayload = columns.contains("payload")
  private val shardUtf8 = UTF8String.fromString(p.shardFile)
  private var row: InternalRow = _
  private var done = false
  // the `path` of a PAX 'x' header, which names the entry after it
  private var paxName: Option[String] = None

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new java.io.IOException(
        s"truncated tar in ${p.file}: wanted $n bytes, got $off")
      off += r
    }
    b
  }

  private def skipFully(n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0) throw new java.io.IOException(
        s"truncated tar in ${p.file}: $left bytes short while skipping")
      else left -= 1
    }
  }

  override def next(): Boolean = {
    row = null
    while (row == null && !done) {
      val h = readFully(512)
      Tar.parseHeader(h, p.file) match {
        case None => done = true
        case Some((_, size, 'x')) =>
          require(size <= Int.MaxValue, s"oversized tar entry in ${p.file}")
          paxName = Tar.paxPath(readFully(size.toInt), p.file)
          skipFully((512 - size % 512) % 512)
        case Some((ustarName, size, typeflag)) =>
          require(size <= Int.MaxValue, s"oversized tar entry in ${p.file}")
          val name = paxName.getOrElse(ustarName)
          paxName = None
          val padded = size + ((512 - size % 512) % 512)
          val want = (typeflag == '0' || typeflag == 0) &&
            TarTable.accepts(nameFilters, "name", name)
          if (!want) skipFully(padded)
          else {
            val payload = if (wantPayload) {
              val b = readFully(size.toInt); skipFully(padded - size); b
            } else { skipFully(padded); null }
            val values: Array[Any] = columns.map {
              case "shard_file" => shardUtf8
              case "name" => UTF8String.fromString(name)
              case "size" => size
              case "payload" => payload
              case other => throw new IllegalStateException(
                s"graft-tar: unknown projected column '$other'")
            }.toArray
            row = new GenericInternalRow(values)
          }
      }
    }
    row != null
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Batch write: `df.write.format("graft-tar").mode(...).save(dir)` with
  * columns (shard_file, name, size, payload). The connector DECLARES its
  * layout needs through [[RequiresDistributionAndOrdering]] — clustered
  * by shard_file, sorted by (shard_file, name) — so Catalyst inserts the
  * exchange+sort; each task then streams whole shards sequentially with
  * no writer-side buffering, and no two tasks ever own the same shard
  * file. Each task ATTEMPT stages under its own
  * `.__v2staging__/task-<partition>-<taskId>/` dir, so retries and
  * speculative attempts never truncate each other's files and a losing
  * attempt's abort removes exactly its own bytes. The job COMMIT writes
  * a `.__commit__` marker (atomic rename) listing every deletion and
  * staged move, then rolls it FORWARD; the marker only exists once all
  * staged bytes are durable, so a crash at ANY later point is finished
  * — not undone — by [[TarCommitProtocol.rollForward]], which both the
  * reader and the next writer invoke first. A reader therefore sees
  * either the old export, or (after recovery) the complete new one —
  * never a partial shard set.
  */
class TarWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new TarWrite(path, doTruncate)
}

class TarWrite(path: String, truncate: Boolean)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("shard_file")))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.identity("shard_file"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.identity("name"), SortDirection.ASCENDING))
  override def toBatch: BatchWrite = new TarBatchWrite(path, truncate)
  override def description(): String =
    s"graft-tar write $path (truncate=$truncate)"
}

case class TarWriteCommit(taskDir: String, files: Seq[String])
    extends WriterCommitMessage

/** The crash-recovery half of the export commit: a marker-committed
  * roll-forward (the marker plays the part a `graft.ops.PointerStore`
  * commit file plays for a store, but installs by rename). The
  * `.__commit__` marker is written by atomic rename only after every
  * staged shard is fully on disk, and lists the complete commit as
  * `del <name>` / `new <taskDir> <name>` (tab-separated; shard names are
  * validated control-char-free). Replay is idempotent: deletions are
  * plain deletes, installs are POSIX renames (which atomically replace
  * any old shard of the same name), and an entry whose staged source is
  * already gone was moved before the crash.
  */
object TarCommitProtocol {
  private[tarv2] val MarkerName = ".__commit__"
  private[tarv2] val StagingName = ".__v2staging__"

  // one monitor per canonical path: a reader planning a scan and a writer
  // finishing its commit (or two readers recovering a crashed one) must
  // not interleave their check-then-act file ops. In-JVM only — which is
  // exactly where Spark's planner and committer race on local[*]; across
  // processes the single-writer contract plus the idempotent, missing-
  // file-tolerant replay below keeps concurrent recovery safe.
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    locks.computeIfAbsent(
      new java.io.File(dir).getCanonicalPath, _ => new Object)

  /** Fsync a directory's entries (Linux: open the dir and force). */
  private[tarv2] def fsyncDir(dir: java.io.File): Unit = {
    val ch = java.nio.channels.FileChannel.open(dir.toPath,
      java.nio.file.StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  def rollForward(dir: String): Unit = lockFor(dir).synchronized {
    val dirF = new java.io.File(dir)
    val marker = new java.io.File(dirF, MarkerName)
    if (!marker.exists()) return
    val staging = new java.io.File(dirF, StagingName)
    val lines = try {
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    } catch {
      // a concurrent (cross-process) recovery finished and deleted the
      // marker between exists() and the read — nothing left to do
      case _: java.nio.file.NoSuchFileException => return
    }
    lines.foreach { l =>
      l.split("\t", -1) match {
        case Array("del", n) => new java.io.File(dirF, n).delete(); ()
        case Array("new", sub, n) =>
          val src = new java.io.File(new java.io.File(staging, sub), n)
          if (src.isFile)
            try java.nio.file.Files.move(src.toPath,
              new java.io.File(dirF, n).toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { // moved by a concurrent recovery after our isFile check
              case _: java.nio.file.NoSuchFileException => ()
            }
        case _ => throw new IllegalStateException(
          s"graft-tar: corrupt commit marker line '$l' in $marker")
      }
    }
    TarBatchWrite.deleteRec(staging)
    marker.delete()
    fsyncDir(dirF)
  }

  /** Write + fsync + atomically install the commit marker. Runs under the
    * same per-path lock as [[rollForward]] so a planning reader never
    * observes the marker mid-install.
    */
  private[tarv2] def installMarker(dir: java.io.File, body: String): Unit =
    lockFor(dir.getPath).synchronized {
      val tmp = new java.io.File(dir, MarkerName + ".tmp")
      val fos = new java.io.FileOutputStream(tmp)
      try {
        fos.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        fos.getFD.sync() // marker bytes durable BEFORE the rename
      } finally fos.close()
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(dir, MarkerName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      fsyncDir(dir) // the rename itself durable before replay deletes
    }
}

class TarBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  private val staging = new java.io.File(path, TarCommitProtocol.StagingName)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    TarCommitProtocol.rollForward(path) // finish a crashed commit first
    TarBatchWrite.deleteRec(staging) // stale crashed (pre-commit) write
    new java.io.File(path).mkdirs()
    require(staging.mkdirs() || staging.isDirectory,
      s"graft-tar: cannot create staging dir $staging")
    TarWriterFactory(staging.getAbsolutePath)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq
      .flatMap { case TarWriteCommit(sub, fs) => fs.map(sub -> _) }
    val dups = staged.groupBy(_._2).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, // one committed attempt per partition, shards
      // clustered — two messages carrying one shard means a layout bug
      s"graft-tar: shard(s) ${dups.mkString(", ")} written by multiple tasks")
    val dirF = new java.io.File(path)
    val existing = Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".tar")).map(_.getName).toSet
    // deletion names go into the tab/line-framed marker too: an
    // externally-created '*.tar' with a control char in its name would
    // corrupt the marker AFTER it became durable (wedging every later
    // read/write at replay) — refuse now, while the store is untouched
    val foreign = existing.filter(_.exists(_ < ' ')).toSeq.sorted
    require(foreign.isEmpty,
      s"graft-tar: existing shard name(s) with control characters " +
        s"${foreign.map(n => s"'${n.flatMap(c => if (c < ' ') f"\\x$c%02x" else c.toString)}'").mkString(", ")} " +
        "in the export dir — remove the foreign files before writing")
    val newNames = staged.map(_._2).toSet
    if (!truncate) {
      val clash = staged.map(_._2).filter(existing).sorted
      require(clash.isEmpty,
        s"graft-tar: append would overwrite existing shard(s) " +
          s"${clash.mkString(", ")} — use mode(\"overwrite\") to replace the export")
    }
    // replaced-by-rename shards need no del entry: the install rename
    // atomically swaps them; only truncate-mode leftovers are deleted
    val dels = if (truncate) (existing -- newNames).toSeq.sorted else Nil
    val body = (dels.map(n => s"del\t$n") ++
      staged.sortBy(_._2).map { case (sub, n) => s"new\t$sub\t$n" })
      .mkString("\n")
    // staged shard BYTES were fsynced by each task's commit (and the
    // staging dir entries here): the marker's durability contract — "it
    // exists only once all staged bytes are durable" — holds under power
    // loss, not just process crash
    TarCommitProtocol.fsyncDir(staging)
    TarCommitProtocol.installMarker(dirF, body)
    TarCommitProtocol.rollForward(path)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // once the marker exists the job is past the point of no return —
    // finish it; before that, discard the staging dir wholesale
    if (new java.io.File(path, TarCommitProtocol.MarkerName).exists())
      TarCommitProtocol.rollForward(path)
    else TarBatchWrite.deleteRec(staging)
  }
}

object TarBatchWrite {
  private[tarv2] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }
}

case class TarWriterFactory(stagingPath: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TarDataWriter(stagingPath, partitionId, taskId)
}

/** Streams one partition's rows — whole shards, pre-sorted by the
  * declared ordering — into staged tar files, one entry in memory at a
  * time. Defensive checks (sortedness, duplicate names, size==payload
  * length, shard name shape) fail LOUD: each is guaranteed upstream, and
  * a silent violation would corrupt an archive.
  */
class TarDataWriter(stagingPath: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  // per-ATTEMPT dir (taskId is unique per attempt): a retry or
  // speculative twin of this partition stages beside us, never into the
  // same files, and abort() removes exactly this attempt's bytes
  private val sub = s"task-$partitionId-$taskId"
  private val taskDir = new java.io.File(stagingPath, sub)
  private var out: java.io.OutputStream = _
  private var fos: java.io.FileOutputStream = _
  private var curFile: java.io.File = _
  // compared as UTF8String, the UTF-8 byte order the declared ordering
  // sorts by (String's UTF-16 order differs once a name leaves the BMP)
  private var cur: UTF8String = null
  private var lastName: UTF8String = null
  private var files = List.empty[String]

  private def closeShard(): Unit = if (out != null) {
    out.write(new Array[Byte](1024)) // end-of-archive blocks
    out.flush()
    fos.getFD.sync() // shard bytes durable before the commit marker can be
    out.close(); out = null; fos = null
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(3),
      "graft-tar: shard_file, name and payload must be non-null")
    val shardU = row.getUTF8String(0)
    val nameU = row.getUTF8String(1)
    val payload = row.getBinary(3)
    if (!row.isNullAt(2)) require(row.getLong(2) == payload.length.toLong,
      s"graft-tar: size ${row.getLong(2)} != payload length ${payload.length} " +
        s"for entry '$nameU' — size must be octet_length(payload) or null")
    if (shardU != cur) {
      val shard = shardU.toString
      require(cur == null || shardU.compareTo(cur) > 0,
        s"graft-tar: rows not clustered+sorted by shard_file ('$shard' after '$cur')")
      require(shard.endsWith(".tar") && !shard.contains("/") &&
        !shard.exists(_ < ' '), // no control chars (NUL, tab, newline) —
        // also keeps the commit-marker's tab/line framing unambiguous
        s"graft-tar: shard_file must be a bare *.tar file name, got '$shard'")
      closeShard()
      cur = shardU.clone(); lastName = null
      taskDir.mkdirs()
      curFile = new java.io.File(taskDir, shard)
      files ::= shard
      fos = new java.io.FileOutputStream(curFile)
      out = new java.io.BufferedOutputStream(fos, 1 << 16)
    }
    require(lastName == null || nameU.compareTo(lastName) > 0,
      s"graft-tar: entry names must be strictly increasing per shard " +
        s"('$nameU' after '$lastName' in $cur)")
    lastName = nameU.clone()
    out.write(Tar.entryBytes(nameU.toString, payload))
  }

  override def commit(): WriterCommitMessage = {
    closeShard()
    if (taskDir.isDirectory) TarCommitProtocol.fsyncDir(taskDir)
    TarWriteCommit(sub, files.reverse)
  }

  override def abort(): Unit = {
    if (out != null) {
      try out.close() catch { case _: Exception => () }
      out = null; fos = null
    }
    TarBatchWrite.deleteRec(taskDir)
  }

  override def close(): Unit = closeShard()
}
