package graft.sources.sqlitev2

import java.util.{Map => JMap}

import scala.jdk.OptionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-sqlite`: the pure-JVM SQLite b-tree reader
  * ([[graft.sources.SqliteFile]], ref `connection.py:77-78` — opening a
  * binary `.db` is a first-class reference entry point) surfaced as a
  * DataSourceV2 table:
  *
  * {{{
  * spark.read.format("graft-sqlite")
  *   .option("table", "forests").load("data/forestation.db")
  * }}}
  *
  * It is the one way graft reads a SQLite file: [[graft.api.Database.open]]
  * builds every `.db` table from it. The decode runs EXECUTOR-side inside the
  * scan task, streaming pages through the b-tree walker one row at a
  * time — driver memory is O(1) for any file size, so there is no size
  * guard. Column pruning drops unused fields before the Catalyst
  * conversion (the page decode itself is whole-record by format: SQLite
  * serializes each record as one varint-headed blob).
  *
  * What it deliberately does NOT do: multi-task parallelism. A SQLite
  * file is one page chain behind one file handle; the scan is a single
  * InputPartition by design (same class of source as a gzip stream).
  * At 100 TB scale the play is to write each table once to parquet
  * (`db("t").toDf.write.parquet(...)`) and let every later query scan
  * that in parallel.
  */
class SqliteDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-sqlite"

  private def required(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(throw new IllegalArgumentException(
      s"graft-sqlite: option '$key' is required" +
        (if (key == "table") " — which table of the database to read" else "")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.sources.SqliteFile.tableSchema(
      required(options, "path"), required(options, "table"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    def prop(key: String): Option[String] = properties.entrySet().stream()
      .filter(_.getKey.equalsIgnoreCase(key))
      .map[String](_.getValue).findFirst().toScala
    new SqliteTable(
      prop("path").getOrElse(throw new IllegalArgumentException(
        "graft-sqlite: .load(path) is required")),
      prop("table").getOrElse(throw new IllegalArgumentException(
        "graft-sqlite: option 'table' is required")),
      schema)
  }
}

class SqliteTable(path: String, table: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-sqlite $path#$table"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SqliteScanBuilder(path, table, schema)
}

class SqliteScanBuilder(path: String, table: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve FILE field order: the reader projects by source index
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new SqliteScan(path, table, full, required)
}

class SqliteScan(path: String, table: String, full: StructType,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-sqlite $path#$table (${required.fieldNames.mkString(", ")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SqlitePartition(path, table,
      required.fieldNames.map(full.fieldIndex)))
  override def createReaderFactory(): PartitionReaderFactory =
    SqliteReaderFactory(required)
}

case class SqlitePartition(path: String, table: String,
    colIdx: Array[Int]) extends InputPartition

case class SqliteReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SqliteRowReader(p.asInstanceOf[SqlitePartition], required)
}

/** Streams the table's b-tree leaves through the shared page decoder,
  * projecting each decoded record to the pruned column set and handing
  * Catalyst one InternalRow at a time.
  */
class SqliteRowReader(p: SqlitePartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val (_, rows, closer) =
    graft.sources.SqliteFile.streamTable(p.path, p.table)
  private val convert =
    CatalystTypeConverters.createToCatalystConverter(required)
  private val idx: Array[Int] = p.colIdx // hoisted out of the per-row loop
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      val r = rows.next()
      val projected = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) { projected(i) = r.get(idx(i)); i += 1 }
      current = convert(org.apache.spark.sql.Row.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(projected)))
        .asInstanceOf[InternalRow]
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = closer()
}
