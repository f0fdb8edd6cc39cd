package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** The `graft-sqlite` DSv2 connector: executor-side streaming decode of
  * one table, equal row-for-row to the `.sql` dump twin read by the
  * independent SqlDump parser, column pruning visible in the scan,
  * fail-loud option/table errors.
  */
class SqliteV2Spec extends SparkSuite {

  private def res(name: String): String = {
    val r = getClass.getResource("/" + name)
    assume(r != null, s"fixture $name missing")
    r.getPath
  }

  private def v2(table: String) = spark.read.format("graft-sqlite")
    .option("table", table).load(res("forestation_subset.db"))

  // forestation_subset.db's `.sql` dump twin, parsed by SqlDump
  private def twin = SqlDump.open(spark, res("forestation_subset.sql"))

  test("every table reads through the connector identically to its .dump twin") {
    val dump = twin
    assert(SqliteFile.tableNames(res("forestation_subset.db")).sorted ===
      dump.keys.toSeq.sorted)
    for ((name, df) <- dump) {
      val c = v2(name)
      assert(c.schema === df.schema, s"schema mismatch in $name")
      assert(c.count() === df.count(), s"count mismatch in $name")
      assert(c.exceptAll(df).isEmpty && df.exceptAll(c).isEmpty,
        s"row set mismatch in $name")
    }
    assert(dump.nonEmpty)
  }

  test("column pruning reaches the scan (readSchema shrinks), projection is correct") {
    val full = v2("forest_area")
    val twoCols = full.columns.take(2).toSeq
    val pruned = full.select(twoCols.map(col): _*)
    val scanDesc = pruned.queryExecution.executedPlan.toString
    // the pruned column set appears in the scan description; a dropped
    // column must not
    val dropped = full.columns.drop(2).headOption
    dropped.foreach { d =>
      assert(!scanDesc.linesIterator.exists(l =>
          l.contains("graft-sqlite") && l.contains(d)),
        s"scan should not carry pruned column $d:\n$scanDesc")
    }
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(
      twin("forest_area").select(twoCols.map(col): _*)).isEmpty)
  }

  test("filters evaluate correctly on the streamed rows") {
    val fa = v2("forest_area")
    val keyCol = fa.columns.head
    // non-null probe: `=== null` would match nothing and fail spuriously
    val some = fa.filter(col(keyCol).isNotNull)
      .orderBy(col(keyCol)).limit(3).collect()
    assume(some.length == 3)
    val probe = some(1).get(0)
    assert(fa.filter(col(keyCol) === probe).count() >= 1)
  }

  test("a readable table next to a virtual table still reads; the virtual one fails loud") {
    // sqlite_mixed.db: ordinary 'docs' beside FTS5 'ft' (rootpage 0).
    // Database.open rejects the whole file; the single-table connector
    // must serve the decodable table and only fail on the virtual one — a
    // per-table read may not break because an UNRELATED table is FTS
    val docs = spark.read.format("graft-sqlite")
      .option("table", "docs").load(res("sqlite_mixed.db"))
    assert(docs.count() === 25L)
    assert(docs.filter(col("body") === "doc body 7").count() === 1L)
    val e = intercept[Exception] {
      spark.read.format("graft-sqlite")
        .option("table", "ft").load(res("sqlite_mixed.db")).collect()
    }
    assert(e.getMessage.contains("virtual"), e.getMessage)
  }

  test("federates: a .db table joins a parquet table in one plan") {
    val docs = spark.read.format("graft-sqlite")
      .option("table", "docs").load(res("sqlite_mixed.db"))
    val pq = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id % 25 AS id", "n_chars")
    val j = docs.join(pq, "id")
      .groupBy("id").count().orderBy("id")
    // every parquet doc_id maps onto one of the 25 sqlite ids
    assert(j.count() === 25L)
    assert(j.agg(org.apache.spark.sql.functions.sum("count")).head().getLong(0)
      === spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("unknown table fails loud and lists what the file holds") {
    val e = intercept[Exception] {
      v2("no_such_table").collect()
    }
    assert(e.getMessage.contains("no_such_table") &&
      e.getMessage.contains("available"), e.getMessage)
  }

  test("missing table option / missing path fail with actionable messages") {
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft-sqlite").load(res("forestation_subset.db"))
    }
    assert(e1.getMessage.contains("table"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("graft-sqlite").option("table", "x")
        .schema(org.apache.spark.sql.types.StructType(Nil)).load()
    }
    assert(e2 != null)
  }
}
