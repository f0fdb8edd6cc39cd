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

  test("a .db file registers as a TableCatalog: SHOW NAMESPACES/TABLES, pure-SQL SELECT") {
    spark.conf.set("spark.sql.catalog.forestdb",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    spark.conf.set("spark.sql.catalog.forestdb.path",
      res("forestation_subset.db"))
    val ns = spark.sql("SHOW NAMESPACES IN forestdb")
      .collect().map(_.getString(0)).toSeq
    assert(ns == Seq("main"))
    val opened = twin
    val tabs = spark.sql("SHOW TABLES IN forestdb.main")
      .collect().map(_.getString(1)).sorted.toSeq
    assert(tabs == opened.keys.toSeq.sorted)
    // pure SQL against the catalog-qualified name — no DataFrame API, no
    // temp view — returns the rows of the .dump twin
    val viaSql = spark.sql("SELECT * FROM forestdb.main.forest_area")
    assert(viaSql.schema === opened("forest_area").schema)
    assert(viaSql.exceptAll(opened("forest_area")).isEmpty &&
      opened("forest_area").exceptAll(viaSql).isEmpty)
  }

  test("catalog: DESCRIBE TABLE and SHOW COLUMNS surface the decoded schema") {
    spark.conf.set("spark.sql.catalog.forestdesc",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    spark.conf.set("spark.sql.catalog.forestdesc.path",
      res("forestation_subset.db"))
    val expect = twin("forest_area").schema
    val desc = spark.sql("DESCRIBE TABLE forestdesc.main.forest_area")
      .collect().map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.nonEmpty).toMap
    expect.fields.foreach { f =>
      assert(desc.get(f.name).contains(f.dataType.simpleString),
        s"${f.name}: DESCRIBE said ${desc.get(f.name)}, " +
          s"schema says ${f.dataType.simpleString}")
    }
    val cols = spark.sql("SHOW COLUMNS IN forestdesc.main.forest_area")
      .collect().map(_.getString(0)).toSeq
    assert(cols == expect.fieldNames.toSeq)
  }

  test("catalog SQL federates: .db JOIN parquet in one SQL statement") {
    spark.conf.set("spark.sql.catalog.mixeddb",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    spark.conf.set("spark.sql.catalog.mixeddb.path", res("sqlite_mixed.db"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .createOrReplaceTempView("docs_pq")
    val j = spark.sql(
      """SELECT d.id, count(*) AS n
        |FROM mixeddb.main.docs d
        |JOIN docs_pq p ON p.doc_id % 25 = d.id
        |GROUP BY d.id ORDER BY d.id""".stripMargin)
    assert(j.count() === 25L)
    assert(j.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      === spark.read.parquet(s"$sfDir/documents.parquet").count())
    spark.catalog.dropTempView("docs_pq")
  }

  test("catalog: unknown table/namespace fail as analysis errors; DDL is read-only") {
    spark.conf.set("spark.sql.catalog.forestdb2",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    spark.conf.set("spark.sql.catalog.forestdb2.path",
      res("forestation_subset.db"))
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM forestdb2.main.no_such").collect()
    }
    assert(e1.getMessage.contains("no_such"), e1.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SHOW TABLES IN forestdb2.aux").collect()
    }
    val e3 = intercept[Exception] {
      spark.sql("DROP TABLE forestdb2.main.regions")
    }
    assert(e3.getMessage.contains("read-only"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql("CREATE TABLE forestdb2.main.t2 (a INT)")
    }
    assert(e4.getMessage.contains("read-only"), e4.getMessage)
  }

  test("catalog without a path conf fails with the conf key in the message") {
    spark.conf.set("spark.sql.catalog.nopath",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    val e = intercept[Exception] {
      spark.sql("SHOW TABLES IN nopath.main").collect()
    }
    assert(e.getMessage.contains("spark.sql.catalog.nopath.path") ||
      Option(e.getCause).exists(_.getMessage.contains("spark.sql.catalog.nopath.path")),
      e.getMessage)
  }

  test("SupportsCatalogOptions: reader resolves through the registered catalog") {
    spark.conf.set("spark.sql.catalog.optdb",
      classOf[graft.sources.sqlitev2.SqliteCatalog].getName)
    spark.conf.set("spark.sql.catalog.optdb.path",
      res("forestation_subset.db"))
    // no .load(path): the catalog owns the file, the read names the table
    val viaOpts = spark.read.format("graft-sqlite-catalog")
      .option("catalog", "optdb").option("table", "forest_area").load()
    val direct = v2("forest_area")
    assert(viaOpts.schema === direct.schema)
    assert(viaOpts.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaOpts).isEmpty)
    // unknown table surfaces the catalog's not-found, not a decode error
    val e = intercept[Exception] {
      spark.read.format("graft-sqlite-catalog")
        .option("catalog", "optdb").option("table", "nope").load()
    }
    assert(e.getMessage.toLowerCase.contains("nope") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("nope")),
      e.getMessage)
    // missing catalog/table options → actionable message naming the option
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-sqlite-catalog")
        .option("table", "forest_area").load()
    }
    assert(e2.getMessage.contains("catalog"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      spark.read.format("graft-sqlite-catalog")
        .option("catalog", "optdb").load()
    }
    assert(e3.getMessage.contains("table"), e3.getMessage)
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
