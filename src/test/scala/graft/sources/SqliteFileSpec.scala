package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSuite
import graft.api.{Database, FileTypeError}

/** The pure-JVM binary SQLite reader (S11's `.db` half), read through the
  * `graft-sqlite` scan it sits behind: opened against REAL SQLite files —
  * the committed fixtures regenerated by scripts/gen_sqlite_fixtures.py
  * and the reference's own data/forestation.db when present — and
  * hash-compared against the `.sql`-dump twin read through the
  * independent SqlDump path.
  */
class SqliteFileSpec extends SparkSuite {

  private def res(name: String): String = {
    val r = getClass.getResource("/" + name)
    assume(r != null, s"fixture $name missing")
    r.getPath
  }

  /** Every table of a SQLite file, each a `graft-sqlite` scan. */
  private def tables(path: String): Map[String, DataFrame] =
    SqliteFile.tableNames(path).map { n =>
      n -> spark.read.format("graft-sqlite").option("table", n).load(path)
    }.toMap

  /** Same tables, schemas and row sets. */
  private def assertSameTables(got: Map[String, DataFrame],
      want: Map[String, DataFrame]): Unit = {
    assert(got.keySet === want.keySet)
    for (t <- want.keySet) {
      val (a, b) = (got(t), want(t))
      assert(a.schema === b.schema, s"schema mismatch in $t")
      assert(a.count() === b.count(), s"row count mismatch in $t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"row set mismatch in $t")
    }
  }

  test(".db opens identically to its .dump twin: tables, schemas, rows") {
    val db = Database.open(spark, res("forestation_subset.db"))
    try assertSameTables(db.tables.map(t => t -> db(t).toDf).toMap,
      SqlDump.open(spark, res("forestation_subset.sql")))
    finally db.exit()
  }

  test("record decode: every integer width, floats, text, blobs, NULLs, IPK rowids") {
    val typed = tables(res("sqlite_edge_cases.db"))("typed")
    assert(typed.schema.map(f => (f.name, f.dataType.simpleString)) === Seq(
      "id" -> "bigint", "i" -> "bigint", "r" -> "double",
      "t" -> "string", "b" -> "binary"))
    val rows = typed.orderBy("id").collect()
    assert(rows.length === 16)
    def r(id: Int) = rows(id - 1)
    // INTEGER PRIMARY KEY aliases the rowid (stored NULL in the record)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 16L))
    // the 1/2/3/4/6/8-byte signed widths and the 0/1 constants
    assert(r(1).getLong(1) === 0L && r(2).getLong(1) === 1L)
    assert(r(4).getLong(1) === 127L && r(5).getLong(1) === -128L)
    assert(r(6).getLong(1) === 32767L && r(7).getLong(1) === -32768L)
    assert(r(8).getLong(1) === 8388607L && r(9).getLong(1) === -8388608L)
    assert(r(10).getLong(1) === 2147483647L && r(11).getLong(1) === -2147483648L)
    assert(r(12).getLong(1) === 140737488355327L)
    assert(r(13).getLong(1) === -140737488355328L)
    assert(r(14).getLong(1) === Long.MaxValue && r(15).getLong(1) === Long.MinValue)
    // doubles, including extremes. (-0.0 is inserted for row 5 but SQLite
    // itself normalizes it to +0.0 on write — verified with typeof/raw
    // bytes in the generator DB — so +0.0 IS the faithful read.)
    assert(r(6).getDouble(2) === 1e308 && r(7).getDouble(2) === -1e-300)
    assert(r(5).getDouble(2) === 0.0)
    // text incl. unicode and empties; blobs byte-exact
    assert(r(1).getString(3) === "")
    assert(r(3).getString(3) === "unicodé ✓ 😀")
    assert(r(4).getString(3) === "tab\tnewline\nquote'")
    assert(r(1).getAs[Array[Byte]](4).length === 0)
    assert(r(3).getAs[Array[Byte]](4).toSeq === (0 until 256).map(_.toByte))
    // NULLs survive as NULLs
    assert(r(16).isNullAt(1) && r(16).isNullAt(2) && r(16).isNullAt(3) &&
      r(16).isNullAt(4))
  }

  test("overflow-page chains and multi-level interior b-trees decode fully") {
    val tabs = tables(res("sqlite_edge_cases.db"))
    // ~60 KB payload at 512-byte pages = a >100-page overflow chain
    val big = tabs("overflow").orderBy("k").collect()
    assert(big(0).getString(1).length === 60003)
    assert(big(0).getString(1).startsWith("abcdefghij"))
    assert(big(0).getString(1).endsWith("END"))
    assert(big(1).getString(1) === "small")
    // 5000 rows at 512-byte pages = interior pages; all present, in order
    val many = tabs("many")
    assert(many.count() === 5000L)
    val sq = many.orderBy("n").collect()
    assert(sq.map(_.getLong(0)).toSeq === (1L to 5000L))
    assert(sq.forall(r => r.getLong(1) === r.getLong(0) * r.getLong(0)))
    assert(sq(4321 - 1).getString(2) === "row-4321")
  }

  test("ALTER TABLE ADD COLUMN: short records serve the DDL DEFAULT, not NULL") {
    val alt = tables(res("sqlite_edge_cases.db"))("altered")
      .orderBy("a").collect()
    // rows 1-2 predate the ALTERs — their stored records have 2 columns;
    // SQLite materializes DEFAULT 7 / 'it''s' / NULL for the missing three
    assert(alt(0).getLong(2) === 7L && alt(0).getString(3) === "it's" &&
      alt(0).isNullAt(4))
    assert(alt(1).getLong(2) === 7L && alt(1).getString(3) === "it's")
    // row 3 postdates them and stores real values
    assert(alt(2).getLong(2) === 30L && alt(2).getString(3) === "later" &&
      alt(2).getDouble(4) === 2.5)
  }

  test("defaultLiteral parses the constant forms ALTER ADD COLUMN allows") {
    assert(SqliteFile.defaultLiteral("INTEGER DEFAULT 7") === 7L)
    assert(SqliteFile.defaultLiteral("INTEGER DEFAULT -3") === -3L)
    assert(SqliteFile.defaultLiteral("INTEGER DEFAULT +42") === 42L)
    assert(SqliteFile.defaultLiteral("REAL DEFAULT 2.5") === 2.5)
    // exponent forms are REAL in SQLite even without a decimal point
    assert(SqliteFile.defaultLiteral("REAL DEFAULT 1e5") === 100000.0)
    assert(SqliteFile.defaultLiteral("REAL DEFAULT -2.5e-3") === -0.0025)
    assert(SqliteFile.defaultLiteral("TEXT DEFAULT 'it''s'") === "it's")
    assert(SqliteFile.defaultLiteral("BOOLEAN DEFAULT TRUE") === 1L)
    assert(SqliteFile.defaultLiteral("INTEGER DEFAULT NULL") === null)
    assert(SqliteFile.defaultLiteral("INTEGER") === null)
    assert(SqliteFile.defaultLiteral("INTEGER NOT NULL") === null)
    // DEFAULT text hiding inside parens or strings is NOT a default
    assert(SqliteFile.defaultLiteral("TEXT CHECK (s <> 'DEFAULT 9')") === null)
    assert(SqliteFile.defaultLiteral(
      "TEXT CHECK (s <> 'DEFAULT 9') DEFAULT 'real'") === "real")
    assert(SqliteFile.defaultLiteral("TEXT DEFAULT 'a' CHECK (s <> 'DEFAULT 9')")
      === "a")
    // a column literally named ...default... must not confuse the scanner
    assert(SqliteFile.defaultLiteral("TEXT REFERENCES defaults(x)") === null)
  }

  test("Database.open end-to-end on a .db file without any JDBC driver") {
    val db = Database.open(spark, res("forestation_subset.db"))
    assert(db.tables === Seq("forest_area", "land_area", "regions"))
    val aruba = db.query(
      "SELECT year, forest_area_sqkm FROM forest_area " +
        "WHERE country_code = 'ABW' ORDER BY year DESC LIMIT 1")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(aruba === Seq((2016L, 4.199999869)))
    db.exit()
  }

  test("opens the reference's own forestation.db (when present)") {
    val f = new java.io.File("/root/reference/data/forestation.db")
    assume(f.isFile, "reference fixture not present in this environment")
    val tabs = tables(f.getPath)
    assert(tabs.keySet === Set("forest_area", "land_area", "regions"))
    // the dump-subset fixture is a 40-rows-per-table slice of this very
    // database: every subset row must appear verbatim in the full table
    val sub = SqlDump.open(spark, res("forestation_subset.sql"))
    for (t <- sub.keySet) {
      assert(tabs(t).count() >= sub(t).count())
      assert(sub(t).exceptAll(tabs(t)).isEmpty,
        s"subset rows of $t missing from the binary read")
    }
  }

  test("rowid-alias forms: table-level PK, NOT NULL PK, and the DESC/INT non-alias exceptions") {
    val tabs = tables(res("sqlite_pk_forms.db"))
    def pairs(t: String): Set[(Long, String)] =
      tabs(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // alias shapes: the id IS the rowid; stored record slot is NULL and
    // the reader must substitute — ids here never equal the 1,2 rowids a
    // confusion would produce
    assert(pairs("t_table_pk") === Set((100L, "a"), (205L, "b")))
    assert(pairs("t_nn_pk") === Set((300L, "c"), (41L, "d")))
    // NON-alias exceptions: the record stores the real value and the
    // independent rowid must NOT overwrite it. INTEGER PRIMARY KEY DESC
    // (the documented column-level quirk) and INT (affinity but not the
    // exact word INTEGER)
    assert(pairs("t_desc_pk") === Set((500L, "e"), (77L, "f")))
    assert(pairs("t_int_pk") === Set((900L, "g"), (13L, "h")))
    // defaults: exponent form DEFAULT 1e5 = REAL 100000.0 for the short
    // pre-ALTER record; 'DEFAULT 9' inside a CHECK is not a default
    val d = tabs("t_defaults").orderBy("a").collect()
    assert(d(0).getDouble(1) === 100000.0 && d(0).isNullAt(2))
    assert(d(1).getDouble(1) === 2.5 && d(1).getString(2) === "x")
    // named table constraint (CONSTRAINT pk PRIMARY KEY (id)) and the
    // decorated single-column table forms all alias
    assert(pairs("t_named_pk") === Set((600L, "i"), (42L, "j")))
    assert(pairs("t_auto_pk") === Set((700L, "k")))
    assert(pairs("t_tdesc_pk") === Set((800L, "l")))
    // 'primary key' inside a CHECK string must not fake an alias on the
    // neighboring INTEGER column — kind values 55/66 ≠ rowids 1/2
    assert(tabs("t_check_str").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("x", 55L), ("y", 66L)))
    // STRICT-only table options: ordinary rowid layout, reads fine
    assert(tabs("t_strict").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("s1", 1L), ("s2", 2L)))
  }

  test("rollback journals: hot refuses, cold reads fine") {
    val e = intercept[FileTypeError] {
      tables(res("sqlite_hot_journal.db"))
    }
    assert(e.getMessage.contains("journal"))
    val cold = tables(res("sqlite_cold_journal.db"))
    assert(cold("t").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("the reference's OWN golden values hold end-to-end through the binary open") {
    // These numbers are what the reference's test suite asserts against
    // forestation.db (tests/test_table.py:243-250 filter counts;
    // README.md:224-248 describe values) — replayed here through
    // Database.open on the BINARY file via the pure-JVM reader and the
    // parity API. The strongest parity evidence available: their fixture,
    // their goldens, our whole stack.
    val f = new java.io.File("/root/reference/data/forestation.db")
    assume(f.isFile, "reference fixture not present in this environment")
    val db = Database.open(spark, f.getPath)
    val regions = db("regions")
    val low = regions.filter(regions("income_group") === "Low income")
    assert(low.len === 34L)
    assert(low.filter(low("region") === "Sub-Saharan Africa").len === 27L)

    val fa = db("forest_area")
    val nameDesc = fa("country_name").describe
    assert(nameDesc("len") === 5886L && nameDesc("count") === 5886L)
    assert(nameDesc("unique") === 218)
    assert(nameDesc("min") === "Afghanistan" && nameDesc("max") === "Zimbabwe")

    val sq = fa("forest_area_sqkm").describe
    assert(sq("len") === 5886L && sq("count") === 5570L)
    assert(sq("min") === 0.799999982 && sq("max") === 4.12826949e7)
    // sum/avg: the reference's goldens are SQLite's SEQUENTIAL double
    // accumulation (rounds at every step, order-dependent); this engine
    // sums through DECIMAL — order-independent and exact over the stored
    // doubles — so the 12th significant digit differs BY DESIGN
    // (2178158753.6738787 exact vs …772 sequential). Assert agreement to
    // the accumulation-noise level and pin OUR exact value.
    assert(sq("sum") === 2178158753.6738787)
    assert(math.abs(sq("sum").asInstanceOf[Double] - 2178158753.6738772) < 1e-5)
    assert(math.abs(sq("avg").asInstanceOf[Double] - 391051.84087502287) < 1e-8)
    assert(sq("median") === 20513.00049)
    db.exit()
  }

  test("WITHOUT ROWID: index-b-tree layout, PK-first record permutation") {
    val tabs = tables(res("sqlite_without_rowid.db"))
    // simple TEXT PK; natural order is PK (index) order, not insert order
    assert(tabs("wr").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // multi-column PK (a, b) declared NEITHER first NOR in declared order:
    // the record stores (a, b, v, extra) and the reader must permute back
    // to the declared (v, b, a, extra) — wrong permutation = swapped
    // columns, caught by both values and types here
    val multi = tabs("wr_multi").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1),
        r.getString(2), if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(multi.toSeq === Seq(("val1", 10L, "k1", 1.5),
      ("val2", 20L, "k1", 2.5), ("val3", 5L, "k2", null),
      (null, 7L, "k3", 0.25)))
    // INTEGER PRIMARY KEY here is NOT a rowid alias: values are stored
    // literally (400/150, never the 1/2 an alias confusion would produce)
    assert(tabs("wr_ipk").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((400L, "x"), (150L, "y")))
    // column-level PRIMARY KEY DESC: b-tree (and thus natural) order is
    // descending
    assert(tabs("wr_desc").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "three"), (2L, "two"), (1L, "one")))
    // the 3.37+ combined "WITHOUT ROWID, STRICT" table-options form
    val wrs = tables(res("sqlite_wr_strict.db"))("wrs")
    assert(wrs.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L)))
  }

  test("WITHOUT ROWID: interior index cells are real entries; overflow; ALTER defaults") {
    val tabs = tables(res("sqlite_without_rowid.db"))
    // 3000 rows at 512-byte pages = a multi-level INDEX tree. Unlike table
    // trees, its interior cells hold real entries — a traversal that skips
    // them loses exactly the interior keys and this count/order fails.
    val many = tabs("wr_many").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(many.length === 3000)
    assert(many.forall { case (g, n, sq) =>
      sq == n * n && g == s"g${n % 7}" })
    // natural order = PK (grp asc, n asc) order, exactly
    assert(many.toSeq === many.toSeq.sortBy { case (g, n, _) => (g, n) })
    // index-page overflow thresholds (maxLocal is SMALLER than on table
    // pages): a ~60 KB non-PK value and a ~20 KB value inside the PK
    val ovf = tabs("wr_overflow").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(ovf("big").length === 60003 && ovf("big").startsWith("0123456789")
      && ovf("big").endsWith("END"))
    val bigKey = ovf.keys.find(_.length > 100).get
    assert(bigKey.length === 20003 && bigKey.endsWith("KEY") &&
      ovf(bigKey) === "keyed")
    assert(ovf("small") === "s")
    // ALTER ADD COLUMN appends at the END of the record order: short
    // pre-ALTER records serve DEFAULT 9, the post-ALTER row its real 33
    assert(tabs("wr_altered").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("p", 1L, 9L), ("q", 2L, 9L), ("r", 3L, 33L)))
  }

  test("WITHOUT ROWID .db matches its .dump twin through the independent SqlDump path") {
    // incl. `) WITHOUT ROWID;` DDL
    assertSameTables(tables(res("sqlite_without_rowid.db")),
      SqlDump.open(spark, res("sqlite_without_rowid.sql")))
  }

  test("UTF-16LE and UTF-16BE databases decode, including overflow text") {
    for (f <- Seq("sqlite_utf16le.db", "sqlite_utf16be.db")) {
      val tabs = tables(res(f))
      val t = tabs("t").orderBy("id").collect()
      assert(t.map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
        .take(5) === Seq("é", "plain", "", "unicodé ✓ 😀", null), s"in $f")
      // ~42 KB of UTF-16 bytes across an overflow chain; serial-type
      // lengths count BYTES, so a UTF-8 assumption would split code units
      val long = t(5).getString(1)
      assert(long.length === 21000 && long.startsWith("étoile✓") &&
        long.endsWith("étoile✓"), s"in $f")
      // a WITHOUT ROWID table in a UTF-16 database: both features at once
      assert(tabs("twr").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet ===
        Set(("α", "alpha"), ("β", "beta")), s"in $f")
    }
  }

  test("fail-loud scope: non-SQLite files and virtual tables are rejected") {
    val e3 = intercept[FileTypeError] {
      tables(res("forestation_subset.sql")) // not a .db
    }
    assert(e3.getMessage.contains("magic"))
    // virtual tables (FTS5 here) have rootpage 0; their module shadow
    // tables are ordinary/WITHOUT ROWID tables the reader could decode,
    // but serving shadow internals as user tables would be silently wrong
    // — the read must fail loud with the .dump workaround
    val e4 = intercept[FileTypeError] {
      tables(res("sqlite_virtual.db"))
    }
    assert(e4.getMessage.contains(".dump"))
  }

  test("a .db Database holds no driver rows and still fails loud at open") {
    for (f <- Seq("forestation_subset.db", "sqlite_edge_cases.db",
        "sqlite_without_rowid.db", "sqlite_misfit.db", "sqlite_empty.db")) {
      val db = Database.open(spark, res(f))
      try for (t <- db.tables) {
        val local = db(t).toDf.queryExecution.analyzed.collect {
          case r: LocalRelation => r
        }
        assert(local.isEmpty, s"$f: table $t holds driver-side rows")
      } finally db.exit()
    }
    // a table with no rows opens with its DDL schema and length 0
    val empty = Database.open(spark, res("sqlite_empty.db"))
    try {
      assert(empty("empty").toDf.schema.map(f => (f.name, f.dataType.simpleString)) ===
        Seq("id" -> "bigint", "s" -> "string", "r" -> "double"))
      assert(empty("empty").len === 0L)
      assert(empty("one").toDf.collect().map(_.getLong(0)).toSeq === Seq(42L))
    } finally empty.exit()
    // what the header and schema show fails at open
    val notSqlite = java.nio.file.Files.createTempDirectory("graftnotdb")
      .resolve("dump.db")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(res("forestation_subset.sql")), notSqlite)
    assert(intercept[FileTypeError](Database.open(spark, notSqlite.toString))
      .getMessage.contains("magic"))
    assert(intercept[FileTypeError](
      Database.open(spark, res("sqlite_hot_journal.db"))).getMessage.contains("journal"))
    // a virtual table beside a readable one
    assert(intercept[FileTypeError](
      Database.open(spark, res("sqlite_mixed.db"))).getMessage.contains("virtual"))
    // a stored value that does not fit its column fails at the first
    // action that scans it, not at open
    val misfit = Database.open(spark, res("sqlite_misfit.db"))
    try {
      val e = intercept[Exception](misfit("t").data())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[FileTypeError] &&
        c.getMessage.contains("t.n")), e.getMessage)
    } finally misfit.exit()
  }
}
