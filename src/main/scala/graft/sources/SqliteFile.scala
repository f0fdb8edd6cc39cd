package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.FileTypeError

/** Pure-JVM reader for the binary SQLite file format — no JDBC driver, no
  * native library, no dependency: the on-disk format is public and frozen
  * (sqlite.org/fileformat2.html), so the `.db`/`.sqlite`/`.sqlite3` files
  * the reference opens directly (reference: connection.py:64-78) open here
  * by parsing the b-tree pages themselves.
  *
  * Scope (fail-loud beyond it, never silently wrong):
  *  - ordinary rowid tables: table b-trees (leaf 0x0d / interior 0x05),
  *    record serial types 0-9 and text/blob, overflow-page chains,
  *    INTEGER-PRIMARY-KEY rowid aliasing;
  *  - WITHOUT ROWID tables: index b-trees (leaf 0x0a / interior 0x02,
  *    whose interior cells carry real entries, not separators), the
  *    index-page local-payload thresholds, and the record column
  *    permutation (PRIMARY KEY columns first, in PK-declaration order);
  *  - all three text encodings (UTF-8 / UTF-16LE / UTF-16BE);
  *  - WAL databases with an unapplied `-wal` file, hot rollback
  *    journals, and virtual tables raise FileTypeError with the
  *    `.dump` workaround.
  *
  * Every table is read through ONE entry, [[streamTable]], which the
  * `graft-sqlite` DSv2 connector ([[graft.sources.sqlitev2.SqliteDataSource]])
  * pulls inside its scan task: rows decode page-by-page executor-side
  * (bounded memory per page; the file is never loaded whole), so no row
  * is ever held on the driver and no file is too large to open.
  * [[graft.api.Database.open]] reads through that scan.
  * Schema mapping reuses [[SqlDump.parseDdl]] on the CREATE statements
  * stored in `sqlite_master`, so a `.db` and its `.dump` twin open with
  * IDENTICAL schemas (hash-compared in SqliteFileSpec) — except BLOB
  * columns, which the binary reader can represent faithfully as
  * BinaryType where a textual dump cannot.
  */
object SqliteFile {

  /** Streaming access to ONE table for the `graft-sqlite` connector:
    * (schema, lazy row iterator, closer). Only the named table's DDL is
    * validated, so a virtual or unparseable table elsewhere in the file
    * does not break this one. The caller owns the closer and must invoke
    * it after consuming (or abandoning) the iterator.
    */
  private[sources] def streamTable(path: String, table: String)
      : (StructType, Iterator[Row], () => Unit) = {
    val db = new Reader(path)
    try {
      val (_, rootPage, createSql) = db.masterTables().find(_._1 == table)
        .getOrElse(throw new FileTypeError( // name listing only, nothing decoded
          s"table '$table' not found in '$path' — available: " +
            db.masterTables().map(_._1).sorted.mkString(", ")))
      val (schema, rows) = decodeTable(db, path, table, rootPage, createSql)
      (schema, rows, () => db.close())
    } catch { case e: Throwable => db.close(); throw e }
  }

  /** Schema of one table, decoded from the file's DDL (no rows read). */
  private[sources] def tableSchema(path: String, table: String): StructType = {
    val (schema, _, close) = streamTable(path, table)
    close()
    schema
  }

  /** Names of every user table in the file, in sqlite_master order —
    * schema-page listing only, no per-table validation or decoding (a
    * virtual table IS listed here; it fails loud when its scan is built).
    * Backs [[graft.api.Database.open]].
    */
  private[graft] def tableNames(path: String): Seq[String] = {
    val db = new Reader(path)
    try db.masterTables().map(_._1) finally db.close()
  }

  /** (schema, streaming row iterator) of the table `name` rooted at
    * `rootPage`. The iterator decodes lazily off the open [[Reader]] —
    * the caller must fully consume it BEFORE closing the reader.
    */
  private def decodeTable(db: Reader, path: String, name: String,
      rootPage: Int, createSql: String): (StructType, Iterator[Row]) = {
    // split the DDL at the paren that CLOSES the column-list body
    // (comment/quote-aware — lastIndexOf(')') would be fooled by a
    // trailing comment containing one). Table options after it:
    // WITHOUT ROWID in any combination/order with STRICT (3.37+
    // allows "WITHOUT ROWID, STRICT"). STRICT alone is fine — strict
    // tables are ordinary rowid tables on disk.
    val bodyEndIdx = bodyEnd(createSql)
    val tableOpts =
      if (bodyEndIdx >= 0) createSql.substring(bodyEndIdx + 1) else ""
    val withoutRowid =
      "(?is).*\\bwithout\\s+rowid\\b.*".r.matches(stripComments(tableOpts))
    // virtual tables (FTS, rtree, …) have no b-tree of their own —
    // rootpage 0 — and their content lives in module shadow tables
    if (rootPage <= 0)
      throw new FileTypeError(
        s"table '$name' in '$path' is a virtual table (rootpage 0) — " +
          s"unsupported; export the dump instead: sqlite3 '$path' .dump > out.sql")
    // parseDdl anchors on ');' — feed it the DDL up to the body's
    // closing paren so table options (STRICT, WITHOUT ROWID) never
    // break the parse
    val defs = SqlDump.parseDdl(
      (if (bodyEndIdx >= 0) createSql.substring(0, bodyEndIdx + 1)
       else createSql) + ";")
    if (defs.isEmpty)
      throw new FileTypeError(s"cannot parse DDL for table '$name' in '$path'")
    val cols = defs.head.cols
    val fields = cols.map { c =>
      val t = if (c.sqlType.toLowerCase.startsWith("blob")) BinaryType
              else c.sparkType
      StructField(c.name, t, nullable = true)
    }
    val schema = StructType(fields)
    // Rows written BEFORE an `ALTER TABLE ADD COLUMN` are stored with
    // fewer record columns; SQLite serves the ADD COLUMN's DEFAULT for
    // them (NULL when none). Mirror that: pre-decode each column's
    // DEFAULT literal from the DDL once.
    val defaults: Seq[Any] = cols.map(c => defaultLiteral(c.sqlType))
    val rows: Iterator[Row] =
      if (withoutRowid) {
        // Index-b-tree layout: each entry's record holds the PRIMARY
        // KEY columns first (in PK-declaration order), then the
        // remaining columns in CREATE TABLE order. ALTER ADD COLUMN
        // appends at the END of that record order, so short records
        // still truncate at the tail and the DEFAULT rule applies
        // unchanged. INTEGER PRIMARY KEY does NOT alias anything
        // here — the value is stored literally in the record.
        val pkIdxs = pkColumnIndexes(cols, createSql)
        if (pkIdxs.isEmpty)
          throw new FileTypeError(
            s"table '$name' in '$path' is WITHOUT ROWID but its PRIMARY" +
              " KEY columns could not be resolved from the DDL")
        val perm = pkIdxs ++ cols.indices.filterNot(pkIdxs.contains)
        val posInRecord = {
          val a = new Array[Int](cols.length)
          perm.zipWithIndex.foreach { case (decl, pos) => a(decl) = pos }
          a
        }
        db.indexRows(rootPage).map { rec =>
          val vals = fields.zipWithIndex.map { case (f, i) =>
            val pos = posInRecord(i)
            val raw = if (pos < rec.length) rec(pos) else defaults(i)
            coerce(raw, f.dataType, name, f.name, db.textCharset)
          }
          Row.fromSeq(vals)
        }
      } else {
        val ipkIdx = rowidAliasIndex(cols, createSql)
        db.tableRows(rootPage).map { case (rowid, rec) =>
          val vals = fields.zipWithIndex.map { case (f, i) =>
            val raw =
              if (i == ipkIdx) java.lang.Long.valueOf(rowid)
              else if (i < rec.length) rec(i)
              else defaults(i)
            coerce(raw, f.dataType, name, f.name, db.textCharset)
          }
          Row.fromSeq(vals)
        }
      }
    (schema, rows)
  }

  /** The `CREATE VIEW` statements stored in the file, parsed to
    * [[SqlDump.ViewDef]]s in sqlite_master order (reference
    * connection.py:123-131: `db.views` lists type='view' rows).
    * Registration into the session is [[graft.api.Database]]'s job.
    */
  def views(path: String): Seq[SqlDump.ViewDef] = {
    val db = new Reader(path)
    try db.masterViews().flatMap(sql => SqlDump.parseViews(sql))
    finally db.close()
  }

  /** Index of the rowid-ALIAS column, or -1. SQLite's rule
    * (sqlite.org/lang_createtable.html#rowid): a column aliases the rowid
    * iff its declared type is exactly INTEGER and it is the table's
    * PRIMARY KEY, declared either as a column constraint (`id INTEGER
    * PRIMARY KEY`, other constraints like NOT NULL may intervene) or as a
    * single-column table constraint (`..., PRIMARY KEY(id)`). The ONE
    * documented exception: the column-constraint form `INTEGER PRIMARY
    * KEY DESC` does NOT alias (while the table-constraint form with DESC
    * does). Aliased columns store NULL in the record; serving the stored
    * value would be all-NULL, serving the rowid for a non-alias would
    * overwrite real data — both silent corruption, hence the care here.
    */
  private[sources] def rowidAliasIndex(cols: Seq[SqlDump.ColDef],
      createSql: String): Int = {
    def isIntegerType(sqlType: String): Boolean =
      sqlType.trim.split("[\\s(]", 2)(0).equalsIgnoreCase("integer")
    // column-constraint form: INTEGER type with PRIMARY KEY among the
    // trailing constraints. Token-scanned at paren/quote depth 0 — a
    // CHECK expression or string containing the words 'primary key' must
    // not fake (or hide) the constraint — and not the documented
    // `PRIMARY KEY DESC` non-alias exception.
    val colLevel = cols.indexWhere { c =>
      isIntegerType(c.sqlType) && (wordsAtDepth0(c.sqlType) match {
        case ws =>
          val i = ws.indexOfSlice(Seq("primary", "key"))
          i >= 0 && ws.lift(i + 2) != Some("desc")
      })
    }
    if (colLevel >= 0) return colLevel
    // table-constraint form: [CONSTRAINT name] PRIMARY KEY ( col [extras] )
    // with exactly ONE column — found by scanning the body's depth-1
    // comma-separated entries (so strings/CHECKs can't confuse it).
    // Sort order and AUTOINCREMENT/COLLATE decorations do NOT matter in
    // this form (the DESC exception is column-level only).
    val end = bodyEnd(createSql)
    val start = createSql.indexOf('(')
    if (end < 0 || start < 0) return -1
    val entries = splitDepth0(createSql.substring(start + 1, end))
    val pkEntry = """(?is)^(?:constraint\s+(?:"[^"]*"|\w+)\s+)?primary\s+key\s*\((.*)\)\s*$""".r
    entries.map(_.trim).collectFirst {
      case e if pkEntry.findFirstMatchIn(e).isDefined =>
        val inner = pkEntry.findFirstMatchIn(e).get.group(1)
        val pkCols = splitDepth0(inner).map(_.trim).filter(_.nonEmpty)
        if (pkCols.length != 1) -1 // multi-column PKs never alias
        else {
          val colName = pkCols.head.split("\\s+")(0).replaceAll("\"", "")
          cols.indexWhere(c =>
            c.name.equalsIgnoreCase(colName) && isIntegerType(c.sqlType))
        }
    }.getOrElse(-1)
  }

  /** Declared-column indexes of the PRIMARY KEY, in PK-declaration order —
    * the record column order of a WITHOUT ROWID table's index b-tree
    * (fileformat2.html §2.6: PK columns first, in the order they appear in
    * the PRIMARY KEY definition, then the rest in CREATE TABLE order).
    * Both declaration forms: a column-level `PRIMARY KEY` constraint
    * (token-scanned at depth 0, so CHECK bodies and strings can't fake
    * it — DESC is NOT an exception here, that quirk is rowid-alias-only),
    * or a table-level `PRIMARY KEY (a, b DESC, c COLLATE nocase)` whose
    * entries are stripped of their decorations. Empty when unresolvable
    * (caller fails loud — a silent wrong permutation would serve rows
    * with columns swapped).
    */
  private[sources] def pkColumnIndexes(cols: Seq[SqlDump.ColDef],
      createSql: String): Seq[Int] = {
    val colLevel = cols.indexWhere(c =>
      wordsAtDepth0(c.sqlType).containsSlice(Seq("primary", "key")))
    if (colLevel >= 0) return Seq(colLevel)
    val end = bodyEnd(createSql)
    val start = createSql.indexOf('(')
    if (end < 0 || start < 0) return Seq.empty
    val entries = splitDepth0(createSql.substring(start + 1, end))
    val pkEntry = """(?is)^(?:constraint\s+(?:"[^"]*"|\w+)\s+)?primary\s+key\s*\((.*)\)\s*$""".r
    entries.map(_.trim).collectFirst {
      case e if pkEntry.findFirstMatchIn(e).isDefined =>
        val inner = pkEntry.findFirstMatchIn(e).get.group(1)
        val pkCols = splitDepth0(inner).map(_.trim).filter(_.nonEmpty)
          .map(_.split("\\s+")(0).replaceAll("\"", ""))
        val idxs = pkCols.map(n => cols.indexWhere(_.name.equalsIgnoreCase(n)))
        if (idxs.contains(-1)) Seq.empty else idxs.distinct
    }.getOrElse(Seq.empty)
  }

  /** Lower-cased word tokens of `s` that sit OUTSIDE parens and quoted
    * strings — the token stream constraint detection may look at.
    */
  private def wordsAtDepth0(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString; cur.clear() }; () }
    while (i < s.length) {
      val ch = s.charAt(i)
      ch match {
        case '(' => flush(); depth += 1; i += 1
        case ')' => flush(); depth -= 1; i += 1
        case '\'' =>
          flush(); i += 1
          while (i < s.length && s.charAt(i) != '\'') i += 1
          i += 1
        case c if Character.isLetterOrDigit(c) || c == '_' =>
          if (depth == 0) cur += Character.toLowerCase(c)
          i += 1
        case _ => flush(); i += 1
      }
    }
    flush()
    out.result()
  }

  /** Index of the ')' closing the FIRST '(' of a CREATE TABLE, skipping
    * quoted strings ('' escape), double-quoted identifiers, and SQL
    * comments (`--` to end of line, `/* */`); -1 when unbalanced.
    */
  private[sources] def bodyEnd(sql: String): Int = {
    var depth = 0
    var i = 0
    var opened = false
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1; opened = true; i += 1
        case ')' =>
          depth -= 1
          if (opened && depth == 0) return i
          i += 1
        case '\'' =>
          i += 1
          while (i < sql.length && sql.charAt(i) != '\'') i += 1
          i += 1
        case '"' =>
          i += 1
          while (i < sql.length && sql.charAt(i) != '"') i += 1
          i += 1
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < sql.length &&
            !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i += 2
        case _ => i += 1
      }
    }
    -1
  }

  /** SQL text with `--` and block comments removed (quote-aware). */
  private[sources] def stripComments(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' =>
          out += '\''; i += 1
          while (i < sql.length && sql.charAt(i) != '\'') { out += sql.charAt(i); i += 1 }
          if (i < sql.length) { out += '\''; i += 1 }
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < sql.length &&
            !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i += 2
        case c => out += c; i += 1
      }
    }
    out.toString
  }

  /** Comma-split at paren depth 0, skipping quoted strings/identifiers. */
  private[sources] def splitDepth0(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case ',' if depth == 0 => parts += cur.toString; cur.clear(); i += 1
        case c @ ('(') => depth += 1; cur += c; i += 1
        case c @ (')') => depth -= 1; cur += c; i += 1
        case '\'' =>
          cur += '\''; i += 1
          while (i < s.length && s.charAt(i) != '\'') { cur += s.charAt(i); i += 1 }
          if (i < s.length) { cur += '\''; i += 1 }
        case '"' =>
          cur += '"'; i += 1
          while (i < s.length && s.charAt(i) != '"') { cur += s.charAt(i); i += 1 }
          if (i < s.length) { cur += '"'; i += 1 }
        case c => cur += c; i += 1
      }
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.result()
  }

  /** The DEFAULT constant from a column's DDL type string (everything
    * after the name — SqlDump.ColDef keeps constraints there), decoded to
    * the storage classes coerce() accepts. Only constant literals — the
    * ONLY form `ALTER TABLE ADD COLUMN` accepts in SQLite, which is
    * exactly the case where the default materializes reads of short
    * records. NULL / absent / non-constant → null.
    */
  private[sources] def defaultLiteral(sqlType: String): Any = {
    // scan at paren/quote depth 0 only: "DEFAULT" inside CHECK(...) or a
    // quoted string (e.g. CHECK (s <> 'DEFAULT 9')) is NOT this column's
    // default clause
    val s = sqlType
    var i = 0
    var depth = 0
    var at = -1
    while (i < s.length && at < 0) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' => // skip the quoted string, '' escapes
          i += 1
          while (i < s.length &&
            !(s.charAt(i) == '\'' &&
              (i + 1 >= s.length || s.charAt(i + 1) != '\''))) {
            if (s.charAt(i) == '\'' ) i += 2 else i += 1
          }
          i += 1
        case _ =>
          // word boundary = not letter/digit/underscore on either side
          // (an identifier like t_default must not read as the keyword)
          def ident(c: Char) = Character.isLetterOrDigit(c) || c == '_'
          if (depth == 0 && s.regionMatches(true, i, "default", 0, 7) &&
            (i == 0 || !ident(s.charAt(i - 1))) &&
            (i + 7 >= s.length || !ident(s.charAt(i + 7))))
            at = i + 7
          else i += 1
      }
    }
    if (at < 0) return null
    val rest = s.substring(at).trim
    val quoted = """^'((?:[^']|'')*)'""".r
    val num = """^[-+]?(\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)""".r
    val word = """^(?i)(NULL|TRUE|FALSE)\b""".r
    quoted.findFirstMatchIn(rest) match {
      case Some(m) => return m.group(1).replace("''", "'")
      case None =>
    }
    num.findFirstMatchIn(rest) match {
      case Some(m) =>
        val lit = rest.substring(0, m.matched.length)
        // integer iff no decimal point and no exponent (1e5 is a REAL
        // 100000.0 in SQLite, not an int)
        return if (lit.exists(c => c == '.' || c == 'e' || c == 'E'))
          java.lang.Double.valueOf(lit)
        else java.lang.Long.valueOf(lit)
      case None =>
    }
    word.findFirstMatchIn(rest).map(_.group(1).toUpperCase) match {
      case Some("TRUE") => java.lang.Long.valueOf(1L)
      case Some("FALSE") => java.lang.Long.valueOf(0L)
      case _ => null
    }
  }

  /** Coerce a decoded SQLite value (null / Long / Double / String /
    * Array[Byte] — the storage classes) to the column's declared-affinity
    * Spark type. SQLite is dynamically typed per VALUE; mismatches a
    * lossless conversion can't fix fail loud rather than corrupt.
    */
  private def coerce(v: Any, t: DataType, table: String, colName: String,
      charset: java.nio.charset.Charset): Any = {
    def bad(): Nothing = throw new FileTypeError(
      s"$table.$colName: stored value class ${v.getClass.getSimpleName} " +
        s"does not fit declared column type $t")
    if (v == null) return null
    (v, t) match {
      case (l: java.lang.Long, LongType) => l
      case (d: java.lang.Double, LongType) =>
        // INTEGER-affinity columns may hold a non-integral real (SQLite
        // keeps it as REAL when the int conversion would be lossy). Whole
        // doubles OUTSIDE Long range would silently saturate through
        // longValue — reject them; 2^63 itself is out (Long.MaxValue's
        // double rounds UP to 2^63, so require strictly below it).
        val v = d.doubleValue
        if (v.isWhole && v >= Long.MinValue.toDouble && v < 9.223372036854776e18)
          java.lang.Long.valueOf(d.longValue)
        else bad()
      case (l: java.lang.Long, DoubleType) => java.lang.Double.valueOf(l.doubleValue)
      case (d: java.lang.Double, DoubleType) => d
      case (l: java.lang.Long, _: DecimalType) => BigDecimal(l)
      case (d: java.lang.Double, _: DecimalType) => BigDecimal(d)
      case (s: String, _: DecimalType) => BigDecimal(s)
      case (l: java.lang.Long, BooleanType) => java.lang.Boolean.valueOf(l != 0L)
      case (s: String, StringType) => s
      // TEXT-affinity columns can still hold ints/reals (dynamic typing);
      // render like the reference reading through pandas would
      case (l: java.lang.Long, StringType) => l.toString
      case (d: java.lang.Double, StringType) => d.toString
      case (b: Array[Byte], BinaryType) => b
      // a BLOB value in a TEXT-affinity column: interpret the bytes in the
      // DATABASE text encoding, as SQLite's blob→text cast does
      case (b: Array[Byte], StringType) => new String(b, charset)
      case _ => bad()
    }
  }

  /** Page-at-a-time binary reader over one open file handle. Not
    * thread-safe; each caller (a scan task, a schema or name listing)
    * opens its own and closes it when done.
    */
  private final class Reader(path: String) {
    private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)

    private def fail(msg: String): Nothing =
      throw new FileTypeError(s"'$path': $msg")

    // ---- database header (first 100 bytes of page 1) --------------------
    private val header: ByteBuffer = readAt(0L, 100)
    locally {
      val magic = new Array[Byte](16); header.get(0, magic)
      if (!magic.sameElements("SQLite format 3 ".getBytes("ISO-8859-1")))
        fail("not a SQLite 3 database (bad magic)")
    }
    val pageSize: Int = {
      val raw = header.getShort(16) & 0xffff
      if (raw == 1) 65536 else raw
    }
    private val reserved: Int = header.get(20) & 0xff
    private val usable: Int = pageSize - reserved
    /** Database text encoding (header offset 56): 1 = UTF-8, 2 = UTF-16LE,
      * 3 = UTF-16BE. Applies to every text value in the file, including
      * the sqlite_master DDL strings themselves.
      */
    val textCharset: java.nio.charset.Charset = header.getInt(56) match {
      case 1 => java.nio.charset.StandardCharsets.UTF_8
      case 2 => java.nio.charset.StandardCharsets.UTF_16LE
      case 3 => java.nio.charset.StandardCharsets.UTF_16BE
      case other => fail(s"unknown text encoding $other (header byte 56)")
    }
    locally {
      // write-version 2 = WAL journal. The file alone is complete only if
      // no -wal frames are pending; with a non-trivial -wal present we
      // cannot see committed-but-uncheckpointed data, so refuse.
      if ((header.get(18) & 0xff) == 2) {
        val wal = new java.io.File(path + "-wal")
        if (wal.exists() && wal.length() > 32)
          fail("WAL database with pending -wal frames — checkpoint it first" +
            " (sqlite3 file.db 'PRAGMA wal_checkpoint(TRUNCATE)') or export the dump")
      }
      // rollback-journal mode (write-version 1): a HOT -journal means a
      // writer crashed mid-commit and the main file holds a torn state
      // SQLite itself would roll back on open. A hot journal starts with
      // the 8-byte magic d9 d5 05 f9 20 a1 63 d7; a zeroed/truncated
      // header is a cold leftover and the main file is consistent.
      locally {
        val j = new java.io.File(path + "-journal")
        if (j.isFile && j.length() >= 8) {
          val in = new java.io.FileInputStream(j)
          // read-until-full: a short read's zero tail would misclassify a
          // hot journal as cold (same discipline as readAt)
          val magic = try {
            val b = new Array[Byte](8)
            var off = 0
            while (off < 8) {
              val n = in.read(b, off, 8 - off)
              if (n < 0) off = 8 else off += n
            }
            b
          } finally in.close()
          val hot = Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7)
            .map(_.toByte)
          if (magic.sameElements(hot))
            fail("hot rollback journal present (-journal) — the main file " +
              "holds an uncommitted torn state; open the db once with " +
              "sqlite3 to roll back, or export the dump")
        }
      }
    }

    def close(): Unit = ch.close()

    private def readAt(off: Long, len: Int): ByteBuffer = {
      val buf = ByteBuffer.allocate(len)
      var pos = 0
      while (pos < len) {
        val n = ch.read(buf, off + pos)
        if (n < 0) fail(s"truncated file (read at $off+$pos)")
        pos += n
      }
      buf.flip()
      buf
    }

    /** Page `n` (1-based, per the format). */
    private def page(n: Int): ByteBuffer =
      readAt((n - 1).toLong * pageSize, pageSize)

    // ---- varints --------------------------------------------------------
    /** Decode the varint at `pos`; returns (value, bytesConsumed). */
    private def varint(b: ByteBuffer, pos: Int): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val x = b.get(pos + i) & 0xff
        if ((x & 0x80) == 0) return (v << 7 | x, i + 1)
        v = v << 7 | (x & 0x7f)
        i += 1
      }
      (v << 8 | (b.get(pos + 8) & 0xff), 9)
    }

    // ---- b-tree traversal ----------------------------------------------
    /** All (rowid, decoded record) of the table b-tree rooted at `root`,
      * in rowid order. Depth-first, page-at-a-time: memory is one page
      * per tree level plus the current record.
      */
    def tableRows(root: Int): Iterator[(Long, Array[Any])] = walk(root)

    private def walk(pageNo: Int): Iterator[(Long, Array[Any])] = {
      val pg = page(pageNo)
      // page 1 carries the 100-byte db header before its b-tree header
      val hdr = if (pageNo == 1) 100 else 0
      val typ = pg.get(hdr) & 0xff
      val nCells = pg.getShort(hdr + 3) & 0xffff
      typ match {
        case 0x0d => // table leaf
          (0 until nCells).iterator.map { i =>
            val cellOff = pg.getShort(hdr + 8 + 2 * i) & 0xffff
            readLeafCell(pg, cellOff)
          }
        case 0x05 => // table interior: left children + rightmost pointer
          val kids = (0 until nCells).map { i =>
            val cellOff = pg.getShort(hdr + 12 + 2 * i) & 0xffff
            pg.getInt(cellOff)
          } :+ pg.getInt(hdr + 8)
          kids.iterator.flatMap(walk)
        case other =>
          fail(f"page $pageNo: unexpected b-tree page type 0x$other%02x" +
            " in a table tree (corrupt file or index root)")
      }
    }

    /** Decode one table-leaf cell: payload length, rowid, record (following
      * the overflow chain when the payload spills).
      */
    private def readLeafCell(pg: ByteBuffer, cellOff: Int): (Long, Array[Any]) = {
      val (payloadLen, n1) = varint(pg, cellOff)
      val (rowid, n2) = varint(pg, cellOff + n1)
      // table-page local-payload ceiling, straight from the format spec
      val payload = readPayload(pg, cellOff + n1 + n2, payloadLen, usable - 35)
      (rowid, decodeRecord(payload))
    }

    /** Assemble a cell payload of `payloadLen` bytes starting at `bodyOff`,
      * following the overflow chain when it exceeds `maxLocal` (which
      * differs between table and index pages — that difference is the
      * caller's to supply; everything else is shared).
      */
    private def readPayload(pg: ByteBuffer, bodyOff: Int, payloadLen: Long,
        maxLocal: Int): ByteBuffer =
      if (payloadLen <= maxLocal) pg.slice(bodyOff, payloadLen.toInt)
      else {
        val minLocal = (usable - 12) * 32 / 255 - 23
        val k = minLocal + ((payloadLen - minLocal) % (usable - 4)).toInt
        val local = if (k <= maxLocal) k else minLocal
        val out = ByteBuffer.allocate(payloadLen.toInt)
        out.put(pg.slice(bodyOff, local))
        var next = pg.getInt(bodyOff + local)
        while (next != 0) {
          val op = page(next)
          val take = math.min(usable - 4, out.remaining())
          out.put(op.slice(4, take))
          next = if (out.hasRemaining) op.getInt(0) else 0
        }
        if (out.hasRemaining) fail("overflow chain ended short of payload")
        out.flip()
        out
      }

    /** All decoded records of the index b-tree rooted at `root`, in key
      * order — the row iterator for WITHOUT ROWID tables. Unlike table
      * trees, index INTERIOR cells carry real entries (each key appears
      * exactly once in the whole tree), so the traversal is in-order:
      * child(0), key(0), child(1), key(1), …, rightmost child.
      */
    def indexRows(root: Int): Iterator[Array[Any]] = walkIndex(root)

    private def walkIndex(pageNo: Int): Iterator[Array[Any]] = {
      val pg = page(pageNo)
      val hdr = if (pageNo == 1) 100 else 0
      val typ = pg.get(hdr) & 0xff
      val nCells = pg.getShort(hdr + 3) & 0xffff
      // index-page local-payload ceiling (smaller than table pages: keys
      // are meant to stay shallow so searches touch fewer overflow pages)
      val maxLocal = (usable - 12) * 64 / 255 - 23
      typ match {
        case 0x0a => // index leaf: varint payloadLen, payload
          (0 until nCells).iterator.map { i =>
            val cellOff = pg.getShort(hdr + 8 + 2 * i) & 0xffff
            val (payloadLen, n1) = varint(pg, cellOff)
            decodeRecord(readPayload(pg, cellOff + n1, payloadLen, maxLocal))
          }
        case 0x02 => // index interior: 4-byte left child, then the entry
          (0 until nCells).iterator.flatMap { i =>
            val cellOff = pg.getShort(hdr + 12 + 2 * i) & 0xffff
            val (payloadLen, n1) = varint(pg, cellOff + 4)
            val rec = decodeRecord(
              readPayload(pg, cellOff + 4 + n1, payloadLen, maxLocal))
            walkIndex(pg.getInt(cellOff)) ++ Iterator.single(rec)
          } ++ walkIndex(pg.getInt(hdr + 8))
        case other =>
          fail(f"page $pageNo: unexpected b-tree page type 0x$other%02x" +
            " in an index tree (corrupt file or table root)")
      }
    }

    /** SQLite record format: varint header size, varint serial type per
      * column, then the column bodies back-to-back.
      */
    private def decodeRecord(rec: ByteBuffer): Array[Any] = {
      val (hdrLen, n0) = varint(rec, 0)
      var hp = n0
      val types = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (hp < hdrLen) {
        val (st, n) = varint(rec, hp)
        types += st; hp += n
      }
      var bp = hdrLen.toInt
      val out = new Array[Any](types.length)
      var i = 0
      while (i < types.length) {
        val st = types(i)
        st match {
          case 0 => out(i) = null
          case 1 => out(i) = java.lang.Long.valueOf(rec.get(bp).toLong); bp += 1
          case 2 => out(i) = java.lang.Long.valueOf(rec.getShort(bp).toLong); bp += 2
          case 3 =>
            val v = ((rec.get(bp) & 0xffL) << 16 | (rec.get(bp + 1) & 0xffL) << 8 |
              (rec.get(bp + 2) & 0xffL))
            out(i) = java.lang.Long.valueOf((v << 40) >> 40) // sign-extend 24-bit
            bp += 3
          case 4 => out(i) = java.lang.Long.valueOf(rec.getInt(bp).toLong); bp += 4
          case 5 =>
            val v = (rec.getShort(bp).toLong << 32) | (rec.getInt(bp + 2) & 0xffffffffL)
            out(i) = java.lang.Long.valueOf(v) // 48-bit: high short is signed
            bp += 6
          case 6 => out(i) = java.lang.Long.valueOf(rec.getLong(bp)); bp += 8
          case 7 => out(i) = java.lang.Double.valueOf(rec.getDouble(bp)); bp += 8
          case 8 => out(i) = java.lang.Long.valueOf(0L)
          case 9 => out(i) = java.lang.Long.valueOf(1L)
          case n if n >= 12 && n % 2 == 0 =>
            val len = ((n - 12) / 2).toInt
            val b = new Array[Byte](len); rec.get(bp, b)
            out(i) = b; bp += len
          case n if n >= 13 =>
            val len = ((n - 13) / 2).toInt // byte length in ANY encoding
            val b = new Array[Byte](len); rec.get(bp, b)
            out(i) = new String(b, textCharset); bp += len
          case n => fail(s"reserved record serial type $n")
        }
        i += 1
      }
      out
    }

    // ---- sqlite_master --------------------------------------------------
    /** (name, rootPage, CREATE sql) of every user table, from the schema
      * table rooted at page 1. Row layout: type, name, tbl_name, rootpage,
      * sql. Views/indexes/triggers and internal sqlite_* tables excluded.
      */
    def masterTables(): Seq[(String, Int, String)] =
      tableRows(1).flatMap { case (_, rec) =>
        (rec(0), rec(1)) match {
          case (t: String, name: String)
            if t == "table" && !name.startsWith("sqlite_") =>
            val root = rec(3) match {
              case l: java.lang.Long => l.intValue
              case _ => fail(s"sqlite_master rootpage for '$name' not an int")
            }
            val sql = rec(4) match {
              case s: String => s
              case _ => fail(s"sqlite_master sql for '$name' missing")
            }
            Some((name, root, sql))
          case _ => None
        }
      }.toSeq

    /** CREATE sql of every view, from the same schema table. */
    def masterViews(): Seq[String] =
      tableRows(1).flatMap { case (_, rec) =>
        (rec(0), rec(1), rec(4)) match {
          case (t: String, name: String, sql: String)
            if t == "view" && !name.startsWith("sqlite_") => Some(sql)
          case _ => None
        }
      }.toSeq
  }
}
