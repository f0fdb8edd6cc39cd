package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Scratch.{deleteRecursively, storeDir}

import Q._

/** Sink-path queries under the hash gate: each writes a real on-disk layout
  * (partitioned parquet, compacted parquet, ORC), reads it BACK, and
  * aggregates — so the oracle compare proves the write→read cycle is
  * byte-lossless, not just that the aggregation is right. DuckDB's side
  * reads the original parquet tables; any row lost, duplicated, or mangled
  * by the sink shows up as a hash mismatch.
  *
  * The layout ops themselves (one-file-per-partition clustering, one
  * commit per write, pruned reads) are asserted structurally in LayoutSpec; these
  * entries put their DATA path under the same gate as every other operator.
  */
object SinkOps {

  type Fn = (SparkSession, String) => DataFrame

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- partitioned-directory write + pruned read-back: documents land as
    //    lang=XX/ dirs sorted by doc_id; the read filters two langs, so the
    //    scan opens only those directories (pruning asserted in LayoutSpec
    //    via inputFiles). Oracle reads the ORIGINAL parquet — equality
    //    proves the partitioned store is lossless ---------------------------
    ("q_layout_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("layout", d)
        graft.ops.Layout.writePartitioned(
          t(s, d, "documents"), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .filter(col("lang").isin("en", "fr"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM documents WHERE lang IN ('en', 'fr') GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- small-file accumulation + compaction: write the store fragmented
    //    (~8 files per lang dir — scale-RELATIVE, a fixed records-per-file
    //    would mean 31k files at sf10), compact back to one sorted file per
    //    dir, read the COMPACTED store. Equality proves the rewrite-and-commit
    //    preserved every row; the cap only shapes files, never data --------
    ("q_compact_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("compact", d)
        val docs = t(s, d, "documents")
        val perFile = (docs.count() / 40L + 1L) max 16L
        graft.ops.Layout.writePartitioned(
          docs, dir, "lang", Seq("doc_id"),
          maxRecordsPerFile = perFile)
        graft.ops.Layout.compact(s, dir, "lang", Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("source")
      },
      """SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- ORC sink/source round trip: the columnar-format escape hatch for
    //    pipelines whose downstream reader is ORC-native (Hive/Trino
    //    ecosystems). Money sums in exact integer cents (Q.cents) ----------
    ("q_orc_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("orc", d)
        t(s, d, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"),
            sum(cents(col("l_extendedprice"))).as("revenue_cents"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  cast(sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- PARTITION-LEVEL compaction under the hash gate: fragment one
    //    language dir by appending its slice, compact only-what's-
    //    fragmented, read the whole store back. Equality (incl. the
    //    doubled slice) proves the per-directory rewrite-and-commit kept
    //    every row while the cold dirs were never rewritten (structural
    //    half asserted in LayoutSpec) ------------------------------------
    ("q_compact_partial",
      (s: SparkSession, d: String) => {
        val dir = storeDir("compactp", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
        graft.ops.Layout.append(
          docs.filter(col("lang") === "en"), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.compactPartitions(s, dir, Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("doc_id")).as("n_ids"))
          .orderBy("lang")
      },
      """WITH store AS (SELECT * FROM documents
        |               UNION ALL SELECT * FROM documents WHERE lang = 'en')
        |SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT doc_id) AS n_ids
        |FROM store GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- MANIFEST-POINTER commit layer under the hash gate: the full
    //    maintenance cycle (a fragmented store → append the odd half →
    //    compact → retire orphans) where every publish is ONE pointer-
    //    file write and NO directory rename exists anywhere — the object-
    //    store-safe protocol (PointerStoreSpec proves the scheme / crash /
    //    vacuum claims; this gate proves the data path is byte-lossless
    //    through all three commits) ---------------------------------------
    ("q_pointer_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("pointer", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        val perFile = (docs.count() / 40L + 1L) max 16L
        graft.ops.Layout.writePartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), dir, "lang",
          Seq("doc_id"), maxRecordsPerFile = perFile)
        graft.ops.Layout.append(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), dir, "lang",
          Seq("doc_id"))
        graft.ops.Layout.compactPartitions(s, dir, Seq("doc_id"))
        graft.ops.PointerStore.vacuumOrphans(dir, keepCommits = 1)
        graft.ops.Layout.read(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- whole-store re-partition as a pointer FLIP: lang= layout rewritten
    //    to source= and cut over by one commit-file write
    //    (Layout.evolveCompact); old files retired by the version-window
    //    vacuum. countDistinct over
    //    the ex-partition column proves the lang VALUES survived the move
    //    from directory names to data pages ------------------------------
    ("q_pointer_rewrite",
      (s: SparkSession, d: String) => {
        val dir = storeDir("pointerrw", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
        graft.ops.Layout.evolveCompact(s, dir, "lang", "source", Seq("doc_id"))
        graft.ops.PointerStore.vacuumOrphans(dir, keepCommits = 1)
        graft.ops.Layout.read(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("source")
      },
      """SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- TIME TRAVEL through the pointer log: after the append commit, the
    //    PREVIOUS version still resolves to exactly its old live set
    //    (immutable files + full-list commits = as-of reads are pointer
    //    resolution, no snapshot copy). The oracle recomputes v1's content
    //    (the even half) from the source table — equality proves the old
    //    version is byte-stable under later commits ------------------------
    ("q_pointer_timetravel",
      (s: SparkSession, d: String) => {
        val dir = storeDir("pointertt", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), dir, "lang",
          Seq("doc_id"))
        graft.ops.Layout.append(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), dir, "lang",
          Seq("doc_id"))
        graft.ops.PointerStore.readVersion(s, dir, 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            max(col("doc_id")).as("last_id"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  max(doc_id) AS last_id
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- dedup-screened incremental ingest: seed the store with the even
    //    half of the corpus, re-ingest the WHOLE corpus keyed on md5(text)
    //    — evens drop (self-match), odds drop iff their text already
    //    appears among evens. Final store = evens ∪ text-fresh odds; the
    //    oracle recomputes that set relationally. Proves the append path
    //    and the key screen in one pass ---------------------------------
    ("q_ingest_dedup",
      (s: SparkSession, d: String) => {
        val dir = storeDir("ingest", d)
        val docs = t(s, d, "documents")
        // fresh store per run: the query must be idempotent across the
        // bench's three samples (ingest into last run's store would not be)
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.ingest(docs, dir, "lang", Seq("doc_id"), md5(col("text")))
        graft.ops.Layout.read(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("doc_id")).as("n_ids"))
          .orderBy("lang")
      },
      """WITH olds AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |fresh AS (SELECT d.* FROM documents d
        |          WHERE NOT EXISTS (SELECT 1 FROM olds o
        |                            WHERE md5(o.text) IS NOT DISTINCT FROM md5(d.text))),
        |store AS (SELECT * FROM olds UNION ALL SELECT * FROM fresh)
        |SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT doc_id) AS n_ids
        |FROM store GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Bloom-prefiltered ingest, same gate: seed with every 10th doc,
    //    ingest the WHOLE corpus through the sketch-screened path (90%
    //    fresh — the case the prefilter exists for). The oracle is the
    //    EXACT null-safe screen; equality proves the bloom fast path is a
    //    pure accelerator, not an approximation -------------------------
    ("q_ingest_bloom",
      (s: SparkSession, d: String) => {
        val dir = storeDir("ingestbloom", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.ingestBloom(docs, dir, "lang", Seq("doc_id"), md5(col("text")))
        graft.ops.Layout.read(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("doc_id")).as("n_ids"))
          .orderBy("lang")
      },
      """WITH olds AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |fresh AS (SELECT d.* FROM documents d
        |          WHERE NOT EXISTS (SELECT 1 FROM olds o
        |                            WHERE md5(o.text) IS NOT DISTINCT FROM md5(d.text))),
        |store AS (SELECT * FROM olds UNION ALL SELECT * FROM fresh)
        |SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT doc_id) AS n_ids
        |FROM store GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- batch-versioned store + incremental consume: three thirds of the
    //    corpus appended as batches 0/1/2, the consumer reads "since batch
    //    1". The oracle recomputes that slice relationally; equality proves
    //    batch assignment and the pruned incremental read (pruning itself
    //    asserted via scan metrics in LayoutSpec) -------------------------
    ("q_ingest_since",
      (s: SparkSession, d: String) => {
        val dir = storeDir("since", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.readSince(s, dir, 1L)
          // partition-dir values infer as INT; pin LONG to match the oracle
          .groupBy(col("lang"), col("ingest_batch").cast("long").as("ingest_batch"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"))
          .orderBy("lang", "ingest_batch")
      },
      """SELECT lang, cast(doc_id % 3 AS BIGINT) AS ingest_batch,
        |  count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id
        |FROM documents WHERE doc_id % 3 >= 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- checkpointed consume: same three-batch store, but the consumer
    //    has already committed batch 0 — readNew must return exactly
    //    batches 1..2 (the at-least-once read-then-commit loop). Oracle
    //    recomputes the slice relationally ------------------------------
    ("q_consume_new",
      (s: SparkSession, d: String) => {
        val dir = storeDir("consume", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.commitCheckpoint(dir, "gate_consumer", 0L)
        val (fresh, upTo) = graft.ops.Layout.readNew(s, dir, "gate_consumer")
        fresh
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            max(col("ingest_batch").cast("long")).as("max_batch"),
            lit(upTo).as("up_to"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  cast(max(doc_id % 3) AS BIGINT) AS max_batch,
        |  cast(2 AS BIGINT) AS up_to
        |FROM documents WHERE doc_id % 3 >= 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- history retention: 4 versioned batches, consumers current, squash
    //    everything <= batch 2 into ONE dir per partition (Layout.
    //    squashHistory — Delta-checkpoint analogue, crash recovery in
    //    CrashSpec). The read-back proves rows survive byte-identically,
    //    ids <= 2 relabel to the squash floor, batch 3 is untouched, and
    //    the still-checkpointed consumer sees exactly its unseen batch ----
    ("q_squash_history",
      (s: SparkSession, d: String) => {
        val dir = storeDir("squash", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        (0 to 3).foreach(b => graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(4)) === b), dir, "lang", Seq("doc_id")))
        graft.ops.Layout.commitCheckpoint(dir, "squash_consumer", 2L)
        graft.ops.Layout.squashHistory(s, dir, upTo = 2L, Seq("doc_id"))
        val (fresh, _) = graft.ops.Layout.readNew(s, dir, "squash_consumer")
        val full = graft.ops.Layout.read(s, dir)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
            countDistinct(col("ingest_batch").cast("long")).as("n_batches"),
            min(col("ingest_batch").cast("long")).as("floor_batch"))
        val unseen = fresh.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_fresh"))
        // LEFT join + 0-fill: a lang with no doc_id%4==3 rows must still
        // report (the oracle emits it with n_fresh = 0)
        full.join(unseen, Seq("lang"), "left")
          .withColumn("n_fresh", coalesce(col("n_fresh"), lit(0L)))
          .select("lang", "n_docs", "chars", "n_batches", "floor_batch", "n_fresh")
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  cast(2 AS BIGINT) AS n_batches, cast(2 AS BIGINT) AS floor_batch,
        |  cast(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- snapshot-to-snapshot AUDIT: Diff.keyed over two readAsOf views of
    //    one versioned store — "what did batch 1 actually change". Batch 1
    //    adds the %3==1 keys AND re-appends the %15==0 keys with a bumped
    //    n_chars (a re-crawl); the multiset diff classifies the former
    //    added, the latter changed (the key gained a second, different
    //    row), and — append-only store — nothing is ever removed. The
    //    oracle derives the classes from the modulo construction ---------
    ("q_snapshot_diff",
      (s: SparkSession, d: String) => {
        val dir = storeDir("snapdiff", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1)
            .unionByName(docs.filter(pmod(col("doc_id"), lit(15)) === 0)
              .withColumn("n_chars", col("n_chars") + 7L)),
          dir, "lang", Seq("doc_id"))
        val vals = Seq("text", "lang", "source", "n_chars")
        graft.ops.Diff.keyed(
            graft.ops.Layout.readAsOf(s, dir, 0L).select("doc_id", vals: _*),
            graft.ops.Layout.readAsOf(s, dir, 1L).select("doc_id", vals: _*),
            Seq("doc_id"), vals)
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("change_type")
      },
      """WITH cls AS (
        |  SELECT doc_id, 'added' AS change_type FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 'changed' FROM documents WHERE doc_id % 15 = 0)
        |SELECT change_type, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- JSON-lines sink/source round trip: the interchange format of every
    //    crawl/annotation pipeline. Schema pinned explicitly on read (no
    //    inference pass over the data); strings and longs round-trip
    //    exactly through JSON text ---------------------------------------
    ("q_json_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("json", d)
        t(s, d, "documents").write.mode("overwrite").json(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        s.read.schema(schema).json(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(length(col("text")).cast("long")).as("text_len"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  cast(sum(length(text)) AS BIGINT) AS text_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- CSV sink/source round trip, quote-hardened: the fixture text is
    //    CSV-benign, so a suffix with a comma, an embedded quote, and a
    //    NEWLINE is appended BEFORE the write — the written file exercises
    //    quoting, escaping, and multi-line records. The oracle applies the
    //    same suffix to the ORIGINAL table; equality proves the CSV
    //    write→read cycle is lossless even for adversarial content -------
    ("q_csv_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("csv", d)
        // CSV is positional: pin the column order at the WRITE so the
        // reader's explicit schema (no inference pass) lines up
        t(s, d, "documents")
          .select("doc_id", "lang", "text", "n_chars")
          .withColumn("text", concat(col("text"), lit(", \"q\"\nline2")))
          .write.option("header", true).mode("overwrite").csv(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        s.read.schema(schema).option("header", true).option("multiLine", true)
          .csv(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(length(col("text")).cast("long")).as("text_len"),
            min(col("doc_id")).as("first_id"))
          .orderBy("lang")
      },
      """WITH x AS (SELECT doc_id, lang, n_chars,
        |             text || ', "q"' || chr(10) || 'line2' AS text
        |           FROM documents)
        |SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  cast(sum(length(text)) AS BIGINT) AS text_len,
        |  min(doc_id) AS first_id
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Morton (Z-order) codes under the hash gate: the exact bit
    //    interleave Partitioning.zValue computes, replayed in DuckDB with
    //    the same magic-mask shifts. The layout/skipping effect is measured
    //    in PartitioningSpec; this pins the CODE ITSELF cross-engine -------
    ("q_zorder",
      (s: SparkSession, d: String) => {
        val p = t(s, d, "part").filter(col("p_partkey") < 200)
          .select(col("p_partkey"),
            col("p_size").cast("long").as("xv"),
            pmod(col("p_partkey"), lit(1024L)).as("yv"))
        p.select(col("p_partkey"),
            graft.ops.Partitioning.zValue(col("xv"), col("yv")).cast("long").as("z"))
          .orderBy("p_partkey")
      },
      """WITH b AS (SELECT p_partkey, cast(p_size AS BIGINT) AS xv,
        |             p_partkey % 1024 AS yv
        |           FROM part WHERE p_partkey < 200),
        |s1 AS (SELECT p_partkey, xv & 65535 AS x, yv & 65535 AS y FROM b),
        |s2 AS (SELECT p_partkey, (x | (x << 8)) & 16711935 AS x,
        |              (y | (y << 8)) & 16711935 AS y FROM s1),
        |s3 AS (SELECT p_partkey, (x | (x << 4)) & 252645135 AS x,
        |              (y | (y << 4)) & 252645135 AS y FROM s2),
        |s4 AS (SELECT p_partkey, (x | (x << 2)) & 858993459 AS x,
        |              (y | (y << 2)) & 858993459 AS y FROM s3),
        |s5 AS (SELECT p_partkey, (x | (x << 1)) & 1431655765 AS x,
        |              (y | (y << 1)) & 1431655765 AS y FROM s4)
        |SELECT p_partkey, cast(x | (y << 1) AS BIGINT) AS z FROM s5
        |ORDER BY p_partkey""".stripMargin),

    // -- Hilbert index under the hash gate: the EXACT per-bit-plane fold
    //    graft.functions.HilbertIndex runs (accumulate s²·((3rx) xor ry),
    //    rotate/reflect the quadrant), replayed in DuckDB as sixteen
    //    chained CTEs — one per bit plane, state (x, y, d) as columns, so
    //    the stateful recurrence stays linear instead of exploding by
    //    substitution. Same fixture as q_zorder; the layout/skipping
    //    effect is measured in PartitioningSpec -------------------------
    ("q_hilbert",
      (s: SparkSession, d: String) => {
        val p = t(s, d, "part").filter(col("p_partkey") < 200)
          .select(col("p_partkey"),
            col("p_size").cast("long").as("xv"),
            pmod(col("p_partkey"), lit(1024L)).as("yv"))
        p.select(col("p_partkey"),
            graft.ops.Partitioning.hilbertValue(col("xv"), col("yv")).as("h"))
          .orderBy("p_partkey")
      },
      s"""WITH b AS (SELECT p_partkey, cast(p_size AS BIGINT) AS xv,
         |             p_partkey % 1024 AS yv
         |           FROM part WHERE p_partkey < 200),
         |h0 AS (SELECT p_partkey, xv AS x, yv AS y, cast(0 AS BIGINT) AS d FROM b),
         |${(1 to 16).map(hilbertStepCte).mkString(",\n")}
         |SELECT p_partkey, cast(d AS BIGINT) AS h FROM h16
         |ORDER BY p_partkey""".stripMargin),

    // -- MERGE (upsert) round trip: documents become the store; an update
    //    batch rewrites every doc_id % 5 row (source → 'merged', n_chars
    //    bumped) and inserts brand-new ids (doc_id + 10M from the % 7
    //    slice, source 'fresh'). The oracle replays the upsert
    //    relationally (anti-join + union); equality proves replace-by-key,
    //    insert-on-miss, and the untouched-row retention all at once.
    //    Pruning (untouched lang dirs never rewritten) is asserted in
    //    LayoutSpec ------------------------------------------------------
    ("q_merge_upsert",
      (s: SparkSession, d: String) => {
        val dir = storeDir("merge", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
        val updates = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .withColumn("source", lit("merged"))
          .withColumn("n_chars", col("n_chars") + lit(1000000L))
        val inserts = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
          .withColumn("source", lit("fresh"))
        graft.ops.Layout.merge(updates.unionByName(inserts), dir,
          "lang", Seq("doc_id"), Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            countDistinct(col("doc_id")).as("n_ids"),
            max(col("doc_id")).as("max_id"))
          .orderBy("source")
      },
      """WITH batch AS (
        |  SELECT doc_id, text, lang, 'merged' AS source,
        |         n_chars + 1000000 AS n_chars
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, 'fresh', n_chars
        |  FROM documents WHERE doc_id % 7 = 0),
        |merged AS (
        |  SELECT * FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM batch)
        |  UNION ALL SELECT * FROM batch)
        |SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT doc_id) AS n_ids, max(doc_id) AS max_id
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- snapshot (time-travel) read: three batches appended, the consumer
    //    pins AS OF batch 1 — exactly batches 0..1, regardless of batch 2
    //    existing. The reproducibility contract a trainer needs to re-read
    //    the corpus version it trained on --------------------------------
    ("q_read_asof",
      (s: SparkSession, d: String) => {
        val dir = storeDir("asof_store", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 1), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.appendBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.readAsOf(s, dir, 1L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            max(col("ingest_batch").cast("long")).as("max_batch"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS chars,
        |  cast(max(doc_id % 3) AS BIGINT) AS max_batch
        |FROM documents WHERE doc_id % 3 <= 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- WebDataset tar-shard round trip (graft-tar): the corpus is
    //    packed into 8 USTAR shards (one task per shard, name-sorted
    //    deterministic bytes, fsynced marker commit), read BACK through
    //    the checksum-verifying reader, and aggregated. Oracle reads the
    //    original table — equality proves the tar encode/decode cycle is
    //    byte-lossless through real text. Header golden bytes, GNU-tar
    //    interop (TarSpec) and Python-tarfile-written shards (TarV2Spec)
    //    are the specs' ---------------------------------------------------
    ("q_tar_roundtrip",
      (s: SparkSession, d: String) => {
        val dir = storeDir("tarshards", d)
        deleteRecursively(new java.io.File(dir))
        t(s, d, "documents")
          .select(concat(lit("shard-"), pmod(col("doc_id"), lit(8)),
              lit(".tar")).as("shard_file"),
            concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            lit(null).cast("long").as("size"),
            encode(col("text"), "UTF-8").as("payload"))
          .write.format("graft-tar").mode("overwrite").save(dir)
        s.read.format("graft-tar").load(dir)
          .select(
            regexp_extract(col("name"), "^(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
            decode(col("payload"), "UTF-8").as("text"),
            col("shard_file"))
          .groupBy(pmod(col("doc_id"), lit(8)).as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("doc_id")).as("n_ids"),
            sum(length(col("text")).cast("long")).as("text_chars"),
            min(col("doc_id")).as("first_id"))
          .orderBy("shard")
      },
      """SELECT doc_id % 8 AS shard, count(*) AS n_docs,
        |  count(DISTINCT doc_id) AS n_ids,
        |  cast(sum(length(text)) AS BIGINT) AS text_chars,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- tar shard REBALANCING: a store fragmented into 32 small archives
    //    (the residue of incremental ingest batches) is repacked into
    //    ~16 KiB sequential shards — read back, size-packed in doc_id
    //    order by Export.reshardBySize's two-phase prefix sum (one range
    //    exchange, no global window), rewritten through graft-tar's
    //    marker commit. The gate reads the REPACKED store and checks the
    //    full per-shard layout (membership boundaries, byte sizes, id
    //    ranges) against DuckDB replaying the same greedy packing — so a
    //    dropped doc, a split at the wrong byte, or a payload corruption
    //    all fail the hash. WebDataset stores need exactly this pass:
    //    trainers stream large sequential shards, not 32 KB fragments ----
    ("q_tar_reshard",
      (s: SparkSession, d: String) => {
        val small = storeDir("tarsmall", d)
        val packed = storeDir("tarpacked", d)
        deleteRecursively(new java.io.File(small))
        deleteRecursively(new java.io.File(packed))
        def save(df: DataFrame, dir: String): Unit =
          df.select(concat(lit("shard-"), col("shard"), lit(".tar"))
              .as("shard_file"), col("name"),
            lit(null).cast("long").as("size"), col("payload"))
            .write.format("graft-tar").mode("overwrite").save(dir)
        save(t(s, d, "documents")
          .select(pmod(col("doc_id"), lit(32)).as("shard"),
            concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            encode(col("text"), "UTF-8").as("payload")), small)
        val members = s.read.format("graft-tar").load(small)
          .select(
            regexp_extract(col("name"), "^(\\d+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            col("name"), col("payload"),
            length(col("payload")).cast("long").as("sz"))
        save(graft.ops.Export.reshardBySize(
          members, Seq(col("doc_id").asc), "sz", targetBytes = 16384L), packed)
        s.read.format("graft-tar").load(packed)
          .select(
            regexp_extract(col("shard_file"), "^shard-(\\d+)\\.tar$", 1)
              .cast("long").as("shard"),
            regexp_extract(col("name"), "^(\\d+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            length(col("payload")).cast("long").as("sz"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("doc_id")).as("n_ids"),
            sum(col("sz")).as("bytes"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy("shard")
      },
      """WITH sz AS (SELECT doc_id, octet_length(encode(text)) AS sz
        |            FROM documents),
        |a AS (SELECT doc_id, sz,
        |  coalesce(sum(sz) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fore
        |  FROM sz)
        |SELECT CAST(fore // 16384 AS BIGINT) AS shard, count(*) AS n_docs,
        |  count(DISTINCT doc_id) AS n_ids, CAST(sum(sz) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- parquet-footer manifest (ops/Manifest): row counts and column
    //    min/max decoded from FOOTERS ONLY must agree with the relational
    //    facts computed from the data — the stats a 100 TB store's
    //    row-group skipping lives on, checked against ground truth. The
    //    per-file/per-group granularity (and the disjoint-ranges layout
    //    health check) is ManifestSpec's; this pins the stat decode ----
    ("q_manifest",
      (s: SparkSession, d: String) => {
        def one(tbl: String, key: String) =
          graft.ops.Manifest.manifest(s, s"$d/$tbl.parquet", key)
            .agg(sum(col("n_rows")).as("n_rows"),
              min(col("min_value").cast("long")).as("min_key"),
              max(col("max_value").cast("long")).as("max_key"))
            .withColumn("tbl", lit(tbl))
            .select("tbl", "n_rows", "min_key", "max_key")
        one("documents", "doc_id")
          .unionByName(one("lineitem", "l_orderkey"))
          .unionByName(one("events", "event_id"))
          .orderBy("tbl")
      },
      """SELECT 'documents' AS tbl, count(*) AS n_rows,
        |  min(doc_id) AS min_key, max(doc_id) AS max_key FROM documents
        |UNION ALL SELECT 'events', count(*), min(event_id), max(event_id)
        |FROM events
        |UNION ALL SELECT 'lineitem', count(*), min(l_orderkey), max(l_orderkey)
        |FROM lineitem
        |ORDER BY tbl""".stripMargin),

    // -- parquet-footer NULL COUNTS (the Manifest column vacuumRetention's
    //    never-delete-NULLs classification rides on) against relational
    //    ground truth: footer-decoded null totals must equal
    //    count(*) − count(col) — one table with real NULLs (events.value)
    //    and one without (lineitem.l_quantity), so both the zero and the
    //    non-zero decode paths are hash-graded --------------------------
    ("q_manifest_nulls",
      (s: SparkSession, d: String) => {
        def one(tbl: String, c: String) =
          graft.ops.Manifest.manifest(s, s"$d/$tbl.parquet", c)
            .agg(sum(col("n_rows")).as("n_rows"),
              sum(col("n_nulls")).as("n_nulls"))
            .withColumn("tbl", lit(tbl))
            .select("tbl", "n_rows", "n_nulls")
        one("events", "value")
          .unionByName(one("lineitem", "l_quantity"))
          .orderBy("tbl")
      },
      """SELECT 'events' AS tbl, count(*) AS n_rows,
        |  count(*) - count(value) AS n_nulls FROM events
        |UNION ALL SELECT 'lineitem', count(*),
        |  count(*) - count(l_quantity) FROM lineitem
        |ORDER BY tbl""".stripMargin),

    // -- incrementally-maintained rollup: the store grows in three
    //    batches, the per-lang summary is refreshed after EACH batch
    //    (three folds, each reading only the new batch + the tiny rollup),
    //    and the final rollup must equal the direct full-corpus aggregate.
    //    Exactly-once fold semantics (version-in-commit) are crash-tested
    //    in CrashSpec ----------------------------------------------------
    ("q_rollup_incremental",
      (s: SparkSession, d: String) => {
        val store = storeDir("rollup_store", d)
        val roll = storeDir("rollup_view", d)
        val docs = t(s, d, "documents")
        deleteRecursively(new java.io.File(store))
        deleteRecursively(new java.io.File(roll))
        for (i <- 0 to 2) {
          graft.ops.Layout.appendBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === i),
            store, "lang", Seq("doc_id"))
          graft.ops.Rollup.maintain(s, store, roll,
            Seq("lang"), Seq("n_chars", "doc_id"))
        }
        graft.ops.Rollup.read(s, roll)
          .select(col("lang"), col("n_rows"),
            col("sum_n_chars").as("chars"),
            col("min_doc_id").as("first_id"),
            col("max_doc_id").as("last_id"),
            lit(graft.ops.Rollup.version(roll)).as("rollup_version"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_rows, cast(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id,
        |  cast(2 AS BIGINT) AS rollup_version
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- graft-tar DataSourceV2, BOTH directions: shards written through
    //    the connector's v2 WRITE (whose RequiresDistributionAndOrdering
    //    makes Catalyst insert the cluster-by-shard exchange + sort; the
    //    staged-rename commit protocol lands the export atomically), read
    //    back through the v2 READ with a pushed shard_file IN filter —
    //    only 2 of 8 shard files are ever opened (structural assert in
    //    TarV2Spec; here the pruned read's DATA lands under the gate).
    //    Payloads decode back to the exact source text -------------------
    ("q_tar_dsv2",
      (s: SparkSession, d: String) => {
        val dir = storeDir("tarv2", d)
        deleteRecursively(new java.io.File(dir))
        t(s, d, "documents")
          .select(concat(lit("shard-"), pmod(col("doc_id"), lit(8)),
              lit(".tar")).as("shard_file"),
            concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            length(encode(col("text"), "UTF-8")).cast("long").as("size"),
            encode(col("text"), "UTF-8").as("payload"))
          .write.format("graft-tar").mode("overwrite").save(dir)
        s.read.format("graft-tar").load(dir)
          .filter(col("shard_file").isin("shard-0.tar", "shard-3.tar"))
          .select(col("shard_file"),
            regexp_extract(col("name"), "^(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
            decode(col("payload"), "UTF-8").as("text"))
          .groupBy("shard_file")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("text_chars"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy("shard_file")
      },
      """SELECT 'shard-' || (doc_id % 8) || '.tar' AS shard_file,
        |  count(*) AS n_docs,
        |  cast(sum(length(text)) AS BIGINT) AS text_chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM documents WHERE doc_id % 8 IN (0, 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- graft-tar DataSourceV2, metadata-only path: the projection is
    //    (shard_file, name, size) — payload is PRUNED, so the reader
    //    skips every payload's bytes (headers only; asserted in
    //    TarV2Spec). size comes from tar headers alone and must equal
    //    the source text's UTF-8 byte length — the manifest-scan shape
    //    over a 100 TB shard store ---------------------------------------
    ("q_tar_dsv2_meta",
      (s: SparkSession, d: String) => {
        val dir = storeDir("tarv2m", d)
        deleteRecursively(new java.io.File(dir))
        // null size: the writer derives it from the payload (contract:
        // size must equal octet_length(payload) or be null)
        t(s, d, "documents")
          .select(concat(lit("shard-"), pmod(col("doc_id"), lit(8)),
              lit(".tar")).as("shard_file"),
            concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            lit(null).cast("long").as("size"),
            encode(col("text"), "UTF-8").as("payload"))
          .write.format("graft-tar").mode("overwrite").save(dir)
        s.read.format("graft-tar").load(dir)
          .select("shard_file", "name", "size")
          .groupBy("shard_file")
          .agg(count(lit(1)).as("n_entries"),
            sum(col("size")).as("payload_bytes"),
            min(col("name")).as("first_name"))
          .orderBy("shard_file")
      },
      """SELECT 'shard-' || (doc_id % 8) || '.tar' AS shard_file,
        |  count(*) AS n_entries,
        |  cast(sum(strlen(text)) AS BIGINT) AS payload_bytes,
        |  min(doc_id || '.txt') AS first_name
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- co-located bucketed join: both sides written bucketed on the join
    //    key (8 buckets, sorted), so the fact-fact equi-join runs WITHOUT
    //    an Exchange on either side (structural assert in
    //    PartitioningSpec; the prompt's "repartition/bucketing for
    //    co-located joins" knob). At 100 TB this is the difference
    //    between shuffling the fact table per join and a local merge —
    //    the layout is paid once at write time, every join reuses it.
    //    Equality against DuckDB's plain join over the ORIGINAL parquet
    //    proves the bucketed write+read is lossless ----------------------
    ("q_bucketed_join",
      (s: SparkSession, d: String) => {
        val key = new java.io.File(storeDir("bkt", d)).getName
        val (liT, oT) = (s"graft_li_b_$key", s"graft_o_b_$key")
        // the two bucketed saves are independent tables — overlap them
        // from a 2-thread pool (guide §2.6, the Layout.forEachRewrite
        // discipline: the second save's tasks back-fill executors the
        // first's tail no longer saturates). Optimization round 16.
        locally {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val fLi = Future(graft.ops.Partitioning.saveBucketed(
            t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
            liT, "l_orderkey", 8, Seq("l_orderkey"),
            path = Some(storeDir("bkt_li", d))))
          val fO = Future(graft.ops.Partitioning.saveBucketed(
            t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
            oT, "o_orderkey", 8, Seq("o_orderkey"),
            path = Some(storeDir("bkt_o", d))))
          Await.result(fLi, Duration.Inf)
          Await.result(fO, Duration.Inf)
        }
        s.table(liT)
          .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("l_extendedprice"))).as("revenue_cents"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- zonemap file pruning (Manifest.pruneFiles): events land as a
    //    sorted 16-file layout on user_id; a mid-range predicate then
    //    reads ONLY the files whose footer [min, max] intersects it
    //    (survivor count asserted in ManifestSpec — here the pruned
    //    read's DATA is under the gate; the residual filter keeps
    //    correctness independent of how coarsely files prune). The scan
    //    stack a 100 TB store needs: metadata chooses files, row-group
    //    stats prune inside them, the filter does the rest --------------
    ("q_manifest_prune",
      (s: SparkSession, d: String) => {
        val dir = storeDir("mprune", d)
        deleteRecursively(new java.io.File(dir))
        val ev = t(s, d, "events")
          .select("event_id", "user_id", "event_type")
        graft.ops.Partitioning.sortedLayout(ev, Seq("user_id"), 16)
          .write.parquet(dir)
        val mx = ev.agg(max(col("user_id"))).head().getLong(0)
        val (lo, hi) = (mx * 2 / 10, mx * 4 / 10)
        val files = graft.ops.Manifest.pruneFiles(s, dir, "user_id",
          BigDecimal(lo), BigDecimal(hi))
        s.read.parquet(files: _*)
          .filter(col("user_id").between(lo, hi))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("event_id")).as("id_sum"))
          .orderBy("event_type")
      },
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  cast(sum(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE user_id BETWEEN (SELECT max(user_id) * 2 // 10 FROM events)
        |                  AND (SELECT max(user_id) * 4 // 10 FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- PARTITION EVOLUTION under the hash gate: documents laid out by
    //    source, evolved onto lang=XX/ directories (one job per source
    //    dir, original store live until the one commit), then read back PRUNED on the new key with the old
    //    key surviving as a data column. Equality against the original
    //    table proves the re-key was lossless; crash/resume is spec'd
    //    structurally in LayoutSpec --------------------------------------
    ("q_partition_evolve",
      (s: SparkSession, d: String) => {
        val dir = storeDir("evolve", d)
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          t(s, d, "documents"), dir, "source", Seq("doc_id"))
        graft.ops.Layout.evolvePartitions(s, dir, "source", "lang",
          Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .filter(col("lang").isin("en", "de"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy("lang", "source")
      },
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- TTL RETENTION VACUUM under the hash gate: events laid out by
    //    day, rows older than the mid-span cutoff vacuumed — expired day
    //    dirs deleted from FOOTERS ONLY, live dirs untouched, the one
    //    boundary dir rewritten, all in one commit. The read-back
    //    must equal the oracle's WHERE ms >= cutoff over the original
    //    table: any over-deletion (a live row lost) or under-deletion
    //    (an expired row kept) breaks the hash ---------------------------
    ("q_retention_vacuum",
      (s: SparkSession, d: String) => {
        val dir = storeDir("vacuum", d)
        deleteRecursively(new java.io.File(dir))
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000000").as("ms"), col("value"))
          .withColumn("day", expr("ms div 86400000"))
        graft.ops.Layout.writePartitioned(ev, dir, "day", Seq("event_id"))
        val b = ev.agg(min(col("ms")), max(col("ms"))).head()
        val cutoff = (b.getLong(0) + b.getLong(1)) / 2
        graft.ops.Layout.vacuumRetention(s, dir, "ms", cutoff,
          Seq("event_id"))
        graft.ops.Layout.read(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(cents(col("value"))).as("val_cents"),
            min(col("ms")).as("first_ms"),
            max(col("ms")).as("last_ms"))
          .orderBy("event_type")
      },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ms(ts) AS ms, value FROM events),
        |b AS (SELECT (min(ms) + max(ms)) // 2 AS cutoff FROM e)
        |SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS val_cents,
        |  min(ms) AS first_ms, max(ms) AS last_ms
        |FROM e, b WHERE e.ms >= b.cutoff
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- SCHEMA EVOLUTION with backfill under the hash gate: documents
    //    laid out by lang, a derived n_words column backfilled one
    //    directory per job (already-evolved dirs skip, one commit for
    //    all), then the EVOLVED store
    //    aggregated on the new column. The oracle computes the same
    //    expression from the original table: any directory missed,
    //    double-written, or torn mid-commit breaks the hash --------------
    ("q_schema_evolve",
      (s: SparkSession, d: String) => {
        val dir = storeDir("schemev", d)
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          t(s, d, "documents"), dir, "lang", Seq("doc_id"))
        graft.ops.Layout.addColumn(s, dir, "n_words",
          "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)",
          Seq("doc_id"))
        graft.ops.Layout.read(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("words"),
            max(col("n_words")).as("max_words"),
            sum(col("n_chars")).as("chars"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT))
        |    AS BIGINT) AS words,
        |  CAST(max(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT))
        |    AS BIGINT) AS max_words,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- BUDGETED compaction under the hash gate: every source dir
    //    fragmented (two appends), then compacted 3 directories per pass
    //    (the nightly-maintenance-window form of compactPartitions) until
    //    clean. Gated: the pass count must equal ceil(n_dirs / 3) (any
    //    pass doing less than its budget or failing to converge shifts
    //    it), final store one file per dir, data lossless ----------------
    ("q_compact_budget",
      (s: SparkSession, d: String) => {
        val dir = storeDir("budget", d)
        deleteRecursively(new java.io.File(dir))
        val docs = t(s, d, "documents")
        // half-blocks of 40 hit every source twice (source cycles with
        // doc_id % 20, so parity/mod-4 splits would touch disjoint dirs)
        graft.ops.Layout.writePartitioned(
          docs.filter(pmod(col("doc_id"), lit(40)) < 20),
          dir, "source", Seq("doc_id"))
        graft.ops.Layout.append(
          docs.filter(pmod(col("doc_id"), lit(40)) >= 20),
          dir, "source", Seq("doc_id"))
        var passes = 0
        var doneDirs = Seq.empty[String]
        var go = true
        while (go) {
          val n = graft.ops.Layout.compactPartitions(s, dir, Seq("doc_id"),
            maxFiles = 1, maxDirs = 3)
          if (n.isEmpty) go = false
          else { passes += 1; doneDirs ++= n }
        }
        val maxFiles = graft.ops.Layout.filesPerPartition(dir).values.max
        graft.ops.Layout.read(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"))
          .withColumn("n_passes", lit(passes.toLong))
          .withColumn("max_files", lit(maxFiles))
          .orderBy("source")
      },
      """WITH np AS (SELECT (count(DISTINCT source) + 2) // 3 AS n_passes
        |            FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id,
        |  n_passes, CAST(1 AS INTEGER) AS max_files
        |FROM documents CROSS JOIN np
        |GROUP BY source, n_passes ORDER BY source""".stripMargin),

    // -- ONE-PASS EVOLVE+COMPACT under the hash gate: the same re-key as
    //    q_partition_evolve but via Layout.evolveCompact — one read, one
    //    shuffle, one write, and exactly ONE sorted file per target dir.
    //    max_files (computed from the on-disk store) is gated at literal 1:
    //    any fragmentation regression breaks the hash alongside any data
    //    loss. Crash recovery is the store's one PointerStore.recover -----
    ("q_evolve_compact",
      (s: SparkSession, d: String) => {
        val dir = storeDir("evocomp", d)
        deleteRecursively(new java.io.File(dir))
        graft.ops.Layout.writePartitioned(
          t(s, d, "documents"), dir, "source", Seq("doc_id"))
        graft.ops.Layout.evolveCompact(s, dir, "source", "lang",
          Seq("doc_id"))
        val maxFiles = graft.ops.Layout.filesPerPartition(dir)
          .values.max
        graft.ops.Layout.read(s, dir)
          .filter(col("lang").isin("en", "de"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .withColumn("max_files", lit(maxFiles))
          .orderBy("lang", "source")
      },
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id,
        |  CAST(1 AS INTEGER) AS max_files
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** One bit-plane step of the Hilbert fold for the q_hilbert oracle:
    * step `i` handles s = 2^(16-i). The d increment and the
    * rotate/reflect both read the PREVIOUS step's (x, y) — SQL's
    * all-from-one-row SELECT gives exactly the simultaneous-assignment
    * semantics HilbertIndex.compute sequences with a temp variable.
    * s² × 3 exceeds int32 at the top plane, hence the BIGINT cast.
    */
  private def hilbertStepCte(i: Int): String = {
    val s = 1L << (16 - i)
    s"""h$i AS (
       |  SELECT p_partkey,
       |    d + cast(${s * s} AS BIGINT) *
       |      xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
       |          (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
       |    CASE WHEN (y & $s) = 0 THEN
       |      (CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END)
       |    ELSE x END AS x,
       |    CASE WHEN (y & $s) = 0 THEN
       |      (CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END)
       |    ELSE y END AS y
       |  FROM h${i - 1})""".stripMargin
  }
}
