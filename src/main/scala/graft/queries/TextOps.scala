package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Q._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline layer (beyond the reference's surface).
  *
  * Everything is built from codegen'd catalyst expressions (no UDFs): token
  * arrays via regexp_extract_all, shingles via sequence/slice/array_join,
  * MinHash via md5 (identical in DuckDB, so signatures are oracle-checkable).
  *
  * Scale design: all dedup queries avoid O(n²) pairwise comparison — exact
  * dedup is a hash groupBy; n-gram Jaccard uses an inverted shingle index
  * (pairs only materialize for docs sharing a shingle); MinHash-LSH banding
  * reduces candidate generation to an equi-join on (band, hash). At 100 TB
  * add a document-frequency cap on shingles (drop shingles appearing in >X%
  * of docs) to bound the inverted-index join fan-out.
  */
object TextOps {

  type Fn = (SparkSession, String) => DataFrame

  /** Whitespace-delimited tokens. */
  private def toks(c: Column): Column = regexp_extract_all(c, lit("\\S+"), lit(0))

  private val stopList = Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  /** (doc_id, distinct shingles) — computed once per (session, dir) and
    * persisted, because the dedup self-joins reference it from several plan
    * branches and Spark has no cross-branch common-subexpression reuse: an
    * unpersisted plan re-tokenizes the corpus once per branch.
    */
  private val shingleCache = TrieMap.empty[String, DataFrame]
  private[graft] def shingleDf(s: SparkSession, d: String): DataFrame =
    shingleCache.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      // `w` is materialized as a real column BEFORE shingling: inlining the
      // regexp tokenizer into the transform lambda would re-tokenize the
      // document once per shingle (O(tokens²) per doc).
      // Native one-pass shingle expression (graft.functions.WordShingles),
      // value-equal to the composable HOF form (ShingleExprSpec) but ~7x
      // faster — interpreted HOFs re-materialize arrays per shingle.
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.ShingleExpr.wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    })

  /** (doc_id, s0..s15) MinHash signatures — 5000×17 strings at sf0.1, so the
    * persisted form is a few MB; caching it keeps the band self-join's two
    * branches from re-running the 16 md5 min-hash transforms.
    */
  private val sigCache = TrieMap.empty[String, DataFrame]
  private[graft] def sigDf(s: SparkSession, d: String): DataFrame =
    sigCache.getOrElseUpdate(s"${System.identityHashCode(s)}|$d", {
      // one nested HOF instead of 16 unrolled projections: generates a loop,
      // keeping the wholestage-codegen method small (fast to janino-compile)
      val sigs = transform(sequence(lit(0), lit(15)),
        i => array_min(transform(col("sh"),
          x => md5(concat(i.cast("string"), lit("|"), x)))))
      shingleDf(s, d).select(col("doc_id"), sigs.as("sg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    })

  /** (a, b) near-dup pairs at n-gram jaccard >= 0.5 — the pair graph both
    * cluster queries (q_dedup_components closes it, q_dedup_apply filters
    * by it) consume; computed once per (session, dir) and persisted like
    * the other shared dedup frames. Inverted shingle index → co-occurrence
    * counts → jaccard filter, ids only.
    */
  private val pairCache = TrieMap.empty[String, DataFrame]
  private[graft] def pairDf(s: SparkSession, d: String): DataFrame =
    pairCache.getOrElseUpdate(s"${System.identityHashCode(s)}|$d",
      graft.ops.Dedup.jaccardPairsFromShingles(shingleDf(s, d), "doc_id",
          threshold = 0.5)
        .select("a", "b")
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** Query names that read [[shingleDf]]/[[sigDf]] — Bench/Verify schedule
    * these consecutively and call [[clearCaches]] after the last one, so the
    * persisted frames don't occupy executor memory for the rest of an
    * 80+-query session (the round-3 bench showed exactly that pressure as
    * broad ~0.5 s slowdowns on unrelated queries).
    */
  val cacheConsumers: Set[String] =
    Set("q_dedup_ngram", "q_dedup_minhash", "q_dedup_verified",
      "q_dedup_components", "q_cc_incremental", "q_dedup_apply",
      "q_dedup_e2e", "q_dedup_cc_minhash", "q_index_probe",
      "q_index_incremental")

  /** [[graft.streaming.Scratch]] store name of the persisted band indexes
    * of q_index_probe and q_index_incremental.
    */
  private val BandIdx = "bandidx"

  /** Unpersist + drop every cached helper frame (idempotent), and sweep
    * the band-index dirs out of THIS JVM's scratch root — the persisted
    * twin of the in-memory frames this hook already releases. Other
    * stores, and other graft JVMs' indexes, are untouched.
    */
  def clearCaches(): Unit = {
    sigCache.values.foreach(df => try df.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
    sigCache.clear()
    shingleCache.values.foreach(df => try df.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
    shingleCache.clear()
    pairCache.values.foreach(df => try df.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
    pairCache.clear()
    try graft.streaming.Scratch.clear(BandIdx)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** SQL fragment shared by the DuckDB oracles: doc_id + distinct 3-gram shingles. */
  private[queries] val shingleCte: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS sh
      |      FROM t WHERE len(w) >= 3)""".stripMargin

  /** The (doc_id, j, bh) md5 band projection of [[sigDf]]'s 16 min-hashes,
    * `nBands` bands × `rows` rows — ONE derivation shared by
    * q_dedup_minhash (4×4), q_dedup_cc_minhash (8×2), q_index_probe (4×4)
    * and MoreOps3.verifiedPairs, so the banding recipe cannot silently
    * desynchronize between queries (or from the SQL twin [[bandsCte]]).
    */
  private[queries] def md5BandsDf(s: SparkSession, d: String,
      nBands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until nBands).map { j =>
      struct(lit(j).as("j"),
        md5(concat_ws("|",
          (0 until rows).map(r => element_at(col("sg"), rows * j + r + 1)): _*)).as("bh"))
    }
    sigDf(s, d).select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.j").as("j"), col("b.bh").as("bh"))
  }

  /** SQL twins of [[md5BandsDf]]: the sig CTE (16 md5 min-hashes over the
    * shingle CTE) and the bands CTE at (nBands × rows).
    */
  private[queries] val sigCte: String =
    """sig AS (
      |  SELECT doc_id,
      |    [list_min([md5(cast(i AS VARCHAR) || '|' || g) for g in sh]) for i in range(0, 16)] AS sg
      |  FROM s WHERE len(sh) > 0)""".stripMargin

  private[queries] def bandsCte(nBands: Int, rows: Int): String = {
    val expr = (1 to rows).map(r => s"sg[$rows*j+$r]").mkString(" || '|' || ")
    val js = (0 until nBands).mkString(", ")
    s"""bands AS (
       |  SELECT doc_id, j, md5($expr) AS bh
       |  FROM sig, unnest([$js]) AS u(j))""".stripMargin
  }

  /** q_rake_phrases stopword list — one literal shared by the Spark call
    * and (interpolated) the DuckDB oracle so they can never drift.
    */
  private val RakeStop: Seq[String] = Seq(
    "the", "of", "and", "a", "an", "in", "to", "is", "are", "was", "were",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
    "or", "from", "not", "but", "have", "has", "had", "they", "we", "you",
    "their", "its", "i")

  val entries: Seq[(String, Fn, String)] = Seq(

    // -- token counting + per-language stats ------------------------------
    ("q_text_stats",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"), col("n_chars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
            davg(col("n_chars")).as("avg_chars"))
          .orderBy("lang"),
      "SELECT lang, count(*) AS n_docs, cast(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS tok_sum, " +
        s"${sqlDavg("n_chars")} AS avg_chars FROM documents GROUP BY 1 ORDER BY 1"),

    // -- quality scoring: alpha ratio, token stats, composite score -------
    ("q_text_quality",
      (s: SparkSession, d: String) => {
        val w = col("w")
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double")
        val tlen = length(col("text")).cast("double")
        val ntok = size(w).cast("double")
        val stops = size(filter(w, x => x.isin(stopList.map(_.asInstanceOf[Any]): _*))).cast("double")
        t(s, d, "documents").filter(col("doc_id") < 100)
          .withColumn("w", toks(col("text")))
          .select(
            col("doc_id"),
            round(alpha / tlen, 4).as("alpha_ratio"),
            ntok.cast("long").as("n_tok"),
            round(tlen / ntok, 4).as("avg_tok_len"),
            round(stops / ntok, 4).as("stop_ratio"),
            round(lit(0.5) * (alpha / tlen) + lit(0.3) * least(tlen / 500.0, lit(1.0)) +
              lit(0.2) * (stops / ntok), 4).as("quality"))
          .orderBy("doc_id")
      },
      s"""WITH q AS (
         |  SELECT doc_id,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 AS alpha,
         |    length(text) * 1.0 AS tlen,
         |    len(regexp_extract_all(text, '\\S+')) * 1.0 AS ntok,
         |    len(list_filter(regexp_extract_all(text, '\\S+'),
         |        x -> x IN (${stopList.map(w => s"'$w'").mkString(",")}))) * 1.0 AS stops
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id, round(alpha / tlen, 4) AS alpha_ratio, cast(ntok AS BIGINT) AS n_tok,
         |  round(tlen / ntok, 4) AS avg_tok_len, round(stops / ntok, 4) AS stop_ratio,
         |  round(0.5 * (alpha / tlen) + 0.3 * least(tlen / 500.0, 1.0) + 0.2 * (stops / ntok), 4) AS quality
         |FROM q ORDER BY doc_id""".stripMargin),

    // -- language-ID heuristic (stopword-ratio n-gram-free variant) vs the
    //    labeled lang column: confusion counts ----------------------------
    ("q_lang_id",
      (s: SparkSession, d: String) => {
        // Explode to one row per token so the stopword membership test is a
        // codegen'd In() over a flat column — the HOF alternative
        // (filter(w, _.isin(...))) evaluates the lambda interpreted per
        // element and was the suite's slowest plan. Per-doc agg is one
        // shuffle on doc_id with map-side partial combine; explode_outer +
        // count(x) keeps zero-token docs (n_tok=0 -> NaN ratio -> 'en',
        // matching the pre-explode semantics on both engines).
        val tok = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode_outer(toks(col("text"))).as("x"))
        val per = tok.groupBy("doc_id", "lang")
          .agg(count(col("x")).as("n_tok"),
            sum(when(col("x").isin(stopList.map(_.asInstanceOf[Any]): _*), 1L)
              .otherwise(0L)).as("n_stop"))
        val ratio = col("n_stop").cast("double") / col("n_tok").cast("double")
        per
          .select(col("lang"), when(ratio >= 0.03, "en").otherwise("other").as("predicted"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "predicted")
      },
      s"""SELECT lang,
         |  CASE WHEN len(list_filter(regexp_extract_all(text, '\\S+'),
         |         x -> x IN (${stopList.map(w => s"'$w'").mkString(",")}))) * 1.0
         |       / len(regexp_extract_all(text, '\\S+')) >= 0.03
         |       THEN 'en' ELSE 'other' END AS predicted,
         |  count(*) AS cnt
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- document fingerprinting (md5 content hash; rolling-hash variant in
    //    graft.functions with ScalaTest coverage) --------------------------
    ("q_fingerprint",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .orderBy("doc_id"),
      "SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id < 100 ORDER BY doc_id"),

    // -- characteristic terms per source via tf-idf (rational idf
    //    n_docs/df instead of a log — tf·n_docs/df is two exact integer
    //    products and one IEEE division, so both engines agree bitwise).
    //    Shapes: doc-frequency agg (shuffle on word), term-frequency agg
    //    (shuffle on source,word), 1-row corpus count broadcast, per-source
    //    top-5 as a WindowGroupLimit bounded heap — never a global sort ----
    ("q_tfidf_terms",
      (s: SparkSession, d: String) => {
        val tok = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
        val dfw = tok.select("doc_id", "word").distinct()
          .groupBy("word").agg(count(lit(1)).as("df"))
        val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val tf = tok.groupBy("source", "word").agg(count(lit(1)).as("tf"))
        val scored = tf.join(broadcast(dfw), "word").crossJoin(broadcast(n))
          .withColumn("score",
            round(col("tf").cast("double") * col("n_docs") / col("df"), 4))
        val w = Window.partitionBy("source")
          .orderBy(desc("score"), asc("word"))
        scored
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select("source", "rk", "word", "tf", "df", "score")
          .orderBy("source", "rk")
      },
      """WITH tok AS (SELECT doc_id, source, unnest(regexp_extract_all(text, '\S+')) AS word
        |             FROM documents),
        |dfw AS (SELECT word, cast(count(*) AS BIGINT) AS df
        |        FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY 1),
        |n AS (SELECT cast(count(*) AS BIGINT) AS n_docs FROM documents),
        |tf AS (SELECT source, word, cast(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |scored AS (
        |  SELECT source, word, tf, df,
        |    round(cast(tf AS DOUBLE) * n_docs / df, 4) AS score
        |  FROM tf JOIN dfw USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT source, word, tf, df, score,
        |    cast(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, word) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT source, rk, word, tf, df, score FROM ranked
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin),

    // -- PMI collocations: top-20 adjacent-word pairs by pointwise mutual
    //    information, PMI = ln(c_ab·N₁²/(N₂·c_a·c_b)) on exact BIGINT
    //    numerator/denominator (one IEEE division + the house dec6-rounded
    //    ln), min support 5. Counts are three hash aggregations — unigram,
    //    bigram, totals — all vocab-bounded after the map-side combine, so
    //    nothing corpus-sized shuffles; the unigram joins hang off the
    //    vocab-sized count table, never the token stream. The bigram
    //    generator guards size(w) > 1: Spark's sequence(1, 0) DESCENDS
    //    ([1, 0]) where DuckDB's range(1, 1) is empty -----------------------
    // -- RAKE keyword phrases (Rose et al. 2010), corpus-level: maximal
    //    stopword-free token runs (<= 4 words) scored by the classic
    //    degree/frequency word ratio — carried as INTEGER ppm via
    //    truncating div (rational-score discipline), phrase score = sum of
    //    word ppm, top-20 distinct phrases with phrase-string tie-break.
    //    The oracle replays the same stopword-split gaps-and-islands -------
    ("q_rake_phrases",
      (s: SparkSession, d: String) =>
        graft.ops.Ranking.rakePhrases(t(s, d, "documents"), "doc_id",
          "text", stopwords = RakeStop, maxLen = 4, topK = 20),
      s"""WITH t AS (SELECT doc_id,
         |       regexp_extract_all(lower(text), '[a-z]+') AS w
         |     FROM documents),
         |g AS (SELECT doc_id, p, w[p] AS word
         |      FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS p FROM t)),
         |m AS (SELECT doc_id, p, word,
         |        CASE WHEN word IN (${RakeStop.map(s0 => s"'$s0'").mkString(", ")})
         |        THEN 1 ELSE 0 END AS st
         |      FROM g),
         |s AS (SELECT doc_id, p, word, st,
         |        sum(st) OVER (PARTITION BY doc_id ORDER BY p
         |          ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM m),
         |c AS (SELECT doc_id, sid, p, word FROM s WHERE st = 0),
         |pl AS (SELECT doc_id, sid, CAST(count(*) AS BIGINT) AS plen
         |       FROM c GROUP BY 1, 2),
         |cc AS (SELECT c.doc_id, c.sid, c.p, c.word, pl.plen
         |       FROM c JOIN pl USING (doc_id, sid) WHERE pl.plen <= 4),
         |ws AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |         CAST(sum(plen) AS BIGINT) AS deg
         |       FROM cc GROUP BY 1),
         |wp AS (SELECT word, (deg * 1000000) // freq AS wppm FROM ws),
         |pi AS (SELECT cc.doc_id, cc.sid,
         |         string_agg(cc.word, ' ' ORDER BY cc.p) AS phrase,
         |         CAST(sum(wp.wppm) AS BIGINT) AS score_ppm
         |       FROM cc JOIN wp USING (word) GROUP BY 1, 2),
         |ag AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n,
         |         CAST(max(score_ppm) AS BIGINT) AS score_ppm
         |       FROM pi GROUP BY 1)
         |SELECT phrase, n, score_ppm FROM ag
         |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin),

    ("q_collocations",
      (s: SparkSession, d: String) => {
        val tok = t(s, d, "documents")
          .select(expr("regexp_extract_all(text, '\\\\S+', 0)").as("w"))
        val uc = tok.select(explode(col("w")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val n1 = uc.agg(sum(col("c")).cast("long").as("n_uni"))
        val bg = tok.filter(size(col("w")) > 1)
          .select(explode(expr("transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
            .as("bigram"))
        val nb = bg.agg(count(lit(1)).as("n_big"))
        bg.groupBy("bigram").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
          .join(uc.select(col("t").as("__ta"), col("c").as("__ca")),
            expr("split_part(bigram, ' ', 1)") === col("__ta"))
          .join(uc.select(col("t").as("__tb"), col("c").as("__cb")),
            expr("split_part(bigram, ' ', 2)") === col("__tb"))
          .crossJoin(broadcast(n1)).crossJoin(broadcast(nb))
          // promote to DOUBLE BEFORE multiplying: the long products
          // (n_big·c_a·c_b especially) overflow int64 on ~1e8-token
          // corpora — Spark would wrap silently where DuckDB raises.
          // IEEE double products round identically in both engines
          // (left-assoc, same op order), and the ln is dec6-rounded on
          // top as usual
          .withColumn("pmi", expr("cast(round(ln(" +
            "(cast(n_ab as double) * cast(n_uni as double) * cast(n_uni as double)) / " +
            "(cast(n_big as double) * cast(__ca as double) * cast(__cb as double))), 6) as double)"))
          .select("bigram", "n_ab", "pmi")
          .orderBy(desc("pmi"), col("bigram")).limit(20)
      },
      """WITH tok AS (SELECT regexp_extract_all(text, '\S+') AS w
        |             FROM documents),
        |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT unnest(w) AS t FROM tok) GROUP BY 1),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
        |bg AS (SELECT unnest([w[i] || ' ' || w[i+1]
        |                     for i in range(1, len(w))]) AS bigram FROM tok),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bg),
        |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bg GROUP BY 1 HAVING count(*) >= 5)
        |SELECT bigram, n_ab,
        |  CAST(round(ln(
        |    (CAST(n_ab AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) /
        |    (CAST(n_big AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6)
        |    AS DOUBLE) AS pmi
        |FROM bc CROSS JOIN n1 CROSS JOIN nb
        |JOIN uc ua ON ua.t = split_part(bc.bigram, ' ', 1)
        |JOIN uc ub ON ub.t = split_part(bc.bigram, ' ', 2)
        |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),

    // -- intra-document repetition filter (the Gopher/RefinedWeb "rep"
    //    rule): fraction of duplicated word 3-grams per doc; docs above the
    //    threshold get flagged for removal. Map-only per doc (the shingle
    //    expression is a fused scan), exact integer arithmetic + one IEEE
    //    division — deterministic across engines ---------------------------
    ("q_rep_ngrams",
      (s: SparkSession, d: String) => {
        val words = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), words.as("n_words"),
            size(graft.functions.ShingleExpr.wordShingles(col("text"), 3))
              .cast("long").as("distinct_3grams"))
          .filter(col("n_words") >= 3)
          .withColumn("total_3grams", col("n_words") - 2)
          .withColumn("rep_frac", round(
            (col("total_3grams") - col("distinct_3grams")).cast("double") /
              col("total_3grams"), 4))
          .withColumn("flagged",
            (col("total_3grams") - col("distinct_3grams")).cast("double") /
              col("total_3grams") > 0.2)
          .select("doc_id", "total_3grams", "distinct_3grams", "rep_frac", "flagged")
          .orderBy("doc_id")
      },
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
        |d AS (SELECT doc_id, cast(len(w) - 2 AS BIGINT) AS total_3grams,
        |        cast(len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                for i in range(1, len(w) - 1)])) AS BIGINT)
        |          AS distinct_3grams
        |      FROM t WHERE len(w) >= 3)
        |SELECT doc_id, total_3grams, distinct_3grams,
        |  round(cast(total_3grams - distinct_3grams AS DOUBLE) / total_3grams, 4)
        |    AS rep_frac,
        |  cast(total_3grams - distinct_3grams AS DOUBLE) / total_3grams > 0.2
        |    AS flagged
        |FROM d ORDER BY doc_id""".stripMargin),

    // -- corpus-frequency quality score: per doc, the average corpus-wide
    //    occurrence count of its tokens — a unigram-LM commonness proxy
    //    with exact integer arithmetic (no log floats to drift). Shape at
    //    scale: one shuffle to build the vocabulary counts, which then
    //    BROADCAST back against the exploded corpus (vocabularies are
    //    ~millions of rows when corpora are billions) ----------------------
    ("q_word_freq_score",
      (s: SparkSession, d: String) => {
        val tok = t(s, d, "documents")
          .select(col("doc_id"),
            explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("word"))
        val vocab = tok.groupBy("word").agg(count(lit(1)).as("wc"))
        tok.join(broadcast(vocab), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            round(sum(col("wc")).cast("double") / count(lit(1)), 4)
              .as("avg_word_freq"))
          .filter(col("doc_id") < 100)
          .orderBy("doc_id")
      },
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word
        |             FROM documents),
        |v AS (SELECT word, cast(count(*) AS BIGINT) AS wc FROM tok GROUP BY 1)
        |SELECT doc_id, cast(count(*) AS BIGINT) AS n_words,
        |  round(cast(sum(wc) AS DOUBLE) / count(*), 4) AS avg_word_freq
        |FROM tok JOIN v USING (word)
        |WHERE doc_id < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- winnowing containment pairs (MOSS, Schleimer et al. SIGMOD'03)
    //    under the oracle: k-gram hashes via the cross-engine 60-bit md5
    //    prefix, min of each w-window (robust winnowing's fingerprint VALUE
    //    set == the distinct window minima, which a windowed min + DISTINCT
    //    expresses in SQL), inverted fingerprint index, pairs sharing >=2.
    //    Detects any shared substring of length >= w + k - 1 = 27 chars.
    //    The fast Rabin-Karp hash stays the production default (spec'd in
    //    OpsSpec); same pipeline, different gram hash ------------------------
    ("q_containment",
      (s: SparkSession, d: String) =>
        graft.ops.Dedup.containmentPairs(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            "doc_id", "text", k = 20, w = 8, minShared = 2, md5Mode = true)
          .select(col("a"), col("b"), col("shared_fp").cast("long").as("shared_fp"))
          .orderBy("a", "b"),
      """WITH g AS (
        |  SELECT doc_id, i,
        |    ('0x'||substr(md5(substr(text, cast(i AS BIGINT), 20)),1,15))::BIGINT AS h
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text)-20+2)) AS i
        |        FROM documents WHERE len(text) >= 20)),
        |wm AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS f,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, f FROM wm WHERE i <= greatest(nh-8+1, 1))
        |SELECT x.doc_id AS a, y.doc_id AS b, cast(count(*) AS BIGINT) AS shared_fp
        |FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),

    // -- exact dedup: hash-groupBy, one shuffle on the content hash -------
    ("q_dedup_exact",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique")),
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents"),

    // -- n-gram Jaccard near-dup pairs (>= 0.8) via inverted shingle index:
    //    pairs exist only for docs sharing >= 1 shingle; |A∩B| arrives from
    //    a groupBy on the co-occurrence join, never a full cross join; |A∪B|
    //    from per-doc set sizes (auto-broadcast at this scale). Exact — and
    //    ~6x faster than the prefix-filter + array_intersect verify form it
    //    replaced: no shingle array ever crosses a shuffle and no per-pair
    //    set intersection runs. Library form with the hot-shingle df cap for
    //    adversarial corpora: ops.Dedup.ngramJaccardPairs ------------------
    ("q_dedup_ngram",
      (s: SparkSession, d: String) => {
        val base = shingleDf(s, d)
        val sizes = base.select(col("doc_id"), size(col("sh")).as("n"))
        val inv = base.select(col("doc_id"), explode(col("sh")).as("g"))
        inv.alias("x").join(inv.alias("y"),
            col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
          .withColumn("jac", round(col("common").cast("double") /
            (col("na") + col("nb") - col("common")), 4))
          .filter(col("jac") >= 0.8)
          .select("a", "b", "jac")
          .orderBy("a", "b")
      },
      s"""$shingleCte,
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT a, b, jac FROM p WHERE jac >= 0.8 ORDER BY a, b""".stripMargin),

    // -- dedup cluster closure: near-dup PAIRS (n-gram jaccard >= 0.5) →
    //    full connected components via alternating star contraction
    //    (graft.ops.ConnectedComponents) — the step that turns "a~b, b~c"
    //    into one cluster with a canonical min-id representative, including
    //    chains that single-pass star grouping approximates away. Oracle:
    //    the same pair graph closed by a DuckDB recursive CTE ---------------
    ("q_dedup_components",
      (s: SparkSession, d: String) =>
        graft.ops.ConnectedComponents.components(pairDf(s, d), "a", "b")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |walk(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u)
         |SELECT u AS doc_id, min(v) AS component FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- INCREMENTAL component maintenance: the same pair graph arrives in
    //    two batches (split by (a+b) parity, so batch 2 both extends and
    //    MERGES batch-1 components); batch 1 is closed normally, then
    //    batch 2 is folded into the saved labels via
    //    ConnectedComponents.incremental — old pairs never re-enter, only
    //    one (id → component) star edge per old node does. The oracle is
    //    the FULL-graph closure (identical SQL to q_dedup_components), so
    //    hash equality proves incremental == rebuild, canonical min-ids
    //    included — the maintenance path a daily 100 TB ingest needs
    //    instead of re-walking all historical pairs --------------------------
    ("q_cc_incremental",
      (s: SparkSession, d: String) => {
        val pairs = pairDf(s, d)
        val batch1 = pairs.filter(pmod(col("a") + col("b"), lit(2)) === 0)
        val batch2 = pairs.filter(pmod(col("a") + col("b"), lit(2)) === 1)
        val labels1 = graft.ops.ConnectedComponents.components(batch1, "a", "b")
        graft.ops.ConnectedComponents.incremental(labels1, batch2, "a", "b")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |walk(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u)
         |SELECT u AS doc_id, min(v) AS component FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- end-to-end dedup APPLY (Curation.applyDedup): the same pair graph
    //    closed into clusters, every member but the cluster minimum dropped,
    //    corpus filtered by anti-join — what a pipeline actually ships.
    //    Per-lang kept counts keep the output small -------------------------
    ("q_dedup_apply",
      (s: SparkSession, d: String) =>
        graft.ops.Curation.applyDedup(t(s, d, "documents"), pairDf(s, d), "doc_id")
          .groupBy("lang").agg(count(lit(1)).as("kept"))
          .orderBy("lang"),
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |walk(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u),
         |dropped AS (SELECT u FROM walk GROUP BY u HAVING min(v) <> u)
         |SELECT lang, count(*) AS kept FROM documents
         |WHERE doc_id NOT IN (SELECT u FROM dropped)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- MinHash + LSH banding: 16 md5 min-hashes, 4 bands × 4 rows;
    //    candidates = equi-join on (band index, band hash). md5 is identical
    //    in DuckDB, so the whole pipeline is oracle-checkable ---------------
    ("q_dedup_minhash",
      (s: SparkSession, d: String) => {
        val bands = md5BandsDf(s, d, nBands = 4, rows = 4)
        bands.alias("x").join(bands.alias("y"),
            col("x.j") === col("y.j") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
          .orderBy("a", "b")
      },
      s"""$shingleCte,
         |$sigCte,
         |${bandsCte(4, 4)}
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id
         |ORDER BY a, b""".stripMargin),

    // -- PERSISTED band-index serving under the hash gate: the md5 band
    //    projection is written to parquet partitioned by band id (so a
    //    probe's equi-join prunes to matching band directories), read back,
    //    and probed with a query subset — the save → load → screen cycle of
    //    Dedup.saveBandIndex/nearDupAgainstSavedIndex (which use xxhash64,
    //    not DuckDB-replayable) in its oracle-checkable md5 form. Output =
    //    (probe doc, corpus doc) pairs sharing any band bucket, self-matches
    //    included (a probe doc present in the corpus MUST match itself —
    //    it shares all 4 buckets) ------------------------------------------
    ("q_index_probe",
      (s: SparkSession, d: String) => {
        val bands = md5BandsDf(s, d, nBands = 4, rows = 4)
        // swept by clearCaches, the schedule's group hook
        val dir = graft.streaming.Scratch.storeDir(BandIdx, d)
        bands.write.mode("overwrite").partitionBy("j").parquet(dir)
        val idx = s.read.parquet(dir).select("doc_id", "j", "bh")
        val probe = bands.filter(col("doc_id") < 50)
        probe.alias("x").join(idx.alias("y"),
            col("x.j") === col("y.j") && col("x.bh") === col("y.bh"))
          .select(col("x.doc_id").as("probe_id"), col("y.doc_id").as("corpus_id"))
          .distinct()
          .orderBy("probe_id", "corpus_id")
      },
      s"""$shingleCte,
         |$sigCte,
         |${bandsCte(4, 4)}
         |SELECT DISTINCT x.doc_id AS probe_id, y.doc_id AS corpus_id
         |FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh
         |WHERE x.doc_id < 50
         |ORDER BY 1, 2""".stripMargin),

    // -- INCREMENTAL index maintenance (the third leg of the maintenance
    //    trilogy beside q_cc_incremental and q_rollup_incremental): the
    //    band index is built from two-thirds of the corpus, the remaining
    //    docs arrive later as a plain partition-aligned APPEND (band rows
    //    only for the new docs — old docs are never re-shingled), and the
    //    probe runs against the combined index. The oracle is q_index_
    //    probe's full-corpus SQL verbatim: hash equality proves
    //    append-maintained == rebuilt. At 100 TB this is the difference
    //    between re-hashing the corpus per ingest and banding just the
    //    delta ---------------------------------------------------------------
    ("q_index_incremental",
      (s: SparkSession, d: String) => {
        val bands = md5BandsDf(s, d, nBands = 4, rows = 4)
        val dir = graft.streaming.Scratch.storeDir(BandIdx, d) + "_incr"
        // overwrite clears any prior run's index, so the append below can
        // never stack deltas across reruns
        bands.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .write.mode("overwrite").partitionBy("j").parquet(dir)
        bands.filter(pmod(col("doc_id"), lit(3)) === 0)
          .write.mode("append").partitionBy("j").parquet(dir)
        val idx = s.read.parquet(dir).select("doc_id", "j", "bh")
        md5BandsDf(s, d, nBands = 4, rows = 4).filter(col("doc_id") < 50)
          .alias("x").join(idx.alias("y"),
            col("x.j") === col("y.j") && col("x.bh") === col("y.bh"))
          .select(col("x.doc_id").as("probe_id"), col("y.doc_id").as("corpus_id"))
          .distinct()
          .orderBy("probe_id", "corpus_id")
      },
      s"""$shingleCte,
         |$sigCte,
         |${bandsCte(4, 4)}
         |SELECT DISTINCT x.doc_id AS probe_id, y.doc_id AS corpus_id
         |FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh
         |WHERE x.doc_id < 50
         |ORDER BY 1, 2""".stripMargin),

    // -- CC over MinHash band candidates at PRODUCTION parameters: the same
    //    16 md5 min-hashes re-banded 8 bands × 2 rows — S-curve threshold
    //    (1/8)^(1/2) ≈ 0.35, so the candidate graph is denser and more
    //    skewed than q_dedup_components' jaccard >= 0.5 edges — closed into
    //    exact components by alternating star contraction. This is the
    //    cluster-closure stage as it actually runs in a dedup pipeline:
    //    directly over LSH candidates, no verify in between. Oracle: same
    //    bands in DuckDB, closed by a recursive CTE -------------------------
    ("q_dedup_cc_minhash",
      (s: SparkSession, d: String) => {
        val bands = md5BandsDf(s, d, nBands = 8, rows = 2)
        val pairs = bands.alias("x").join(bands.alias("y"),
            col("x.j") === col("y.j") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        graft.ops.ConnectedComponents.components(pairs, "a", "b")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |$sigCte,
         |${bandsCte(8, 2)},
         |p AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |walk(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u)
         |SELECT u AS doc_id, min(v) AS component FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- CLUSTER-QUALITY AUDIT of the LSH→CC pipeline: for every
    //    non-representative member of a q_dedup_cc_minhash cluster,
    //    the EXACT 3-gram Jaccard against its cluster representative
    //    (the min-id member = the component label), rolled up per
    //    cluster as exact integers: n_checked, n_pass (Jaccard >= 0.5
    //    via 2·inter >= union — no floats), sum_inter, sum_union.
    //    Cluster precision = n_pass/n_checked derives; a cluster whose
    //    members drift from the rep shows up as n_pass < n_checked.
    //    Member-vs-REP only (spanning-star, |C|−1 pairs), never
    //    all-pairs within a cluster — the audit itself must not
    //    reintroduce the O(|C|²) blowup it is auditing for; the shingle
    //    join touches only docs inside clusters ---------------------------
    ("q_cluster_audit",
      (s: SparkSession, d: String) => {
        val bands = md5BandsDf(s, d, nBands = 8, rows = 2)
        val pairs = bands.alias("x").join(bands.alias("y"),
            col("x.j") === col("y.j") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        val cc = graft.ops.ConnectedComponents.components(pairs, "a", "b")
          .withColumnRenamed("id", "doc_id")
        val sh = shingleDf(s, d)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
        val members = cc.filter(col("doc_id") =!= col("component"))
        val inter = members.join(sh, Seq("doc_id"))
          .join(sh.select(col("doc_id").as("component"), col("g")),
            Seq("component", "g"))
          .groupBy("doc_id", "component").agg(count(lit(1)).as("inter"))
        members
          .join(sizes, Seq("doc_id"))
          .join(sizes.select(col("doc_id").as("component"),
            col("nsh").as("rsh")), Seq("component"))
          .join(inter, Seq("doc_id", "component"), "left")
          .withColumn("inter", coalesce(col("inter"), lit(0L)))
          .withColumn("uni", col("nsh") + col("rsh") - col("inter"))
          .groupBy("component")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("inter") * 2 >= col("uni"), 1L).otherwise(0L))
              .cast("long").as("n_pass"),
            sum(col("inter")).cast("long").as("sum_inter"),
            sum(col("uni")).cast("long").as("sum_union"))
          .orderBy("component")
      },
      s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
         |$sigCte,
         |${bandsCte(8, 2)},
         |p AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
         |walk(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u),
         |cc AS MATERIALIZED (
         |  SELECT u AS doc_id, min(v) AS component FROM walk GROUP BY 1),
         |sz AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS nsh FROM s),
         |g AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
         |mem AS (SELECT doc_id, component FROM cc WHERE doc_id <> component),
         |iv AS (SELECT m.doc_id, m.component, CAST(count(*) AS BIGINT) AS inter
         |       FROM mem m JOIN g a ON a.doc_id = m.doc_id
         |       JOIN g r ON r.doc_id = m.component AND r.g = a.g
         |       GROUP BY 1, 2),
         |au AS (SELECT m.component, sa.nsh, sr.nsh AS rsh,
         |         CAST(coalesce(iv.inter, 0) AS BIGINT) AS inter
         |       FROM mem m JOIN sz sa ON sa.doc_id = m.doc_id
         |       JOIN sz sr ON sr.doc_id = m.component
         |       LEFT JOIN iv ON iv.doc_id = m.doc_id AND iv.component = m.component)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_checked,
         |  CAST(sum(CASE WHEN 2 * inter >= nsh + rsh - inter
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(inter) AS BIGINT) AS sum_inter,
         |  CAST(sum(nsh + rsh - inter) AS BIGINT) AS sum_union
         |FROM au GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- SimHash fingerprints (60-bit, md5-derived so DuckDB can replay the
    //    identical computation): bit b = sign of sum over distinct tokens of
    //    (2*bit_b(h(tok)) - 1). Library form with xxhash64 + Hamming band
    //    join lives in graft.ops.Dedup ---------------------------------------
    ("q_dedup_simhash",
      (s: SparkSession, d: String) => {
        val tok = t(s, d, "documents").filter(col("doc_id") < 200)
          .withColumn("w", array_distinct(toks(col("text"))))
          .select(col("doc_id"), explode(col("w")).as("tk"))
          .withColumn("h", conv(substring(md5(col("tk")), 1, 15), 16, 10).cast("long"))
        val bitSums = (0 until 60).map(b =>
          sum(shiftrightunsigned(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b"))
        tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"),
            (0 until 60).map(b =>
              when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
              .reduce(_ bitwiseOR _).as("simhash"))
          .orderBy("doc_id")
      },
      {
        val sums = (0 until 60)
          .map(b => s"sum((((h >> $b) & 1) * 2) - 1) AS b$b").mkString(", ")
        val assemble = (0 until 60)
          .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""WITH tk AS (
           |  SELECT doc_id, unnest(list_distinct(regexp_extract_all(text, '\\S+'))) AS tk
           |  FROM documents WHERE doc_id < 200),
           |h AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tk),
           |bits AS (SELECT doc_id, $sums FROM h GROUP BY 1)
           |SELECT doc_id, cast($assemble AS BIGINT) AS simhash FROM bits ORDER BY doc_id""".stripMargin
      }),

    // -- end-to-end training-data pipeline: quality gate -> exact dedup ->
    //    per-language yield stats. Composition of verified pieces; shows the
    //    whole cleanse path as ONE lazy plan (one scan + one dedup shuffle) -
    ("q_pipeline",
      (s: SparkSession, d: String) => {
        val w = col("w")
        val quality = t(s, d, "documents")
          .withColumn("w", toks(col("text")))
          .withColumn("alpha_ratio",
            length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
              length(col("text")).cast("double"))
          .filter(col("alpha_ratio") >= 0.75 && size(w) >= 20)
        val deduped = quality
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
          .filter(col("rk") === 1)
        deduped.groupBy("lang")
          .agg(count(lit(1)).as("kept"), davg(col("n_chars")).as("avg_chars"))
          .orderBy("lang")
      },
      s"""WITH q AS (
         |  SELECT doc_id, lang, n_chars, text,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text) AS alpha_ratio,
         |    len(regexp_extract_all(text, '\\S+')) AS ntok
         |  FROM documents),
         |f AS (SELECT * FROM q WHERE alpha_ratio >= 0.75 AND ntok >= 20),
         |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM f)
         |SELECT lang, count(*) AS kept, ${sqlDavg("n_chars")} AS avg_chars
         |FROM d WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- multimodal: opaque binary payload column + metadata (decode /
    //    feature plumbing in graft.ops.Multimodal) --------------------------
    ("q_multimodal_meta",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            length(col("text").cast("binary")).cast("long").as("n_bytes"),
            md5(col("text").cast("binary")).as("payload_md5"))
          .orderBy("doc_id"),
      "SELECT doc_id, cast(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "md5(text) AS payload_md5 FROM documents WHERE doc_id < 100 ORDER BY doc_id"),

    // -- multimodal frame sampling arithmetic: fixed-interval frame offsets
    //    over a per-row "duration" via sequence explode — the relational
    //    half of Multimodal.features' frame_offsets (the codec itself is
    //    the stubbed, non-relational half). Map-only, bounded fan-out ------
    ("q_multimodal_frames",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), (col("n_chars").cast("long") * 10).as("duration_ms"))
          .withColumn("off", explode(sequence(lit(0L), col("duration_ms"), lit(2500L))))
          .groupBy("doc_id", "duration_ms")
          .agg(count(lit(1)).as("n_frames"), max(col("off")).as("last_off"))
          .orderBy("doc_id"),
      """SELECT doc_id, duration_ms, count(*) AS n_frames,
        |  cast(max(off) AS BIGINT) AS last_off
        |FROM (SELECT doc_id, cast(n_chars AS BIGINT) * 10 AS duration_ms,
        |        unnest(range(0, cast(n_chars AS BIGINT) * 10 + 1, 2500)) AS off
        |      FROM documents WHERE doc_id < 100)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // -- fuzzy entity lookup with blocking: probes (catalog names with a
    //    deterministic typo — first char dropped) resolve back to the
    //    catalog via an equi-join on the blocking key (second word), THEN
    //    edit-distance ≤ 2 filters within blocks — the entity-resolution
    //    shape that replaces the O(n·m) all-pairs distance matrix; the
    //    distinct catalog side broadcasts -----------------------------------
    ("q_fuzzy_lookup",
      (s: SparkSession, d: String) => {
        val names = t(s, d, "part").select(col("p_name")).distinct()
        val probes = t(s, d, "part")
          .select(expr("substr(p_name, 2)").as("probe")).distinct()
        probes.join(broadcast(names),
            element_at(split(col("probe"), " "), 2) ===
              element_at(split(col("p_name"), " "), 2))
          .withColumn("dist", levenshtein(col("probe"), col("p_name")).cast("long"))
          .filter(col("dist") <= 2)
          .select(col("probe"), col("p_name").as("matched"), col("dist"))
          .orderBy("probe", "matched")
      },
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |p AS (SELECT DISTINCT substr(p_name, 2) AS probe FROM part)
        |SELECT p.probe, n.p_name AS matched,
        |  cast(levenshtein(p.probe, n.p_name) AS BIGINT) AS dist
        |FROM p JOIN n ON split_part(p.probe, ' ', 2) = split_part(n.p_name, ' ', 2)
        |WHERE levenshtein(p.probe, n.p_name) <= 2
        |ORDER BY probe, matched""".stripMargin),

    // -- multimodal resize planning: aspect-preserving fit into 224×224
    //    (scale = min(224/w, 224/h), integer floor) + output byte budget —
    //    the relational half of Multimodal.features' resized_w/h; pure
    //    integer arithmetic (fake per-doc dims derived like
    //    syntheticMediaTable's), map-only, so the planner runs at metadata
    //    cost without touching payloads --------------------------------------
    ("q_multimodal_resize",
      (s: SparkSession, d: String) => {
        val w = (pmod(col("doc_id"), lit(64)) + 32).cast("long")
        val h = (pmod(col("doc_id") * 7, lit(96)) + 16).cast("long")
        t(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), w.as("w"), h.as("h"))
          .withColumn("rw", expr("(w * 224) div greatest(w, h)"))
          .withColumn("rh", expr("(h * 224) div greatest(w, h)"))
          .withColumn("out_bytes", col("rw") * col("rh") * 3L)
          .orderBy("doc_id")
      },
      """SELECT doc_id, w, h,
        |  (w * 224) // greatest(w, h) AS rw,
        |  (h * 224) // greatest(w, h) AS rh,
        |  ((w * 224) // greatest(w, h)) * ((h * 224) // greatest(w, h)) * 3 AS out_bytes
        |FROM (SELECT doc_id, (doc_id % 64) + 32 AS w, ((doc_id * 7) % 96) + 16 AS h
        |      FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id""".stripMargin),

    // -- perceptual image fingerprint (dHash) through the REAL decode
    //    pipeline shape: syntheticMediaTable → mapPartitions codec decode
    //    → 8×9 nearest-neighbor grid → row-gradient bits. The stub codec's
    //    fake pixels are payload bytes (the corpus is pure ASCII — byte ==
    //    codepoint), so the oracle replays the ENTIRE hash bit-for-bit via
    //    ord(substr(…)); the real-image half (javax.imageio decode,
    //    near-dup stability under pixel edits) is spec-gated in
    //    MultimodalSpec. Emitted as two 32-bit halves: no sign-bit games --
    ("q_image_dhash",
      (s: SparkSession, d: String) => {
        val media = graft.ops.Multimodal.syntheticMediaTable(s,
          t(s, d, "documents")
            .filter(col("doc_id") < 200 && length(col("text")) > 0),
          "doc_id", "text")
        graft.ops.Multimodal.dHash(media).orderBy("media_id")
      },
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    (doc_id % 64) + 32 AS w, (doc_id % 48) + 24 AS h,
        |    octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id < 200 AND length(text) > 0),
        |b AS (
        |  SELECT media_id,
        |    [ CASE WHEN ord(substr(text, ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 9) % len + 1, 1)) >
        |                ord(substr(text, ((((i // 8) * h) // 8) * w + (((i % 8) + 1) * w) // 9) % len + 1, 1))
        |           THEN 1 ELSE 0 END for i in range(0, 64) ] AS bits
        |  FROM m)
        |SELECT media_id,
        |  cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS dhash_hi,
        |  cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS dhash_lo
        |FROM b ORDER BY media_id""".stripMargin),

    // -- SECOND perceptual family: pHash — 16×16 sample → integer 2D DCT
    //    → 8×8 low-frequency block → bits vs the median coefficient
    //    (Multimodal.pHashBits). The DCT runs in 2^14 fixed point off a
    //    cosine table computed once in Scala and inlined into this very
    //    SQL (phCt below) — identical integer arithmetic on both engines,
    //    so the oracle replays every bit exactly like the dHash gate ----
    ("q_image_phash",
      (s: SparkSession, d: String) => {
        val media = graft.ops.Multimodal.syntheticMediaTable(s,
          t(s, d, "documents")
            .filter(col("doc_id") < 200 && length(col("text")) > 0),
          "doc_id", "text")
        graft.ops.Multimodal.pHash(media).orderBy("media_id")
      },
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, text,
         |    (doc_id % 64) + 32 AS w, (doc_id % 48) + 24 AS h,
         |    octet_length(encode(text)) AS len
         |  FROM documents WHERE doc_id < 200 AND length(text) > 0),
         |$phHashCtes
         |SELECT media_id,
         |  cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS phash_hi,
         |  cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS phash_lo
         |FROM b ORDER BY media_id""".stripMargin),

    // -- pHash near-dup PAIRING under the gate: same fixture as
    //    q_image_neardup (copy +1000, one-char edit +2000), paired via
    //    the SAME 4×16 band join (the banding never looks inside the
    //    bits), verified against brute-force all-pairs Hamming over the
    //    replayed pHashes — completeness proven for the second family
    //    too. The low-frequency block shrugs off the one-char edit that
    //    dHash's local gradients register, so the confirmed pair set is
    //    a superset of dHash's on this fixture (disagreement measured in
    //    OpsSpec on real re-encoded images) ------------------------------
    ("q_image_phash_pairs",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val base = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 20)
          .select(col("doc_id"), col("text"),
            (pmod(col("doc_id"), lit(64)) + 32).cast("int").as("width"),
            (pmod(col("doc_id"), lit(48)) + 24).cast("int").as("height"))
        val media = base.select(col("doc_id").as("media_id"),
            col("text"), col("width"), col("height"))
          .unionByName(base.select((col("doc_id") + 1000L).as("media_id"),
            col("text"), col("width"), col("height")))
          .unionByName(base.select((col("doc_id") + 2000L).as("media_id"),
            expr("substr(text, 1, 9) || 'Z' || substr(text, 11)").as("text"),
            col("width"), col("height")))
          .select(col("media_id"), col("text").cast("binary").as("payload"),
            lit("fakeimg").as("format"), col("width"), col("height"))
          .as[graft.ops.Multimodal.MediaRow]
        graft.ops.Multimodal.pHashNearDupPairs(
            graft.ops.Multimodal.pHash(media), "media_id", maxDist = 3)
          .orderBy("a", "b")
      },
      s"""WITH src AS (
         |  SELECT doc_id, text, (doc_id % 64) + 32 AS w, (doc_id % 48) + 24 AS h
         |  FROM documents WHERE doc_id < 200 AND length(text) >= 20),
         |m AS (
         |  SELECT doc_id AS media_id, text, w, h, octet_length(encode(text)) AS len FROM src
         |  UNION ALL
         |  SELECT doc_id + 1000, text, w, h, octet_length(encode(text)) FROM src
         |  UNION ALL
         |  SELECT doc_id + 2000, substr(text, 1, 9) || 'Z' || substr(text, 11), w, h,
         |    octet_length(encode(substr(text, 1, 9) || 'Z' || substr(text, 11))) FROM src),
         |$phHashCtes,
         |hx AS (
         |  SELECT media_id,
         |    cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS hi,
         |    cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS lo
         |  FROM b)
         |SELECT a, b, dist FROM (
         |  SELECT h1.media_id AS a, h2.media_id AS b,
         |    cast(bit_count(xor(h1.hi, h2.hi)) + bit_count(xor(h1.lo, h2.lo)) AS BIGINT) AS dist
         |  FROM hx h1 JOIN hx h2 ON h1.media_id < h2.media_id)
         |WHERE dist <= 3 ORDER BY a, b""".stripMargin),

    // -- perceptual near-dup PAIRING under the gate: the corpus plus an
    //    exact copy (+1000, same declared dims) and a one-character edit
    //    (+2000) per doc, dHashed, then paired via the 4×16-bit band join
    //    (Multimodal.dHashNearDupPairs — pigeonhole-complete for Hamming
    //    <= 3, O(candidates) not O(n²)). The oracle computes ALL-pairs
    //    Hamming over the replayed stub hashes — equality proves the
    //    banded join misses nothing the brute force finds ---------------
    ("q_image_neardup",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val base = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 20)
          .select(col("doc_id"), col("text"),
            (pmod(col("doc_id"), lit(64)) + 32).cast("int").as("width"),
            (pmod(col("doc_id"), lit(48)) + 24).cast("int").as("height"))
        val media = base.select(col("doc_id").as("media_id"),
            col("text"), col("width"), col("height"))
          .unionByName(base.select((col("doc_id") + 1000L).as("media_id"),
            col("text"), col("width"), col("height")))
          .unionByName(base.select((col("doc_id") + 2000L).as("media_id"),
            expr("substr(text, 1, 9) || 'Z' || substr(text, 11)").as("text"),
            col("width"), col("height")))
          .select(col("media_id"), col("text").cast("binary").as("payload"),
            lit("fakeimg").as("format"), col("width"), col("height"))
          .as[graft.ops.Multimodal.MediaRow]
        graft.ops.Multimodal.dHashNearDupPairs(
            graft.ops.Multimodal.dHash(media), "media_id", maxDist = 3)
          .orderBy("a", "b")
      },
      """WITH src AS (
        |  SELECT doc_id, text, (doc_id % 64) + 32 AS w, (doc_id % 48) + 24 AS h
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 20),
        |m AS (
        |  SELECT doc_id AS media_id, text, w, h, octet_length(encode(text)) AS len FROM src
        |  UNION ALL
        |  SELECT doc_id + 1000, text, w, h, octet_length(encode(text)) FROM src
        |  UNION ALL
        |  SELECT doc_id + 2000, substr(text, 1, 9) || 'Z' || substr(text, 11), w, h,
        |    octet_length(encode(substr(text, 1, 9) || 'Z' || substr(text, 11))) FROM src),
        |b AS (
        |  SELECT media_id,
        |    [ CASE WHEN ord(substr(text, ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 9) % len + 1, 1)) >
        |                ord(substr(text, ((((i // 8) * h) // 8) * w + (((i % 8) + 1) * w) // 9) % len + 1, 1))
        |           THEN 1 ELSE 0 END for i in range(0, 64) ] AS bits
        |  FROM m),
        |hx AS (
        |  SELECT media_id,
        |    cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS hi,
        |    cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS lo
        |  FROM b)
        |SELECT a, b, dist FROM (
        |  SELECT h1.media_id AS a, h2.media_id AS b,
        |    cast(bit_count(xor(h1.hi, h2.hi)) + bit_count(xor(h1.lo, h2.lo)) AS BIGINT) AS dist
        |  FROM hx h1 JOIN hx h2 ON h1.media_id < h2.media_id)
        |WHERE dist <= 3 ORDER BY a, b""".stripMargin),

    // -- the image-dedup loop CLOSED: near-dup pairs → connected
    //    components → per-cluster membership stats (keep-one = the min
    //    member, exactly applyDedup's rule). Same star-contraction closure
    //    as the text path; the oracle re-derives the pairs brute-force and
    //    closes them with a recursive CTE ------------------------------
    ("q_image_cluster",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val base = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 20)
          .select(col("doc_id"), col("text"),
            (pmod(col("doc_id"), lit(64)) + 32).cast("int").as("width"),
            (pmod(col("doc_id"), lit(48)) + 24).cast("int").as("height"))
        val media = base.select(col("doc_id").as("media_id"),
            col("text"), col("width"), col("height"))
          .unionByName(base.select((col("doc_id") + 1000L).as("media_id"),
            col("text"), col("width"), col("height")))
          .unionByName(base.select((col("doc_id") + 2000L).as("media_id"),
            expr("substr(text, 1, 9) || 'Z' || substr(text, 11)").as("text"),
            col("width"), col("height")))
          .select(col("media_id"), col("text").cast("binary").as("payload"),
            lit("fakeimg").as("format"), col("width"), col("height"))
          .as[graft.ops.Multimodal.MediaRow]
        val pairs = graft.ops.Multimodal.dHashNearDupPairs(
          graft.ops.Multimodal.dHash(media), "media_id", maxDist = 3)
          .select("a", "b")
        graft.ops.ConnectedComponents.components(pairs, "a", "b")
          .groupBy(col("component"))
          .agg(count(lit(1)).as("size"), min(col("id")).as("keep"),
            max(col("id")).as("max_member"))
          .orderBy("component")
      },
      """WITH RECURSIVE src AS (
        |  SELECT doc_id, text, (doc_id % 64) + 32 AS w, (doc_id % 48) + 24 AS h
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 20),
        |m AS (
        |  SELECT doc_id AS media_id, text, w, h, octet_length(encode(text)) AS len FROM src
        |  UNION ALL
        |  SELECT doc_id + 1000, text, w, h, octet_length(encode(text)) FROM src
        |  UNION ALL
        |  SELECT doc_id + 2000, substr(text, 1, 9) || 'Z' || substr(text, 11), w, h,
        |    octet_length(encode(substr(text, 1, 9) || 'Z' || substr(text, 11))) FROM src),
        |b AS (
        |  SELECT media_id,
        |    [ CASE WHEN ord(substr(text, ((((i // 8) * h) // 8) * w + ((i % 8) * w) // 9) % len + 1, 1)) >
        |                ord(substr(text, ((((i // 8) * h) // 8) * w + (((i % 8) + 1) * w) // 9) % len + 1, 1))
        |           THEN 1 ELSE 0 END for i in range(0, 64) ] AS bits
        |  FROM m),
        |hx AS (
        |  SELECT media_id,
        |    cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS hi,
        |    cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS lo
        |  FROM b),
        |p AS (
        |  SELECT h1.media_id AS a, h2.media_id AS b
        |  FROM hx h1 JOIN hx h2 ON h1.media_id < h2.media_id
        |  WHERE bit_count(xor(h1.hi, h2.hi)) + bit_count(xor(h1.lo, h2.lo)) <= 3),
        |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
        |walk(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT w.u, e.v FROM walk w JOIN e ON w.v = e.u)
        |SELECT component, count(*) AS size, min(u) AS keep, max(u) AS max_member
        |FROM (SELECT u, min(v) AS component FROM walk GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- multimodal audio: the REAL javax.sound WAV decoder under the
    //    oracle gate. Each doc_id < 8 parameterizes a synthetic sine clip
    //    (freq, amplitude, length all derived from doc_id); the Spark side
    //    synthesizes a genuine WAV container and runs the full
    //    decode→features path (Multimodal.decodeWav + extractAudioFeatures,
    //    the same code a corpus of real clips would hit). The oracle never
    //    decodes: it computes the expected features in closed form from the
    //    same parameters. Frequencies are rate/4 and rate/8 ON PURPOSE —
    //    sample phases then land on exact multiples of π/4, so the
    //    quantized 16-bit pattern per period is analytic:
    //      rate/4 → [0, +q2, 0, −q2]            (q2 = trunc(amp·32767))
    //      rate/8 → [0,+q1,+q2,+q1,0,−q1,−q2,−q1] (q1 = trunc((amp·sin(π/4))·32767))
    //    giving rms = sqrt(Σq²/period)/32768, peak = q2/32768, and
    //    zcr = (n/2−1)/(n−1) resp. (n/4−1)/(n−1) exactly (clip lengths are
    //    multiples of 8 samples so periods tile). trunc((amp·sin)·32767)
    //    mirrors sineWav's evaluation order and .toInt truncation
    //    (Multimodal.scala:211); phase-zero samples quantize to exactly 0
    //    regardless of sin(kπ) sign noise, so the sign pattern is stable.
    //    Both sides round the derived doubles to 4 places ------------------
    ("q_audio_features",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val ids = t(s, d, "documents").filter(col("doc_id") < 8)
          .select(col("doc_id").cast("long")).as[Long]
        val audio = ids.map { id =>
          val freq = if (id % 2 == 0) 2000.0 else 1000.0 // rate/4 | rate/8
          val amp = (1 + id % 8) / 10.0
          val n = 1000L * (2 + id % 4) // 2000..5000 samples, all % 8 == 0
          graft.ops.Multimodal.AudioRow(
            id, graft.ops.Multimodal.sineWav(freq, amp, n / 8000.0), "wav")
        }
        graft.ops.Multimodal.extractAudioFeatures(audio)
          .select(col("media_id"), col("n_samples"),
            round(col("duration_s"), 4).as("duration_s"),
            round(col("rms"), 4).as("rms"),
            round(col("peak"), 4).as("peak"),
            round(col("zero_cross_rate"), 4).as("zcr"))
          .orderBy("media_id")
      },
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    doc_id % 2 = 0 AS hi,
        |    CAST(1 + doc_id % 8 AS DOUBLE) / CAST(10 AS DOUBLE) AS amp,
        |    1000 * (2 + doc_id % 4) AS n
        |  FROM documents WHERE doc_id < 8),
        |q AS (
        |  SELECT media_id, hi, n,
        |    trunc((amp * sin(pi() / 4)) * 32767) AS q1,
        |    trunc(amp * 32767) AS q2
        |  FROM p)
        |SELECT media_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  round(n / CAST(8000 AS DOUBLE), 4) AS duration_s,
        |  round(CASE WHEN hi THEN sqrt((2*q2*q2) / CAST(4 AS DOUBLE)) / 32768
        |             ELSE sqrt((2*q2*q2 + 4*q1*q1) / CAST(8 AS DOUBLE)) / 32768 END, 4) AS rms,
        |  round(q2 / CAST(32768 AS DOUBLE), 4) AS peak,
        |  round(CASE WHEN hi THEN (n//2 - 1) / CAST(n - 1 AS DOUBLE)
        |             ELSE (n//4 - 1) / CAST(n - 1 AS DOUBLE) END, 4) AS zcr
        |FROM q ORDER BY media_id""".stripMargin),

    // -- AUDIO fingerprint (frame-energy delta coding) through the real
    //    mapPartitions decode shape: 65 equal windows over the sample
    //    stream, Σ|amplitude| per window, one bit per adjacent-window
    //    energy rise — the time-axis twin of q_image_dhash's gradients
    //    (delta coding cancels overall gain out of every bit). The
    //    fakepcm stub treats corpus bytes as unsigned 8-bit samples
    //    (energy |b−128|, all-integer), so the oracle replays every bit
    //    from ord(substr(…)) window sums; the REAL decodeWav half is
    //    spec-gated in MultimodalSpec like the image codecs -------------
    ("q_audio_fingerprint",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val audio = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 65)
          .select(col("doc_id").as("media_id"),
            encode(col("text"), "UTF-8").as("payload"),
            lit("fakepcm").as("format"))
          .as[graft.ops.Multimodal.AudioRow]
        graft.ops.Multimodal.audioFingerprint(audio).orderBy("media_id")
      },
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 65),
$audioFpCtes
        |SELECT media_id,
        |  cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS afp_hi,
        |  cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS afp_lo
        |FROM b ORDER BY media_id""".stripMargin),

    // -- SPECTRAL audio fingerprint under the gate: the same 65 window
    //    energies, transformed by the integer 1-D DCT-II (fixed-point
    //    cosine table inlined into the SQL — the q_image_phash trick on
    //    the time axis) and thresholded at the coefficient median. The
    //    envelope-shape twin of q_audio_fingerprint's delta bits, and
    //    exactly gain-invariant by construction. Both engines run the
    //    identical Long arithmetic, so the gate hash-compares bits ------
    ("q_audio_spectral",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val audio = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 65)
          .select(col("doc_id").as("media_id"),
            encode(col("text"), "UTF-8").as("payload"),
            lit("fakepcm").as("format"))
          .as[graft.ops.Multimodal.AudioRow]
        graft.ops.Multimodal.audioSpectralHash(audio).orderBy("media_id")
      },
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 65),
        |$audioFpCtes,
        |tA AS (SELECT ${graft.ops.Multimodal.afpCosTable.flatten.mkString("[", ", ", "]")} AS ct),
        |co AS (
        |  SELECT media_id,
        |    [ list_sum([ cast(ct[k * 65 + j + 1] AS BIGINT) * en[j + 1]
        |                 for j in range(0, 65) ])
        |      for k in range(0, 64) ] AS c
        |  FROM en, tA),
        |md AS (SELECT media_id, c, list_sort(c)[32] AS med FROM co),
        |bs AS (
        |  SELECT media_id,
        |    [ CASE WHEN c[i + 1] > med THEN 1 ELSE 0 END
        |      for i in range(0, 64) ] AS bits
        |  FROM md)
        |SELECT media_id,
        |  cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS afp_hi,
        |  cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS afp_lo
        |FROM bs ORDER BY media_id""".stripMargin),

    // -- audio near-dup PAIRING under the gate: corpus + an exact copy
    //    (+1000) and a one-byte edit (+2000) per clip, fingerprinted and
    //    paired via the SAME 4×16 band join as the image families (the
    //    banding never looks inside the bits — third hash family, zero
    //    new pairing code). A one-byte edit perturbs ONE window energy,
    //    so at most its two adjacent delta bits flip — provably within
    //    the banding's Hamming ≤ 3 pigeonhole guarantee. The oracle is
    //    brute-force all-pairs Hamming over the replayed fingerprints:
    //    equality proves the banded join misses nothing -----------------
    ("q_audio_neardup",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val base = t(s, d, "documents")
          .filter(col("doc_id") < 200 && length(col("text")) >= 65)
          .select(col("doc_id"), col("text"))
        val audio = base.select(col("doc_id").as("media_id"), col("text"))
          .unionByName(base.select((col("doc_id") + 1000L).as("media_id"),
            col("text")))
          .unionByName(base.select((col("doc_id") + 2000L).as("media_id"),
            expr("substr(text, 1, 9) || 'Z' || substr(text, 11)").as("text")))
          .select(col("media_id"),
            encode(col("text"), "UTF-8").as("payload"),
            lit("fakepcm").as("format"))
          .as[graft.ops.Multimodal.AudioRow]
        graft.ops.Multimodal.audioNearDupPairs(
            graft.ops.Multimodal.audioFingerprint(audio), "media_id",
            maxDist = 3)
          .orderBy("a", "b")
      },
      s"""WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 200 AND length(text) >= 65),
        |m AS (
        |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
        |  FROM src
        |  UNION ALL
        |  SELECT doc_id + 1000, text, octet_length(encode(text)) FROM src
        |  UNION ALL
        |  SELECT doc_id + 2000, substr(text, 1, 9) || 'Z' || substr(text, 11),
        |    octet_length(encode(substr(text, 1, 9) || 'Z' || substr(text, 11)))
        |  FROM src),
$audioFpCtes,
        |hx AS (
        |  SELECT media_id,
        |    cast(list_sum([ bits[i + 33] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS hi,
        |    cast(list_sum([ bits[i + 1] * (1::BIGINT << i) for i in range(0, 32) ]) AS BIGINT) AS lo
        |  FROM b)
        |SELECT a, b, dist FROM (
        |  SELECT h1.media_id AS a, h2.media_id AS b,
        |    cast(bit_count(xor(h1.hi, h2.hi)) + bit_count(xor(h1.lo, h2.lo)) AS BIGINT) AS dist
        |  FROM hx h1 JOIN hx h2 ON h1.media_id < h2.media_id)
        |WHERE dist <= 3 ORDER BY a, b""".stripMargin),

    // -- script-mix profile: per-document character counts by Unicode
    //    block (Latin letters, CJK Unified, Cyrillic) — the evidence
    //    column a language-ID pass sanity-checks against, and the router
    //    for script-specific tokenizers. The fixture text is ASCII, so
    //    CJK/Cyrillic runs are injected deterministically from doc_id on
    //    BOTH sides (q_pii_redact convention); ranges are spelled as
    //    \x{hhhh} codepoint intervals, the regex subset Java and RE2
    //    read identically. Map-only scan; counts via strip-and-measure --
    ("q_script_mix",
      (s: SparkSession, d: String) => {
        val id = col("doc_id")
        val t0 = concat(col("text"),
          when(pmod(id, lit(4)) === 1,
            lit(" \u4e2d\u6587\u6587\u672c\u8a9e\u6599")).otherwise(lit("")),
          when(pmod(id, lit(4)) === 2,
            lit(" \u0440\u0443\u0441\u0441\u043a\u0438\u0439")).otherwise(lit("")),
          when(pmod(id, lit(4)) === 3,
            lit(" \u4e2d\u6587 \u0442\u0435\u043a\u0441\u0442")).otherwise(lit("")))
        def nOf(pat: String) =
          length(regexp_replace(t0, lit(pat), lit("")))
        t(s, d, "documents").filter(id < 400)
          .select(id.as("doc_id"),
            length(t0).cast("long").as("n_chars"),
            (length(t0) - nOf("[A-Za-z]")).cast("long").as("n_latin"),
            (length(t0) - nOf("[\\x{4e00}-\\x{9fff}]")).cast("long").as("n_cjk"),
            (length(t0) - nOf("[\\x{0400}-\\x{04ff}]")).cast("long").as("n_cyrillic"))
          .orderBy("doc_id")
      },
      """WITH e AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 1 THEN ' ' || chr(20013) || chr(25991) ||
        |       chr(25991) || chr(26412) || chr(35486) || chr(26009) ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 2 THEN ' ' || chr(1088) || chr(1091) ||
        |       chr(1089) || chr(1089) || chr(1082) || chr(1080) || chr(1081) ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 3 THEN ' ' || chr(20013) || chr(25991) || ' ' ||
        |       chr(1090) || chr(1077) || chr(1082) || chr(1089) || chr(1090) ELSE '' END)
        |    AS t0
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id, cast(length(t0) AS BIGINT) AS n_chars,
        |  cast(length(t0) - length(regexp_replace(t0, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |  cast(length(t0) - length(regexp_replace(t0, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS n_cjk,
        |  cast(length(t0) - length(regexp_replace(t0, '[\x{0400}-\x{04ff}]', '', 'g')) AS BIGINT) AS n_cyrillic
        |FROM e ORDER BY doc_id""".stripMargin),

    // -- vocabulary growth curve (the Heaps'-law table): cumulative
    //    distinct vocabulary and token count at each corpus decile —
    //    the "is new data still adding new language?" curation signal.
    //    NOT ten scans: each word reduces to its FIRST-occurrence doc
    //    (one groupBy(word) → min), first occurrences and token counts
    //    bucket into deciles, and the cumulative is a 10-row triangular
    //    self-join. Two corpus-sized aggregations total ------------------
    ("q_vocab_growth",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        // tok is TOKEN-sized (far past corpus-sized) — never pinned, the
        // q_basket_rules rule: each of the two consumers re-tokenizes,
        // a linear CPU pass instead of a token-corpus in block memory
        val tok = docs.select(col("doc_id"),
            explode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("w"))
        val nDocs = docs.agg(count(lit(1)).as("nd"))
        val vocab = tok.groupBy("w").agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(nDocs))
          .groupBy(least(expr("(fd * 10L) div nd"), lit(9L)).as("decile"))
          .agg(count(lit(1)).as("new_vocab"))
        val toks = tok.crossJoin(broadcast(nDocs))
          .groupBy(least(expr("(doc_id * 10L) div nd"), lit(9L)).as("decile"))
          .agg(count(lit(1)).as("new_tokens"))
        val per = toks.join(vocab, Seq("decile"), "full_outer")
          .select(col("decile"),
            coalesce(col("new_tokens"), lit(0L)).as("nt"),
            coalesce(col("new_vocab"), lit(0L)).as("nv"))
        per.join(per.select(col("decile").as("d2"), col("nt").as("nt2"),
            col("nv").as("nv2")), col("d2") <= col("decile"))
          .groupBy("decile")
          .agg(sum(col("nt2")).as("n_tokens_cum"),
            sum(col("nv2")).as("vocab_cum"))
          .orderBy("decile")
      },
      """WITH nd0 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w
        |        FROM documents),
        |fo AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1),
        |vc AS (SELECT least((fd * 10) // nd, 9) AS decile,
        |         CAST(count(*) AS BIGINT) AS nv
        |       FROM fo CROSS JOIN nd0 GROUP BY 1),
        |tc AS (SELECT least((doc_id * 10) // nd, 9) AS decile,
        |         CAST(count(*) AS BIGINT) AS nt
        |       FROM tok CROSS JOIN nd0 GROUP BY 1),
        |per AS (SELECT coalesce(tc.decile, vc.decile) AS decile,
        |          coalesce(nt, 0) AS nt, coalesce(nv, 0) AS nv
        |        FROM tc FULL OUTER JOIN vc ON tc.decile = vc.decile)
        |SELECT a.decile, CAST(sum(b.nt) AS BIGINT) AS n_tokens_cum,
        |  CAST(sum(b.nv) AS BIGINT) AS vocab_cum
        |FROM per a JOIN per b ON b.decile <= a.decile
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** The shared pHash CTE chain for the q_image_phash* oracles. Expects an
    * upstream CTE `m(media_id, text, w, h, len)`; yields `b(media_id,
    * bits)`. Mirrors [[graft.ops.Multimodal.pHashBits]] term for term:
    * 16×16 truncating nearest-neighbor sample of the stub pixels (byte ==
    * ord, corpus is ASCII), integer DCT via the INLINED fixed-point cosine
    * table — the same `Multimodal.phCosTable` longs the Spark kernel
    * multiplies, so there is no cross-engine cos() to disagree — 8×8
    * low-frequency block, bit = coefficient > 32nd-smallest non-DC
    * coefficient, DC bit pinned 0.
    */
  /** The audio-fingerprint replay CTEs shared VERBATIM by
    * q_audio_fingerprint and q_audio_neardup (expects a CTE `m` of
    * (media_id, text, len)): 65 window-energy sums over the fakepcm
    * bytes, then the 64 adjacent-delta bits — one definition so the two
    * gates can never disagree about what the fingerprint is.
    */
  // lazy: referenced by `entries` above during object init (same forward
  // reference phHashCtes handles the same way)
  private lazy val audioFpCtes: String =
    """en AS (
      |  SELECT media_id,
      |    [ list_sum([ abs(ord(substr(text, p + 1, 1)) - 128)
      |        for p in range((j * len) // 65, ((j + 1) * len) // 65) ])
      |      for j in range(0, 65) ] AS en
      |  FROM m),
      |b AS (
      |  SELECT media_id,
      |    [ CASE WHEN en[j + 2] > en[j + 1] THEN 1 ELSE 0 END
      |      for j in range(0, 64) ] AS bits
      |  FROM en)""".stripMargin

  private lazy val phHashCtes: String = {
    val ct = graft.ops.Multimodal.phCosTable.flatten.mkString("[", ", ", "]")
    s"""t AS (SELECT $ct AS ct),
       |gg AS (
       |  SELECT media_id,
       |    [ ord(substr(text, ((((p // 16) * h) // 16) * w + (((p % 16) * w) // 16)) % len + 1, 1))
       |      for p in range(0, 256) ] AS g
       |  FROM m),
       |co AS (
       |  SELECT media_id,
       |    [ list_sum([ cast(ct[((uv // 8) * 16) + (i // 16) + 1] AS BIGINT) * ct[((uv % 8) * 16) + (i % 16) + 1] * g[i + 1]
       |                 for i in range(0, 256) ])
       |      for uv in range(0, 64) ] AS c
       |  FROM gg, t),
       |md AS (SELECT media_id, c, list_sort(c[2:64])[32] AS med FROM co),
       |b AS (
       |  SELECT media_id,
       |    [ CASE WHEN i = 0 THEN 0 WHEN c[i + 1] > med THEN 1 ELSE 0 END
       |      for i in range(0, 64) ] AS bits
       |  FROM md)""".stripMargin
  }
}
