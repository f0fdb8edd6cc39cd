package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora — the library forms of the
  * oracle-verified queries in graft.queries.TextOps, generalized and tuned
  * for scale (xxhash64 instead of md5 where no oracle constrains the hash).
  *
  * Scale design per operator:
  *  - exact: one shuffle on the content hash (group-keep-min), no data
  *    movement of payloads beyond the hash+id projection.
  *  - ngramJaccardPairs: PPJoin-style prefix filtering over an inverted
  *    shingle index; candidate fan-out bounded by prefix fraction (1-t);
  *    add a shingle document-frequency cap for adversarial corpora.
  *  - minhashLshPairs: k min-hashes, b bands; candidate generation is an
  *    equi-join on (band, band-hash) — fan-out per bucket, never O(n²).
  *  - simhash64 + simhashNearPairs: 64-bit fingerprints; Hamming-≤-r pairs
  *    found by the pigeonhole band trick (split into r+1 chunks; any pair
  *    within distance r agrees exactly on some chunk) then exact popcount
  *    check on candidates.
  */
object Dedup {

  /** (idCol, "sh") distinct-shingle table; docs with < n tokens drop out.
    * Shingling runs through the native one-pass WordShingles expression
    * (value-equal to the composable HOF form — ShingleExprSpec).
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.ShingleExpr.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact dedup: keep the lowest-id row per distinct value of `cols`.
    * Returns the deduplicated table (all original columns).
    *
    * The window partitions on (hash, actual values): the hash alone is NOT
    * exact — at multi-billion-row scale 64-bit birthday collisions are
    * expected (~50% at 4B rows) and would silently drop distinct rows.
    * Prepending the hash keeps the shuffle key comparison cheap (equal
    * hashes short-circuit to full-value compare only within a hash bucket);
    * the values make the grouping exact.
    */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val h = xxhash64(cols.map(col): _*)
    df.withColumn("__h", h)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__h") +: cols.map(col): _*).orderBy(col(idCol))))
      .filter(col("__rk") === 1)
      .drop("__h", "__rk")
  }

  /** n-gram Jaccard pairs ≥ threshold via co-occurrence counting on the
    * inverted shingle index: |A∩B| is a groupBy count over the postings
    * self-join, |A∪B| comes from per-doc set sizes (a tiny broadcast side).
    * No shingle arrays ever cross a shuffle and no per-pair set
    * intersection runs — measured ~6× faster than the PPJoin
    * prefix-filter + array_intersect verify form it replaced (which paid
    * for its smaller index by shipping both full arrays per candidate).
    *
    * Scale: the postings self-join fans out Σ_g df(g)² — fine for natural
    * corpora (most shingles are near-unique) but quadratic on a shingle
    * shared by millions of docs. `dfCap` drops shingles with document
    * frequency > cap from the index. Capped counts can only shrink, so the
    * result is a conservative subset (false negatives only on pairs whose
    * similarity rests on ultra-common, non-discriminative shingles); exact
    * when dfCap = 0 (disabled).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, dfCap: Long = 0L): DataFrame =
    jaccardPairsFromShingles(shingled(docs, idCol, textCol, n), idCol,
      threshold, dfCap)

  /** The ngramJaccardPairs core over an ALREADY-shingled (idCol, "sh")
    * frame — for callers holding a persisted shingle table (e.g. the
    * bench's shared shingleDf) so one cached shingling serves several
    * pair-mining thresholds.
    */
  def jaccardPairsFromShingles(base: DataFrame, idCol: String,
      threshold: Double, dfCap: Long = 0L): DataFrame = {
    val sizes = base.select(col(idCol), size(col("sh")).as("__n"))
    val inv0 = base.select(col(idCol), explode(col("sh")).as("__g"))
    val inv =
      if (dfCap <= 0L) inv0
      else {
        val hot = inv0.groupBy("__g").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > dfCap).select("__g")
        inv0.join(hot, Seq("__g"), "left_anti")
      }
    // No broadcast hints: the sizes side is per-doc (billions of rows at
    // 100 TB) — Catalyst/AQE broadcasts it automatically when it IS small,
    // and falls back to a shuffled join when it isn't.
    inv.alias("x").join(inv.alias("y"),
        col("x.__g") === col("y.__g") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("a"), col("__n").as("__na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("__n").as("__nb")), "b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("__na") + col("__nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Probability that a pair with Jaccard similarity `j` shares at least
    * one of `bands` band buckets with `k / bands` rows per band — the LSH
    * S-curve 1 - (1 - j^r)^b. Use to size (k, bands) for a recall target.
    */
  def lshCollisionProb(j: Double, k: Int, bands: Int): Double = {
    require(bands > 0 && k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    1.0 - math.pow(1.0 - math.pow(j, r), bands)
  }

  /** The `bands` choice (a divisor of `k`) whose S-curve threshold — the
    * similarity where collision probability crosses 1/2, ≈ (1/b)^(1/r) —
    * sits closest to `targetJaccard`. Saves every MinHash caller the
    * band-math: more bands catch lower similarities (higher recall, more
    * candidates), fewer bands push the threshold up.
    */
  def bandsForThreshold(targetJaccard: Double, k: Int = 16): Int = {
    require(targetJaccard > 0 && targetJaccard < 1, s"bad target $targetJaccard")
    val divisors = (1 to k).filter(k % _ == 0)
    divisors.minBy { b =>
      val threshold = math.pow(1.0 / b, b.toDouble / k)
      math.abs(threshold - targetJaccard)
    }
  }

  /** (id, __j, __bh) MinHash band-bucket projection: `k` min-hashes split
    * into `bands` bands, one row per (doc, band). This is the shared LSH
    * index shape for batch pair-mining AND streaming near-dup screening
    * (column expressions only — runs unchanged on a streaming DataFrame).
    */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    // fused one-pass signature (== the HOF chain transform/array_min/xxhash64,
    // asserted in FingerprintExprsSpec, without k interpreted array passes)
    val sig = docs.select(col(idCol),
        graft.functions.FingerprintExprs.minhashSig(col(textCol), n, k).as("sg"))
      // docs with < n tokens have all-null signatures: drop them, matching
      // the shingled() path's size(sh) > 0 filter
      .filter(element_at(col("sg"), 1).isNotNull)
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("j"),
        xxhash64((0 until rows).map(r => element_at(col("sg"), j * rows + r + 1)): _*).as("bh"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.j").as("__j"), col("b.bh").as("__bh"))
  }

  /** Persist a corpus band index (the [[minhashBands]] projection) for
    * serve-later screening, partitioned by band id so a probe's equi-join
    * prunes to matching band directories — the text-dedup sibling of
    * Similarity.saveIvfIndex. Build once over the corpus; any later batch
    * or stream screens against it without re-fingerprinting the corpus.
    */
  def saveBandIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, n: Int = 3, k: Int = 16, bands: Int = 4): Unit = {
    minhashBands(docs, idCol, textCol, n, k, bands)
      .write.mode("overwrite").partitionBy("__j").parquet(s"$dir/bands")
    // the signature recipe is part of the index: a probe hashed with
    // different (n, k, bands) would silently match (almost) nothing, so
    // persist the parameters and let the probe path read them back
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((n, k, bands)).toDF("n", "k", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  /** Load a band index written by [[saveBandIndex]]: (bands frame,
    * (n, k, bands) recipe).
    */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, (Int, Int, Int)) = {
    // read by NAME, not ordinal: a rewritten params file with another
    // column order would silently swap n/k/bands and the probe hashing
    // would mismatch — the exact failure saveBandIndex exists to prevent
    val p = spark.read.parquet(s"$dir/params").head()
    (spark.read.parquet(s"$dir/bands"),
      (p.getAs[Int]("n"), p.getAs[Int]("k"), p.getAs[Int]("bands")))
  }

  /** Screen `probeDocs` against a saved corpus band index: one row per
    * (probe doc, corpus doc) candidate sharing any band bucket — the same
    * contract as DocStream.nearDupAgainstCorpus, minus the per-call corpus
    * fingerprinting. The probe side is hashed with the recipe STORED with
    * the index, so a parameter mismatch cannot silently disable the screen.
    */
  def nearDupAgainstSavedIndex(probeDocs: DataFrame, idCol: String,
      textCol: String, spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (index, (n, k, bands)) = loadBandIndex(spark, dir)
    nearDupAgainstIndex(probeDocs, idCol, textCol, index, n, k, bands)
  }

  /** Screen against an in-memory band index frame. (n, k, bands) MUST be
    * the recipe the index was built with — prefer [[nearDupAgainstSavedIndex]]
    * which reads the stored recipe. The index's id column is its single
    * non-`__`-prefixed column (position-independent).
    */
  def nearDupAgainstIndex(probeDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val probeIdx = minhashBands(probeDocs, idCol, textCol, n, k, bands)
    val indexIdCol = index.columns.filterNot(_.startsWith("__")) match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"band index must have exactly one id column (plus __j/__bh), got ${other.mkString(", ")}")
    }
    val corpusIdx = index.withColumnRenamed(indexIdCol, "__corpus_id")
    probeIdx.join(corpusIdx, Seq("__j", "__bh"))
      .select(col(idCol), col("__corpus_id").as("corpus_" + idCol))
      .dropDuplicates(idCol, "corpus_" + idCol)
  }

  /** MinHash-LSH candidate pairs: pairs sharing any band bucket.
    * (Candidates, not verified pairs — pipe into an exact Jaccard check
    * when false positives matter.)
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val bandDf = minhashBands(docs, idCol, textCol, n, k, bands)
    bandDf.alias("x").join(bandDf.alias("y"),
        col("x.__j") === col("y.__j") && col("x.__bh") === col("y.__bh") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** MinHash-LSH candidates verified with the exact Jaccard — the
    * production pipeline: cheap candidate generation, exact filter, no
    * false positives.
    *
    * The verify stage is CANDIDATE-DRIVEN: the inverted shingle index is
    * first semi-joined to the (small) set of doc ids appearing in any
    * candidate pair, so co-occurrence counting runs over candidate docs
    * only — never the whole corpus (that would cost the same as exact
    * n-gram dedup and defeat LSH). No shingle array crosses a shuffle;
    * |A∩B| rides a groupBy on the filtered index, |A| and |B| join in from
    * per-doc set sizes. At 100 TB persist the candidate set before this
    * (here the branches re-derive it from cached signatures).
    */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    val base = shingled(docs, idCol, textCol, n)
    val bandDf = minhashBands(docs, idCol, textCol, n, k, bands)
    val cand = bandDf.alias("x").join(bandDf.alias("y"),
        col("x.__j") === col("y.__j") && col("x.__bh") === col("y.__bh") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
    // id set of all candidate docs = docs in any band bucket with >= 2
    // members — one agg + semi-join, no second band self-join
    val hot = bandDf.groupBy("__j", "__bh").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") >= 2)
    val ids = bandDf.join(hot, Seq("__j", "__bh"), "left_semi")
      .select(col(idCol)).distinct()
    // No broadcast hint on the candidate-id semi-join: on a near-dup-heavy
    // corpus the candidate set is a large fraction of all doc ids and a
    // forced broadcast OOMs; AQE broadcasts when the set IS small (the
    // bench plan stays a BroadcastHashJoin) and shuffles when it isn't —
    // same rationale as jaccardPairsFromShingles above.
    val inv = base.select(col(idCol), explode(col("sh")).as("__g"))
      .join(ids, Seq(idCol), "left_semi")
    val sizes = base.select(col(idCol), size(col("sh")).as("__n"))
    val common = inv.alias("x").join(inv.alias("y"),
        col("x.__g") === col("y.__g") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .agg(count(lit(1)).as("__common"))
    cand.join(common, Seq("a", "b"))
      .join(sizes.select(col(idCol).as("a"), col("__n").as("__na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("__n").as("__nb")), "b")
      .withColumn("jaccard", col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Containment/plagiarism pairs via winnowing fingerprints: documents
    * sharing >= minShared fingerprints (guaranteed for any common substring
    * of length >= w + k - 1). Inverted index on fingerprints — same
    * scale shape as the shingle index, but robust to reordering and
    * insertion of surrounding text.
    *
    * `dfCap` is the same guard [[ngramJaccardPairs]] carries: the self-join
    * fan-out is Σ_f df(f)², quadratic when one fingerprint (corpus-wide
    * boilerplate) appears in a corpus-scale fraction of docs. Capping drops
    * fingerprints with document frequency > cap from the index; shared_fp
    * counts only shrink, so the capped result is a conservative subset —
    * exact when 0 (disabled). Size the cap as an ABSOLUTE constant around
    * 10-100× the expected duplicate-cluster size, never a corpus fraction
    * (a fraction re-admits the quadratic term as the corpus grows).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      md5Mode: Boolean = false, dfCap: Long = 0L): DataFrame = {
    // single-file sources arrive as ONE partition and the fingerprint scan
    // is the expensive stage (one hash per character) — spread it BEFORE
    // computing; it also runs once per self-join branch (no cross-branch
    // CSE), doubling whatever it costs
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val fp0 = spread.select(col(idCol),
      explode(array_distinct(
        graft.functions.TextExprs.winnowFingerprints(col(textCol), k, w, md5Mode))).as("f"))
    val fp =
      if (dfCap <= 0L) fp0
      else fp0.join(
        fp0.groupBy("f").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > dfCap).select("f"),
        Seq("f"), "left_anti")
    fp.alias("x").join(fp.alias("y"),
        col("x.f") === col("y.f") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** CROSS-DOCUMENT span-level substring dedup (the Pile 32-gram recipe,
    * Lee et al. 2021, at fingerprint granularity): matching SPANS between
    * document pairs, candidates strictly from winnowing-fingerprint
    * buckets — never all-pairs.
    *
    *  1. per doc: winnowing fingerprints WITH positions
    *     ([[graft.functions.WinnowFingerprintPositions]]) — any shared
    *     substring of length >= w + k - 1 shares >= 1 fingerprint at the
    *     same offset within the copied region;
    *  2. fingerprint-bucket join (x.f = y.f, a < b) yields matched
    *     occurrences (a, pa, b, pb); a true copied substring puts all its
    *     matches on ONE DIAGONAL (pb - pa constant) — the plagiarism-
    *     chain alignment trick;
    *  3. gaps-and-islands per (a, b, diagonal) over pa (gap <= mergeGap,
    *     default w + k - 1: winnowing picks >= 1 fingerprint per w-window
    *     inside a copied region, so true spans never break) merges
    *     matches into maximal spans; spans shorter than `minSpanChars`
    *     (default w + k - 1, the detection-guarantee floor) drop —
    *     including every single-fingerprint island (k < w + k - 1), which
    *     also kills the off-diagonal noise from repeated fingerprint
    *     values inside a doc.
    *
    * Returns (a, b, a_start, b_start, n_fp, span_chars), starts 1-BASED
    * (the SQL substr convention), span_chars = last matched gram start +
    * k - first. OFFSET UNIT: positions and lengths are UTF-8 BYTE offsets
    * (WinnowFingerprintPositions walks `UTF8String.getBytes`), which equal
    * character offsets only on ASCII text. On multibyte corpora the
    * numbers are still correct byte spans — safe for byte-wise slicing or
    * re-detection — but must NOT be fed to character-indexed `substr`;
    * convert first (or slice the UTF-8 bytes), exactly as the md5Mode
    * scoping note on [[Dedup.crossDocApply]]'s oracle does. Scale: the
    * only join key is the fingerprint — d rows per
    * fingerprint, never d² docs; `dfCap` (like [[containmentPairs]])
    * drops boilerplate fingerprints hotter than the cap on adversarial
    * corpora.
    */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, w: Int = 8, mergeGap: Int = 0, minSpanChars: Int = 0,
      md5Mode: Boolean = false, dfCap: Long = 0L): DataFrame = {
    val gap = if (mergeGap > 0) mergeGap else w + k - 1
    val minChars = if (minSpanChars > 0) minSpanChars else w + k - 1
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
    // array_distinct BEFORE the explode: map-side (zero-shuffle) source
    // dedup of the (pos, f) selections — one position carries exactly one
    // fingerprint (the k-gram hash is a function of the position), so
    // this makes every occ row unique, which in turn makes the matched
    // pair rows below unique by construction (see the m note)
    val occ0 = spread.select(col(idCol),
        explode(array_distinct(
          graft.functions.TextExprs.winnowFingerprintPositions(
            col(textCol), k, w, md5Mode))).as("o"))
      .select(col(idCol), (col("o.pos") + 1).cast("long").as("pos"),
        col("o.f").as("f"))
    val occ1 =
      if (dfCap <= 0L) occ0
      else occ0.join(
        occ0.groupBy("f").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > dfCap).select("f"),
        Seq("f"), "left_anti")
    // materialize the occurrence index ONCE: the self-join has no
    // cross-branch CSE, so an unpinned plan would run the whole
    // fingerprint scan (one md5 per character in md5Mode) twice — measured
    // 1.8x over linear at 10x before this. (id, pos, f) rows only —
    // ~24 B per selected fingerprint, a small fraction of the corpus.
    val occ = occ1.localCheckpoint(true)
    // NO pair-level distinct (optimization round 16, guide §2.3 "shuffle
    // fewer bytes"): `occ` above is deduplicated at the SOURCE, so one
    // (id, pos) carries exactly one fingerprint and the join output
    // (a, b, pa, pb) is unique BY CONSTRUCTION — f is a function of
    // (a, pa), so two match rows could only collide by duplicating an occ
    // row. The old `.distinct()` here shuffled the full matched-occurrence
    // stream — THE volume of this operator, 10.1 GB at the 100× arm
    // (SCALE.md r14) — a second time just to re-prove that uniqueness;
    // m now flows straight into the island window's (a, b, diag)
    // exchange. (An attempted alternative — repartition(a, b, diag) +
    // distinct sharing one exchange — was measured at 100× and REVERTED:
    // it dropped the map-side partial dedup and concentrated hot
    // document-pairs into single aggregate partitions, OOMing the arm.)
    val m = occ.alias("x").join(occ.alias("y"),
        col("x.f") === col("y.f") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"),
        (col("y.pos") - col("x.pos")).as("diag"))
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "diag").orderBy("pa")
    m.withColumn("bk",
        when(col("pa") - lag(col("pa"), 1).over(byDiag) <= gap.toLong, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("bk")).over(
        byDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("a", "b", "diag", "island")
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        count(lit(1)).as("n_fp"),
        (max(col("pa")) + k.toLong - min(col("pa"))).as("span_chars"))
      .filter(col("span_chars") >= minChars.toLong)
      .select("a", "b", "a_start", "b_start", "n_fp", "span_chars")
  }

  /** The APPLY half of [[crossDocSpans]] — the second step of the Lee et
    * al. 2021 (arXiv:2107.06499) exact-substring recipe: the detected
    * cross-document spans are REMOVED under a keep-first policy (each
    * reported span survives in the lower-id doc `a`, is cut from the
    * higher-id doc `b` — one copy of every duplicated passage remains in
    * the corpus), and the surviving text is reported per affected doc.
    *
    * Algebra, all relational and linear in span count:
    *  1. b-side intervals [b_start, b_start + span_chars - 1] (1-based
    *     inclusive, SAME byte-offset unit as crossDocSpans — see its
    *     offset-unit scaladoc);
    *  2. per-doc interval MERGE (overlapping or adjacent spans from
    *     different partners coalesce): gaps-and-islands over a running
    *     max(end) window — a new island starts when this start exceeds
    *     every previous end + 1;
    *  3. the kept text is rebuilt by a cursor fold (`aggregate` HOF) over
    *     the doc's sorted merged intervals — concat of the inter-island
    *     segments; the oracle rebuilds it INDEPENDENTLY as the
    *     complement-segment string_agg, so the gate cross-checks two
    *     different constructions of the same string.
    *
    * Returns one row per AFFECTED doc: (idCol, n_spans [merged],
    * dup_chars, kept_chars, kept_tokens [surviving \\S+ runs],
    * kept_md5i [md5 prefix of the rebuilt text as BIGINT]). Docs with no
    * b-side span are untouched and not reported. Scale: interval merge is
    * a per-doc window over span rows (not text), the rebuild touches each
    * affected doc's text once — both map-side next to the crossDocSpans
    * cost itself.
    */
  def crossDocApply(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val iv = spans.select(col("b").as(idCol), col("b_start").as("s"),
      (col("b_start") + col("span_chars") - 1L).as("e"))
    val w = Window.partitionBy(idCol).orderBy("s")
    val runMax = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv
      .withColumn("bk",
        when(col("s") <= runMax + 1L, 0L).otherwise(1L)) // null runMax → 1
      .withColumn("g", sum(col("bk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("g"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
    val byDoc = merged.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_spans"),
      sum(col("me") - col("ms") + 1L).as("dup_chars"),
      array_sort(collect_list(struct(col("ms"), col("me")))).as("ivs"))
    docs.join(byDoc, idCol)
      .withColumn("kept_text", expr(
        s"""aggregate(ivs,
           |  named_struct('cur', cast(1 as bigint), 'acc', ''),
           |  (a, iv) -> named_struct(
           |    'cur', iv.me + 1L,
           |    'acc', concat(a.acc, substring($textCol,
           |             cast(a.cur as int), cast(iv.ms - a.cur as int)))),
           |  a -> concat(a.acc,
           |         substring($textCol, cast(a.cur as int), 2147483647)))
           |""".stripMargin))
      .select(col(idCol), col("n_spans"), col("dup_chars"),
        length(col("kept_text")).cast("long").as("kept_chars"),
        size(regexp_extract_all(col("kept_text"), lit("\\S+"), lit(0)))
          .cast("long").as("kept_tokens"),
        conv(substring(md5(col("kept_text")), 1, 15), 16, 10)
          .cast("long").as("kept_md5i"))
  }

  /** 64-bit SimHash fingerprint per document from distinct-token hashes:
    * bit b of the fingerprint is the sign of Σ_tokens (2·bit_b(h(token))−1).
    *
    * Computed by the fused [[graft.functions.SimHash64]] expression — a
    * map-only scan, where the equivalent relational form (explode tokens →
    * groupBy(doc) with 64 bit-sums; asserted equal in FingerprintExprsSpec)
    * shuffles every token row. Docs with no tokens drop out, as the explode
    * form would drop them.
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull && col(textCol).rlike("\\S"))
      .select(col(idCol),
        graft.functions.FingerprintExprs.simhash64(col(textCol)).as("simhash"))

  /** Pairs with Hamming(simhash) <= maxDist via the pigeonhole band trick:
    * split 64 bits into maxDist+1 chunks; any qualifying pair matches
    * exactly on >= 1 chunk → equi-join per chunk, exact popcount check.
    */
  def simhashNearPairs(sim: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("simhash"), c * width)
          .bitwiseAND((1L << width) - 1).as("ck"))
    }
    val ex = sim.select(col(idCol), col("simhash"),
        explode(array(chunkCols: _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.c").as("__c"), col("b.ck").as("__ck"))
    ex.alias("x").join(ex.alias("y"),
        col("x.__c") === col("y.__c") && col("x.__ck") === col("y.__ck") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Exact-substring duplicate spans: maximal token runs that appear
    * (as a k-token gram somewhere within them) in >= minDocs documents —
    * the distributed relational form of the suffix-array "ExactSubstr"
    * dedup of Lee et al. 2021 (arXiv:2107.06499), which removes verbatim
    * repeated spans rather than whole near-duplicate documents.
    *
    * Algorithm: positioned k-grams (one row per token position) → gram
    * document frequency (one shuffle on the gram) → keep positions whose
    * gram occurs in >= minDocs docs → merge positions into maximal spans
    * per document (gaps-and-islands over a doc-partitioned window: a new
    * island starts when the next duplicated position is > k tokens after
    * the previous one, i.e. the k-gram windows no longer overlap or touch)
    * → spans of >= minSpanTokens tokens.
    *
    * Scale: every stage is linear in total token count — the gram groupBy
    * and the position⋈dup-gram join both shuffle on the gram key (never
    * pairs of documents, unlike the Jaccard index forms: a gram shared by
    * d docs contributes d rows here, not d² candidate pairs), and the
    * island merge is a per-document window. No Σ df² term, so no dfCap
    * needed.
    *
    * Output: (idCol, span_start, span_tokens), span_start 1-based.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2, minSpanTokens: Int = 8): DataFrame = {
    val grams = docs
      .select(col(idCol),
        posexplode(graft.functions.ShingleExpr.orderedShingles(col(textCol), k))
          .as(Seq("p0", "gram")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("p"), col("gram"))
    val dup = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("gram")
    // hint-free: the duplicated-gram side is usually small but is corpus-
    // dependent (boilerplate-heavy corpora); AQE picks broadcast vs shuffle
    val dupPos = grams.join(dup, "gram").select(col(idCol), col("p"))
    val wOrd = Window.partitionBy(idCol).orderBy("p")
    dupPos
      .withColumn("__b",
        when(col("p") - lag(col("p"), 1).over(wOrd) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("__island", sum(col("__b")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + k - min(col("p"))).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col(idCol), col("span_start"), col("span_tokens"))
  }

  /** C4-style corpus-wide line-level dedup (reference scope: the pipeline
    * layer beyond pandas-db's SQL surface; cf. the C4 paper's three-sentence
    * span rule): each document is split into consecutive `width`-token
    * lines (trailing remainder dropped), a duplicated line survives only at
    * its FIRST corpus occurrence — minimal (id, position) — and documents
    * are reassembled from their surviving lines in order.
    *
    * Returns (idCol, n_lines, n_kept, rebuilt) — `rebuilt` is NULL when
    * every line of the document was a later duplicate.
    *
    * Scale: one shuffle keyed on the LINE TEXT itself (exact — no hash
    * collision can merge distinct lines), one shuffle-join back (AQE
    * decides broadcast vs shuffle from the first-occurrence frame's runtime
    * size), one shuffle on id to reassemble. The line key is ≤ width
    * tokens, so shuffle rows stay bounded; no global window anywhere.
    */
  /** (idCol, __nl, pos, line) — each document's consecutive `width`-token
    * lines with their position; trailing sub-width remainders drop. The
    * shared line frame of [[lineDedup]] and the streaming screen (which
    * re-derives a curated doc's lines from its rebuilt text — valid
    * because every kept line is exactly `width` tokens).
    */
  def docLines(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    docs
      .select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__w"))
      .withColumn("__nl", expr(s"size(__w) div $width").cast("int"))
      .filter(col("__nl") >= 1)
      // explode a cheap INDEX sequence and build each line string AFTER
      // the Generate — not a precomputed array of line strings. With the
      // line array as the generator input, InferFiltersFromGenerate
      // derives size/notnull predicates over the WHOLE array expression,
      // pushes them below upstream filters, and codegen's subexpression
      // elimination then evaluates the full per-line build for EVERY
      // scanned row before any cheap pushed filter can short-circuit —
      // measured 33 s for a 400-doc slice of a 500k-row table (vs <1 s
      // here; the inferred predicate over sequence() costs one
      // size(regexp) per row, which the projection needs anyway)
      .select(col(idCol), col("__nl"), col("__w"),
        posexplode(sequence(lit(0), col("__nl") - 1)).as(Seq("pos", "__i")))
      .select(col(idCol), col("__nl"), col("pos"),
        array_join(slice(col("__w"), col("pos") * width + 1, lit(width)), " ")
          .as("line"))

  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    val lines = docLines(docs, idCol, textCol, width)
    // (id, n_lines) of every line-bearing doc WITHOUT re-tokenizing the
    // full text: one small distinct over the already-derived line frame
    val base = lines.select(col(idCol), col("__nl")).distinct()
    // first corpus occurrence per line value: struct min orders by
    // (id, pos) lexicographically — one exact shuffle on the line text
    val firsts = lines.groupBy("line")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
    val kept = lines.join(firsts, "line")
      .filter(struct(col(idCol), col("pos")) === col("__first"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("rebuilt"))
    base.select(col(idCol), col("__nl").cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rebuilt"))
  }

  /** BOILERPLATE removal, the frequency rule [[lineDedup]]'s keep-first
    * rule is not: a line whose distinct-DOCUMENT frequency within its
    * `groupCol` (site/domain) reaches `minDocs` is template chrome (nav,
    * footer, cookie banner) and is removed from EVERY document — keeping
    * one copy, as lineDedup would, still poisons that one doc. Lines
    * below the threshold survive everywhere, repeated or not.
    *
    * Scale shape: the line explode is map-side; one exact shuffle keyed
    * on (group, line) finds the frequent set (countDistinct docs,
    * partial-aggregated); the removal is a left_anti equi-join on the
    * same key; the rebuild is one id-keyed aggregation. The frequent set
    * is ≤ templates-per-site — tiny — but rides the join as a keyed
    * frame, never a driver collect. Returns (idCol, n_lines, n_kept,
    * rebuilt) like lineDedup.
    */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, width: Int = 8, minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"boilerplate: minDocs must be >= 2, got $minDocs")
    // materialize ONCE: `lines` feeds three branches of one plan (the
    // frequency count, the anti-join probe, and the per-doc base) and
    // Spark has no common-subplan reuse across differing aggregations —
    // without this checkpoint the tokenize+explode+join subtree would
    // execute three times per run (same convention as
    // ConnectedComponents.components' pair input)
    val lines = docLines(docs, idCol, textCol, width)
      .join(docs.select(col(idCol), col(groupCol)), idCol)
      .localCheckpoint(true)
    val frequent = lines.groupBy(col(groupCol), col("line"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col(groupCol), col("line"))
    val kept = lines.join(frequent, Seq(groupCol, "line"), "left_anti")
    val base = lines.select(col(idCol), col("__nl")).distinct()
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("rebuilt"))
    base.select(col(idCol), col("__nl").cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rebuilt"))
  }
}
