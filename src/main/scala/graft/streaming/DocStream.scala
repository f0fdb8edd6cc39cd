package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** Streaming document ingestion with near-duplicate screening — the
  * training-data-pipeline shape where a firehose of new documents must be
  * checked against the corpus you already hold before admission.
  *
  * The screen is MinHash-LSH as a STREAM-STATIC join: the static corpus is
  * indexed once into (band, band-hash) bucket rows (Dedup.minhashBands — pure
  * column expressions, so the very same code runs on the streaming side),
  * and each micro-batch equi-joins its bands against that index. No state
  * store is involved for the screen itself (the static side is the state),
  * so stream throughput is bounded by the bucket join, not by stream length.
  *
  * At 100 TB: persist the corpus band index bucketed by (band, hash)
  * (ops.Partitioning.saveBucketed) so each micro-batch's shuffle co-locates
  * with the index layout instead of re-shuffling the corpus.
  */
object DocStream {

  /** Schema of the documents table (matches documents.parquet). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based streaming source over a directory of document json/parquet. */
  def readDocs(spark: SparkSession, dir: String, format: String = "json"): DataFrame =
    spark.readStream.schema(docSchema).format(format).load(dir)

  /** Flag streamed documents that are near-dup candidates of a static
    * corpus: any shared MinHash band bucket. Returns one row per
    * (incoming doc, matched corpus doc) candidate pair — pipe into an exact
    * verifier (Dedup-style jaccard on shingle sets) when false positives
    * matter; with the default 4 bands × 4 rows the candidate rate for
    * jaccard-0.8 pairs is 1-(1-0.8^4)^4 ≈ 87%, rising steeply with j.
    */
  def nearDupAgainstCorpus(streamDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val corpusIdx = Dedup.minhashBands(corpus, "doc_id", "text", n, k, bands)
      .select(col("doc_id").as("corpus_doc_id"), col("__j"), col("__bh"))
    val streamIdx = Dedup.minhashBands(streamDocs, "doc_id", "text", n, k, bands)
    streamIdx.join(corpusIdx, Seq("__j", "__bh"))
      .select(col("doc_id"), col("corpus_doc_id"))
      .dropDuplicates("doc_id", "corpus_doc_id")
  }

  /** The full curation ingest loop: per micro-batch, exact-dedup the batch,
    * screen it against everything already admitted to `curatedDir`, and
    * append only the novel documents. Because the corpus is re-read per
    * batch, batch N+1 screens against batch N's admissions — the
    * read-your-own-writes loop a curation pipeline needs, without any
    * streaming state store (the curated table IS the state, checkpointed
    * exactly-once by the sink's batch id tracking... here idempotent-enough
    * append; a production sink would write a transactional table format).
    *
    * With `exactPrefilter` on, a driver-side Bloom filter of admitted text
    * fingerprints rides across batches as INCREMENTAL state: seeded from
    * the curated table once (so restarts recover it), then merged with
    * each batch's admissions (mergeable at a fixed capacity, like the HLL
    * sketch store). Docs the filter rules out are definitely-novel at the
    * exact-duplicate level and skip the fingerprint anti-join; "maybe"
    * docs confirm exactly, so admissions are IDENTICAL with the prefilter
    * on or off — it only cuts per-batch screen cost (the near-dup band
    * screen still runs on what survives).
    *
    * Null-text contract: null-text docs collapse to one WITHIN a batch
    * (Dedup.exact's window groups nulls together) but are never
    * cross-batch duplicates — SQL null-equality semantics: a null text
    * matches nothing, has no fingerprint, and produces no bands, so one
    * such doc is admitted per batch that carries any (identically with
    * the prefilter on or off; StreamingSpec pins it). Screen empty docs
    * out upstream with a quality filter if they are unwanted.
    */
  def curateStream(streamDocs: DataFrame, curatedDir: String,
      checkpointDir: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, exactPrefilter: Boolean = true,
      bloomCapacity: Long = 1L << 20): org.apache.spark.sql.streaming.StreamingQuery = {
    // fixed-capacity so per-batch filters stay mergeInPlace-compatible
    var admittedFp: org.apache.spark.util.sketch.BloomFilter = null
    def fpOf(df: DataFrame): DataFrame = df.select(md5(col("text")).as("__fp"))
    streamDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh = Dedup.exact(batch, "doc_id", Seq("text"))
        // Only "corpus doesn't exist yet" (first batch) may yield an empty
        // corpus; any other read failure (FS hiccup, corrupt footer,
        // permissions) must fail the batch so the checkpoint retries it —
        // otherwise the near-dup screen silently disengages and the batch's
        // duplicates are admitted.
        val curatedExists = {
          val p = new org.apache.hadoop.fs.Path(curatedDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        val curated =
          if (curatedExists) spark.read.schema(docSchema).parquet(curatedDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
        if (exactPrefilter && admittedFp == null && !curated.isEmpty) {
          // restart/seed path: one distributed pass over the admitted table
          admittedFp = fpOf(curated).stat.bloomFilter("__fp", bloomCapacity, 0.01)
        }
        val screened =
          if (admittedFp == null) fresh
          else {
            val f = fresh.withColumn("__fp", md5(col("text")))
            val probe = graft.functions.BloomExprs.mightContain(col("__fp"), admittedFp)
            // no false negatives: !probe rows cannot be exact dups of any
            // admitted doc; probe rows confirm against the real fingerprints.
            // null-text docs need an explicit arm: __fp is null, the probe
            // null-propagates, and BOTH filter arms would drop the row —
            // admissions must be identical with the prefilter on or off
            // (schema allows null text, and the band screen admits them).
            f.filter(col("__fp").isNull || !probe)
              .unionByName(f.filter(col("__fp").isNotNull && probe)
                .join(fpOf(curated), Seq("__fp"), "left_anti"))
              .drop("__fp")
          }
        val novel =
          if (curated.isEmpty) screened
          else {
            val dupIds = nearDupAgainstCorpus(screened, curated, n, k, bands)
              .select("doc_id").distinct()
            screened.join(dupIds, Seq("doc_id"), "left_anti")
          }
        // novel is LAZY over the curated table, and persist() would NOT pin
        // it: the parquet append fires recacheByPath on curatedDir, which
        // RECOMPUTES any cache reading that path against the just-written
        // files — the anti-join would erase novel after its own write. An
        // eager localCheckpoint severs the lineage entirely.
        val pinned = novel.localCheckpoint(true)
        val hasNovel = !pinned.isEmpty
        pinned.write.mode("append").parquet(curatedDir)
        if (exactPrefilter && hasNovel) {
          val nb = fpOf(pinned).stat.bloomFilter("__fp", bloomCapacity, 0.01)
          if (admittedFp == null) admittedFp = nb else admittedFp.mergeInPlace(nb)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  // ---- stateful sequence packing (streaming twin of q_pack_sequences) ----

  case class PackDoc(lang: String, doc_id: Long, n_tok: Long)
  case class PackState(cumTokens: Long, nDocs: Long)
  case class ShardAssignment(lang: String, doc_id: Long, n_tok: Long, shard: Long)
  case class PackProgress(lang: String, n_docs: Long, cum_tokens: Long,
      open_shard: Long, tokens_into_shard: Long)

  /** Tokenize a document stream into the packer's input shape (whitespace
    * token count, the q_pack_sequences convention).
    */
  def toPackDocs(streamDocs: DataFrame): Dataset[PackDoc] = {
    import streamDocs.sparkSession.implicits._
    streamDocs.select(col("lang"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tok"))
      .as[PackDoc]
  }

  /** Assign each arriving doc to a fixed-token-budget shard, continuing
    * across micro-batches: the keyed state is one running token counter per
    * language, so `shard = floor(tokens-before-this-doc / budget)` — the
    * exclusive-prefix greedy packer of q_pack_sequences, as a stream. A
    * doc's shard is decided the moment it arrives and never revised, which
    * is what lets a downstream writer close and ship shard files while the
    * stream is still running.
    *
    * flatMapGroupsWithState (not foreachBatch): the counter is genuinely
    * cross-batch state, checkpointed with the query, one row per language —
    * state size is O(#languages) no matter the stream length. Within a
    * batch, docs pack in doc_id order for determinism under file-source
    * batching.
    */
  def packStream(docs: Dataset[PackDoc], budget: Long): Dataset[ShardAssignment] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[PackState, ShardAssignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, batch: Iterator[PackDoc], state: GroupState[PackState]) =>
          var s = state.getOption.getOrElse(PackState(0L, 0L))
          val out = batch.toSeq.sortBy(_.doc_id).map { d =>
            val shard = s.cumTokens / budget
            s = PackState(s.cumTokens + d.n_tok, s.nDocs + 1)
            ShardAssignment(lang, d.doc_id, d.n_tok, shard)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Per-language packing progress via mapGroupsWithState — exactly one
    * updated summary row per language per trigger (Update-mode sink shows
    * the open shard and how full it is). Same state row as a packStream
    * query would hold; useful as the monitoring face of the packer.
    */
  def packProgress(docs: Dataset[PackDoc], budget: Long): Dataset[PackProgress] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .mapGroupsWithState[PackState, PackProgress](GroupStateTimeout.NoTimeout) {
        (lang: String, batch: Iterator[PackDoc], state: GroupState[PackState]) =>
          var s = state.getOption.getOrElse(PackState(0L, 0L))
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            s = PackState(s.cumTokens + d.n_tok, s.nDocs + 1)
          }
          state.update(s)
          PackProgress(lang, s.nDocs, s.cumTokens,
            s.cumTokens / budget, s.cumTokens % budget)
      }
  }

  // ---- streaming line-level dedup (twin of ops.Dedup.lineDedup) ----

  /** Corpus-wide line dedup over a document STREAM: per micro-batch,
    * first-occurrence line dedup WITHIN the batch (ops.Dedup.lineDedup),
    * then every line already present in the curated table is stripped, and
    * docs that still have lines append (doc_id, text=rebuilt, n_lines,
    * n_kept). Same read-your-own-writes shape as [[curateStream]]: the
    * curated table IS the cross-batch state, so batch N+1 dedups against
    * batch N's admissions and a restart recovers state by re-reading the
    * table — no state store holds the (unbounded) line set.
    *
    * The curated side's lines re-derive from its rebuilt text: every kept
    * line is exactly `width` tokens, so re-chunking the rebuilt text
    * reproduces the kept lines verbatim ([[Dedup.docLines]]). The strip is
    * an exact anti-join on the line text (no sketch, no false positives) —
    * admissions equal batch lineDedup over the concatenated stream when
    * ids follow arrival order. Docs whose every line is a duplicate are
    * dropped entirely (the batch twin reports them as NULL rebuilt).
    *
    * At 100 TB: the per-batch anti-join reads the curated table's lines —
    * persist the curated table bucketed on a line-hash-derived key (or keep
    * a compacted distinct-line side table) so the stream's shuffle
    * co-locates instead of re-deriving corpus lines per batch.
    */
  def lineDedupStream(streamDocs: DataFrame, curatedDir: String,
      checkpointDir: String,
      width: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val within = Dedup.lineDedup(batch, "doc_id", "text", width)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("rebuilt").as("text"),
            col("n_lines"), col("n_kept"))
        val p = new org.apache.hadoop.fs.Path(curatedDir)
        val exists =
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        val out =
          if (!exists) within
          else {
            val curLines = Dedup
              .docLines(spark.read.parquet(curatedDir), "doc_id", "text", width)
              .select(col("line")).distinct()
            val lines = Dedup.docLines(within, "doc_id", "text", width)
              .join(curLines, Seq("line"), "left_anti")
            lines.groupBy(col("doc_id"))
              .agg(count(lit(1)).as("n_kept"),
                array_join(transform(
                  array_sort(collect_list(struct(col("pos"), col("line")))),
                  x => x.getField("line")), " ").as("text"))
              .join(within.select(col("doc_id"), col("n_lines")), "doc_id")
              .select(col("doc_id"), col("text"), col("n_lines"), col("n_kept"))
          }
        // sever lineage before the append — same recacheByPath hazard as
        // curateStream: `out` reads curatedDir and the write invalidates it
        val pinned = out.localCheckpoint(true)
        if (!pinned.isEmpty) pinned.write.mode("append").parquet(curatedDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** STATE-STORE exact dedup of a document stream: Spark's native
    * streaming `dropDuplicates` keyed on a content fingerprint
    * (md5(text)) — first arrival of each content wins, across micro
    * batches, with the seen-set held in the checkpointed state store
    * instead of being re-derived from the curated table every batch
    * ([[curateStream]]'s read-your-own-writes shape). The complementary
    * trade: O(1) per-row probe and no per-batch corpus scan, but state
    * grows with distinct content forever unless bounded.
    *
    * `withinWatermark` bounds it: with an `arrival_ts` watermark of that
    * duration, Spark's `dropDuplicatesWithinWatermark` evicts fingerprints
    * older than the horizon — the "duplicates arrive near each other"
    * contract of a crawl frontier (re-crawls beyond the horizon
    * re-admit; compose [[graft.ops.Layout.ingest]] downstream when
    * cross-horizon exactness matters). At 100 TB/day ingest, unbounded
    * state is a leak, so production streams should always pass a horizon.
    *
    * NULL text carries no content to be duplicate OF, and
    * `dropDuplicates` treats NULL keys as equal — fingerprinting
    * `md5(text)` directly would silently drop every null-text document
    * after the first as a "duplicate" of it. Null-text rows therefore
    * bypass the dedup state entirely and pass through unchanged.
    *
    * Returns the deduped stream (append output mode) — compose with any
    * sink, e.g. [[versionedSink]].
    */
  def dedupStream(streamDocs: DataFrame,
      withinWatermark: Option[String] = None): DataFrame = {
    val nulls = streamDocs.filter(col("text").isNull)
    val fp = streamDocs.filter(col("text").isNotNull)
      .withColumn("__fp", md5(col("text")))
    val deduped = withinWatermark match {
      case Some(horizon) =>
        fp.withColumn("arrival_ts", current_timestamp())
          .withWatermark("arrival_ts", horizon)
          .dropDuplicatesWithinWatermark("__fp")
          .drop("arrival_ts")
      case None => fp.dropDuplicates("__fp")
    }
    deduped.drop("__fp").unionByName(nulls)
  }

  /** Stream → batch-VERSIONED store: every non-empty micro-batch lands as
    * its own `ingest_batch=N` level under the partition dirs, published by
    * one store commit ([[graft.ops.Layout.appendBatch]]; an empty batch
    * publishes nothing and takes no id), so downstream consumers follow
    * the live stream incrementally with [[graft.ops.Layout.readNew]] —
    * directory-pruned "everything since my checkpoint", no streaming
    * state store, consumers fully decoupled from the ingest query.
    *
    * The one-streaming-query-per-store rule IS appendBatch's
    * single-producer protocol; Spark already enforces one active query
    * per checkpoint. Batch-id semantics across restarts: Layout batch ids
    * are allocated per store COMMIT, so a replayed micro-batch (failure
    * between the store commit and Spark's checkpoint commit) appends again
    * under a NEW id —
    * at-least-once, like the other append sinks here; consumers needing
    * exactly-once dedup the replay by content key downstream, or write
    * through [[ingestSink]] which builds that screen into the sink.
    */
  def versionedSink(streamDocs: DataFrame, dir: String, checkpointDir: String,
      partitionCol: String, sortCols: Seq[String]):
      org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Layout.appendBatch(batch, dir, partitionCol, sortCols)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Stream → EXACTLY-ONCE-content store: each micro-batch lands through
    * [[graft.ops.Layout.ingest]]'s key screen instead of a plain append,
    * so a micro-batch REPLAYED after a crash between the store commit and
    * Spark's checkpoint commit re-arrives with every key already present and
    * appends nothing — the at-least-once replay the other sinks document
    * ([[versionedSink]]) is absorbed by content addressing, turning
    * at-least-once delivery into exactly-once CONTENT. The same screen
    * also drops late cross-batch duplicates (same key, later arrival),
    * which is the crawl-ingest contract; a key whose PAYLOAD legitimately
    * changes needs [[graft.ops.Layout.merge]] semantics, not ingest.
    * Crash-simulated in StreamingSpec (kill after write, replay, count
    * once) and gated end-to-end as q_stream_replay_ingest.
    */
  def ingestSink(streamDocs: DataFrame, dir: String, checkpointDir: String,
      partitionCol: String, sortCols: Seq[String],
      keyExpr: org.apache.spark.sql.Column):
      org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Layout.ingest(batch, dir, partitionCol, sortCols, keyExpr)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** STREAMING drift monitor: per micro-batch, the exact total-variation
    * distance of `column`'s equi-width histogram against a PINNED
    * reference histogram, appended as one row
    * (batch_id, n_ref, n_cur, tv, psi, ks, js) to `monitorDir` — the alarm wire of a
    * live ingest ("this hour's crawl no longer looks like the accepted
    * corpus"), built from the SAME exact machinery the batch gate uses
    * ([[graft.ops.Validate.driftHistogram]]/totalVariation), so a
    * streaming alert is replayable as a batch query after the fact.
    *
    * The reference is captured ONCE up front (buckets-sized, reused by
    * every batch from the driver); per batch the stream side is one
    * map-side histogram aggregation — state-free, so stream length never
    * grows anything. Alert policy (threshold on `tv`) is the consumer's.
    */
  def driftMonitor(streamDocs: DataFrame, reference: DataFrame,
      column: String, lo: Double, width: Double, buckets: Int,
      monitorDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Validate
    // pin the reference histogram now — buckets-sized rows on the driver
    val refRows = Validate
      .driftHistogram(reference, reference.limit(0), column, lo, width, buckets)
      .select(col("bucket"), col("n_ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    streamDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val ref = refRows.toDF("bucket", "n_ref")
        val cur = batch.filter(col(column).isNotNull)
          .select(least(greatest(
            floor((col(column).cast("double") - lo) / width), lit(-1L)),
            lit(buckets.toLong)).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_cur"))
        // buckets-sized: pin it so tv/psi/ks (and ks's self-join sides)
        // share one computation of the histogram instead of three
        val drift = ref.join(cur, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur"))
          .localCheckpoint(true)
        // the full monitoring family per micro-batch — TV (linear mass
        // moves), PSI (share collapse/explosion), KS (max CDF gap), JS
        // (bounded symmetric) — all from the same exact machinery the
        // batch gate replays
        Validate.totalVariation(drift)
          .crossJoin(broadcast(Validate.psi(drift).select(col("psi"))))
          .crossJoin(broadcast(Validate.ksStatistic(drift).select(col("ks"))))
          .crossJoin(broadcast(Validate.jsDivergence(drift).select(col("js"))))
          .withColumn("batch_id", lit(batchId))
          .select("batch_id", "n_ref", "n_cur", "tv", "psi", "ks", "js")
          .write.mode("append").parquet(monitorDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
