package graft

/** Scaling harness for SCALE.md: run a named subset of SparkEntry.queries
  * against an arbitrary data dir (e.g. the 10x sf1 fixture built by
  * scripts/gen_sf1.py) and print one JSON line of per-query times — the
  * evidence side of the "would this survive a 100x scale-up" claim, instead
  * of the assertion.
  *
  * Usage: `sbt "Test/runMain graft.ScaleBench <dir> [query ...]"`
  * Env: SPARK_GRAFT_RUNS (samples per query, min reported; default 2),
  *      SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PROBE_CONF (conf
  *      overrides for A/B arms, see [[Harness.applyProbeConf]]).
  */
object ScaleBench {

  /** Default set = the most expensive shapes: multi-join TPC-H analogues,
    * the full dedup chain, semantic dedup, containment, one agg flagship.
    */
  val defaultSet: Set[String] = Set(
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9",
    "q_groupby_agg", "q_events_hourly",
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_verified",
    "q_dedup_components", "q_dedup_apply", "q_dedup_e2e", "q_dedup_cc_minhash",
    "q_containment", "q_semdedup", "q_semdedup_cells")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // explicit query names select a subset; the pseudo-name "prod" asks for
    // the production-parameter semdedup rows alongside an explicit subset
    // (they always run with the default set)
    val explicit = args.drop(1).toSet
    val wantProd = args.length <= 1 || explicit.contains("prod")
    // "guard-capped": run ONLY the dfCap-guarded forms of the guard rows —
    // for corpora where the uncapped form is infeasible by construction
    // (shared-shingle fixtures at 100x: Σ df² ∝ copies² puts the uncapped
    // join in the 10⁴-second range; the capped number is the evidence that
    // the guard holds there)
    val cappedOnly = explicit.contains("guard-capped")
    val want: Set[String] = {
      val q = explicit - "prod" - "guard-capped"
      if (q.nonEmpty) q else if (cappedOnly) Set.empty else defaultSet
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = Harness.session()
    Harness.applyProbeConf(spark)
    Harness.warmUp(spark, sfDir)
    // Shuffle-volume instrumentation: wall-clock linearity on a 32-core box
    // is weak scaling evidence (everything is memory-speed); shuffle WRITE
    // bytes ∝ data is the property that decides whether a plan survives a
    // real cluster. Per query we report the minimum over runs of the
    // [[QueryMeter]]'s shuffle-write bytes (caches warm = the steady-state
    // plan), and for sections that opt in (merge/rollup/pqbloom) its input
    // records.
    val meter = new QueryMeter(spark)
    val inputRows = scala.collection.mutable.Map.empty[String, Long]
    // store teardown for the A/B sections below
    import graft.streaming.Scratch.{deleteRecursively => del}
    // (time, shuffle-write bytes) of `body`, min over `runs` samples each;
    // `setup` runs before each sample, outside its window, and `rowsAs`
    // names the input_rows entry that gets the min input records. A
    // crashed sample must NOT masquerade as a fast run (time-to-crash can
    // be tiny): any failure poisons the result to (-1, 0), and the
    // [[QueryMeter]] logs the cause to stderr, so a -1 in the JSON reads as
    // "failed", never "fast".
    def timed(name: String, setup: => Unit = (), rowsAs: String = "")(
        body: => Unit): (Double, Long) = {
      val samples = Seq.fill(runs) {
        // free the PREVIOUS arm's dropped localCheckpoint blocks before
        // sampling (the Bench per-group discipline): ContextCleaner only
        // releases a checkpointed RDD's storage after the JVM collects
        // the frame, so back-to-back 100× arms otherwise stack pinned
        // occurrence indexes until the second arm OOMs (measured r16)
        System.gc()
        setup
        meter.sample(name)(body)
      }
      if (samples.contains(None)) (-1.0, 0L)
      else {
        val ok = samples.flatten
        if (rowsAs.nonEmpty) inputRows(rowsAs) = ok.map(_.inputRecords).min
        (ok.map(_.wallS).min, ok.map(_.shuffleWriteBytes).min)
      }
    }
    def timeIt(body: => Unit): (Double, Long) = timed("scalebench")(body)
    // reuse the bench schedule so cache-consuming dedup queries share one
    // shingling pass and release it after their group, like Bench/Verify
    val results = SparkEntry.schedule.flatMap { case (names, after) =>
      val rs = names.filter(want).map { name =>
        val fn = SparkEntry.queries(name)
        // noop sink, not count(): count(1) lets Catalyst prune aggregate
        // expressions and projection work (see Harness.materialize) — the
        // shuffle-byte column especially must reflect the FULL plan
        name -> timed(name)(Harness.materialize(fn(spark, sfDir)))
      }
      after()
      rs
    }.toMap
    // Production-parameter semantic dedup, alongside the oracle-gated
    // queries: q_semdedup_cells deliberately runs nCells = 1 (exhaustive,
    // so DuckDB can replay it) and q_semdedup runs 16 LSH buckets — both
    // are O(n²/buckets) BY CONSTRUCTION and scale super-linearly when the
    // corpus grows but the bucket count doesn't. The production discipline
    // is cells ∝ corpus (constant expected cell size); these two entries
    // measure exactly that and should scale ~linearly.
    // runs only with the default set (an explicit query list means the
    // caller wants exactly those), and a missing/unreadable embeddings
    // table degrades to no prod rows instead of losing the whole run's
    // output on a crash after all the timing work
    val prod: Map[String, (Double, Long)] = if (!wantProd) Map.empty else try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val n = emb.count()
      val nCells = math.max(1L, n / 500L).toInt        // ~500 vectors/cell
      val bits = math.max(4, (math.log(n / 16.0) / math.log(2)).round.toInt) // ~16/bucket
      val cells = timeIt {
        val idx = graft.ops.Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCells = nCells, seed = 5L)
        graft.ops.Similarity.semanticDedupByCell(idx, "vec_id", threshold = 0.40).count()
      }
      val lsh = timeIt {
        graft.ops.Similarity.semanticDedup(emb, "vec_id", "embedding",
          threshold = 0.40, tables = 2, bits = bits, seed = 7L).count()
      }
      Map(s"prod_semdedup_cells[nCells=$nCells]" -> cells,
        s"prod_semdedup_lsh[bits=$bits]" -> lsh)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // dfCap guard effect on the inverted-index forms, capped vs uncapped on
    // the same corpus — the number behind SCALE.md's Σ df² story. The cap is
    // an ABSOLUTE constant (~10-100× expected dup-cluster size), not a
    // corpus fraction: on a natural corpus (bounded df) it drops nothing and
    // costs one groupBy over the index; on a shared-shingle corpus
    // (gen_sf1.py shared-docs mode: df ∝ copies) it bounds the join fan-out
    // that otherwise grows quadratically. Piggybacks on the index queries'
    // presence in the requested set.
    val guard: Map[String, (Double, Long)] =
      if (!want("q_dedup_ngram") && !want("q_containment") && !cappedOnly) Map.empty
      else try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val cap = 50L
        // parameters mirror the oracle-gated queries (word 3-grams at 0.8;
        // winnowing k=20 w=8 — rolling-hash mode, the production setting);
        // the guard rows differ ONLY in dfCap so the delta is the guard
        val m = scala.collection.mutable.Map.empty[String, (Double, Long)]
        if (want("q_dedup_ngram") || cappedOnly) {
          m += s"guard_ngram[dfCap=$cap]" -> timeIt {
            graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
              n = 3, threshold = 0.8, dfCap = cap).count()
          }
          if (!cappedOnly)
            m += "guard_ngram[uncapped]" -> timeIt {
              graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
                n = 3, threshold = 0.8).count()
            }
        }
        if (want("q_containment") || cappedOnly) {
          m += s"guard_containment[dfCap=$cap]" -> timeIt {
            graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
              k = 20, w = 8, dfCap = cap).count()
          }
          if (!cappedOnly)
            m += "guard_containment[uncapped]" -> timeIt {
              graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
                k = 20, w = 8).count()
            }
        }
        m.toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Exact-percentile scaling A/B (request with the pseudo-name "pct"):
    // StatsOps.exactPercentiles (range-exchange + index selection, nothing
    // concentrates) vs Spark's built-in exact `percentile` (every
    // partition's value→count map merged on ONE reducer — the known
    // scale-killer the selection path was built to replace). Both run on
    // the same HIGH-CARDINALITY derived column (distinct ∝ rows, via the
    // per-copy-offset orderkey) because l_extendedprice alone repeats
    // across gen_sf1 copies and would hold the built-in's merge map at
    // sf0.1 size, hiding the pathology.
    val pct: Map[String, (Double, Long)] =
      if (!explicit.contains("pct")) Map.empty
      else try {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("l_extendedprice + l_orderkey * 1e-7 AS v")
        val fr = Seq(0.25, 0.5, 0.75, 0.9)
        val sel = timeIt { graft.ops.StatsOps.exactPercentiles(li, "v", fr) }
        val bi = timeIt {
          li.agg(org.apache.spark.sql.functions.expr(
            s"percentile(v, array(${fr.mkString(",")}))")).collect()
          ()
        }
        Map("pct_selection[hc]" -> sel, "pct_builtin_1reducer[hc]" -> bi)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Ingest-screen A/B (pseudo-name "ingest"): Layout.ingest (exact
    // anti-join screen) vs Layout.ingestBloom (sketch prefilter + exact
    // confirm) on the shape the prefilter exists for — a BIG store (90% of
    // the corpus: at sf10 its 540k-key set is past the broadcast
    // threshold, so the exact screen must shuffle the full-width batch)
    // and a mostly-fresh batch (the withheld 10% + a 10%-of-batch dup
    // sliver). Store rebuild happens OUTSIDE the timed window; each
    // sample re-seeds so the ingest always runs against the same store
    // state. At sf0.1 the key set is broadcastable and the two variants
    // should tie — the crossover itself is the measurement.
    val ing: Map[String, (Double, Long)] =
      if (!explicit.contains("ingest")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, md5, pmod, lit}
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val seed = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
          .unionByName(docs.filter(pmod(col("doc_id"), lit(100)) === 7))
        val root = java.nio.file.Files.createTempDirectory("graft_scale_ing_")
          .toFile.getAbsolutePath
        def sample(dir: String)(screen: => Unit): (Double, Long) =
          timed("ingest", setup = {
            del(new java.io.File(dir))
            graft.ops.Layout.writePartitioned(seed, dir, "lang", Seq("doc_id"))
          })(screen)
        try {
          val exact = sample(s"$root/exact") {
            graft.ops.Layout.ingest(
              batch, s"$root/exact", "lang", Seq("doc_id"), md5(col("text")))
          }
          val bloom = sample(s"$root/bloom") {
            graft.ops.Layout.ingestBloom(
              batch, s"$root/bloom", "lang", Seq("doc_id"), md5(col("text")))
          }
          Map("ingest_exact[big_store]" -> exact,
            "ingest_bloom[big_store]" -> bloom)
        } finally del(new java.io.File(root)) // multi-GB at sf10 — never leak
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Compaction A/B (pseudo-name "compact"): full-store compact vs
    // partition-level compactPartitions on the SAME fragmentation state —
    // one hot language appended twice, the other dirs clean. The partial
    // pass must win by roughly the cold-data fraction, because it never
    // opens the cold directories at all.
    val cmp: Map[String, (Double, Long)] =
      if (!explicit.contains("compact")) Map.empty
      else try {
        import org.apache.spark.sql.functions.col
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val hot = docs.filter(col("lang") === "en")
        val root = java.nio.file.Files.createTempDirectory("graft_scale_cmp_")
          .toFile.getAbsolutePath
        def seeded(dir: String): Unit = {
          del(new java.io.File(dir))
          graft.ops.Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
          graft.ops.Layout.append(hot, dir, "lang", Seq("doc_id"))
          graft.ops.Layout.append(hot, dir, "lang", Seq("doc_id"))
        }
        def sample(dir: String)(body: => Unit): (Double, Long) =
          timed("compact", setup = seeded(dir))(body)
        try {
          val full = sample(s"$root/full") {
            graft.ops.Layout.compact(spark, s"$root/full", "lang", Seq("doc_id"))
          }
          val part = sample(s"$root/part") {
            graft.ops.Layout.compactPartitions(spark, s"$root/part", Seq("doc_id"))
            ()
          }
          Map("compact_full[1_hot_lang]" -> full,
            "compact_partitions[1_hot_lang]" -> part)
        } finally del(new java.io.File(root)) // full-corpus copies — never leak
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Hot-split A/B (pseudo-name "hotsplit"): the SAME fragmented hot
    // directory compacted through ONE task (targetFileBytes = 0, the
    // classic one-file contract) vs size-targeted parallel rewrite
    // (repartitionByRange into ~8 sorted runs). At 100x the hot `lang=en`
    // dir is the largest single directory in the store; the single-task
    // form is bounded by one core's sort+write throughput while the
    // parallel form spreads the same bytes over the cluster — the gap is
    // the evidence that a multi-TB hot value doesn't serialize a 100 TB
    // maintenance window.
    val hsp: Map[String, (Double, Long)] =
      if (!explicit.contains("hotsplit")) Map.empty
      else try {
        import org.apache.spark.sql.functions.col
        // lineitem, not documents: the hot directory must be big enough
        // (~0.5 GB at 100x) that one task's sort+write throughput is the
        // visible bottleneck — documents' hot lang is only ~40 MB there
        val hot = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .filter(col("l_returnflag") === "N")
          .select("l_returnflag", "l_orderkey", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice")
        val hotRows = hot.count()
        val root = java.nio.file.Files.createTempDirectory("graft_scale_hsp_")
          .toFile.getAbsolutePath
        // ONE hot directory fragmented ~32 ways (an append-heavy value) —
        // both arms rewrite exactly this directory's bytes
        def seeded(dir: String): Unit = {
          del(new java.io.File(dir))
          graft.ops.Layout.writePartitioned(hot, dir, "l_returnflag",
            Seq("l_orderkey"),
            maxRecordsPerFile = math.max(1L, hotRows / 32L))
        }
        def hotBytes(dir: String): Long =
          Option(new java.io.File(s"$dir/l_returnflag=N").listFiles())
            .getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        def sample(dir: String)(body: => Unit): (Double, Long) =
          timed("hotsplit", setup = seeded(dir))(body)
        try {
          val single = sample(s"$root/single") {
            graft.ops.Layout.compactPartitions(spark, s"$root/single",
              Seq("l_orderkey"))
            ()
          }
          val par = sample(s"$root/par") {
            val tgt = math.max(1L, hotBytes(s"$root/par") / 8L)
            graft.ops.Layout.compactPartitions(spark, s"$root/par",
              Seq("l_orderkey"), targetFileBytes = tgt)
            ()
          }
          Map("hotsplit_single_task[hot_lang]" -> single,
            "hotsplit_parallel_8way[hot_lang]" -> par)
        } finally del(new java.io.File(root)) // full-corpus copies — never leak
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Cross-doc span-dedup guard (pseudo-name "xdocguard"): the dfCap'd
    // PRODUCTION forms of Dedup.crossDocSpans on the same corpus where the
    // uncapped md5 gate form explodes (the gen_sf1 suffix fixture makes
    // whole-copy boilerplate char-grams: df ∝ copy size, match fan-out
    // Σ df² — measured: uncapped at 100x fills the disk with shuffle spill;
    // that failure IS the negative control, like the peel-guard arm). The
    // cap bounds any fingerprint's bucket to dfCap occurrences, so the
    // join fan-out is ≤ dfCap × |occ| regardless of boilerplate.
    val xdg: Map[String, (Double, Long)] =
      if (!explicit.contains("xdocguard")) Map.empty
      else try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val rolling = timeIt {
          graft.ops.Dedup.crossDocSpans(docs, "doc_id", "text", k = 20,
              w = 8, md5Mode = false, dfCap = 50L)
            .write.format("noop").mode("overwrite").save()
        }
        val md5c = timeIt {
          graft.ops.Dedup.crossDocSpans(docs, "doc_id", "text", k = 20,
              w = 8, md5Mode = true, dfCap = 50L)
            .write.format("noop").mode("overwrite").save()
        }
        Map("xdoc_spans_capped[rolling,dfCap=50]" -> rolling,
          "xdoc_spans_capped[md5,dfCap=50]" -> md5c)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Span APPLY at scale (pseudo-name "xdocapply"): detection via the
    // dfCap'd production form (same guard as xdocguard — the uncapped gate
    // form is the negative control at 100x), then the keep-first removal +
    // rebuild of Dedup.crossDocApply. Measures what the apply half ADDS on
    // top of guarded detection: an interval window over span rows + one
    // rebuild pass over affected docs.
    val xda: Map[String, (Double, Long)] =
      if (!explicit.contains("xdocapply")) Map.empty
      else try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val applied = timeIt {
          val spans = graft.ops.Dedup.crossDocSpans(docs, "doc_id", "text",
            k = 20, w = 8, md5Mode = false, dfCap = 50L)
          graft.ops.Dedup.crossDocApply(docs, "doc_id", "text", spans)
            .write.format("noop").mode("overwrite").save()
        }
        Map("xdoc_apply_capped[rolling,dfCap=50]" -> applied)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Mid-stream session expiry at scale (pseudo-name "sessexpire"): the
    // q_stream_session_expire OPERATOR (staged 4-slice replay, per-user
    // flatMapGroupsWithState, EventTimeTimeout expiring between batches)
    // under a PRODUCTION sink — foreachBatch → noop — instead of the
    // gate's memory sink, whose driver-side collect of every emitted
    // session is test scaffolding and OOMs an 8 g heap at 100× while the
    // operator itself streams its output. State stays per-user bounded at
    // any corpus size.
    val sxp: Map[String, (Double, Long)] =
      if (!explicit.contains("sessexpire")) Map.empty
      else try {
        import spark.implicits._
        // events ts has shipped in two physical generations — read via Q.t
        // (the gate's normalization) so ms arithmetic is fixture-proof
        val evn = graft.queries.Q.t(spark, sfDir, "events")
          .selectExpr("event_id", "ts div 1000000L as ms", "user_id",
            "event_type", "coalesce(value, 0.0d) as value")
        val b = evn.selectExpr("min(ms)", "max(ms)").head()
        val (loMs, maxMs) = (b.getLong(0), b.getLong(1))
        val tmp = java.nio.file.Files.createTempDirectory("graft_sessx_scale")
        val src = s"$tmp/src"
        try {
          val span = maxMs - loMs + 1L
          (0 until 4).foreach { i =>
            evn.filter(org.apache.spark.sql.functions.col("ms") >= loMs + i * span / 4 &&
                org.apache.spark.sql.functions.col("ms") < loMs + (i + 1) * span / 4)
              .coalesce(1).write.mode("append").parquet(src)
            new java.io.File(src).listFiles()
              .filter(f => f.getName.endsWith(".parquet") &&
                f.lastModified() > System.currentTimeMillis() - 60000L)
              .foreach(_.setLastModified(
                System.currentTimeMillis() - 600000L + i * 60000L))
          }
          Seq(1, 2).foreach { k =>
            Seq((-1L, maxMs + k * 7200000L, -1L, "flush", 0.0))
              .toDF("event_id", "ms", "user_id", "event_type", "value")
              .coalesce(1).write.mode("append").parquet(src)
            new java.io.File(src).listFiles()
              .filter(f => f.getName.endsWith(".parquet") &&
                f.lastModified() > System.currentTimeMillis() - 60000L)
              .foreach(_.setLastModified(
                System.currentTimeMillis() - 600000L + (3 + k) * 60000L))
          }
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ms",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType)))
          val run = timeIt {
            val stream = spark.readStream.schema(schema)
              .option("pathGlobFilter", "*.parquet")
              .option("maxFilesPerTrigger", "1")
              .parquet(src)
              .selectExpr("event_id", "timestamp_millis(ms) as ts",
                "user_id", "event_type", "value")
              .as[graft.streaming.EventStream.Event]
            val q = graft.streaming.EventStream.sessionize(stream).toDF()
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                batch.write.format("noop").mode("overwrite").save()
              }
              .option("checkpointLocation", s"$tmp/ckpt_${System.nanoTime()}")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          Map("session_expire_noop_sink" -> run)
        } finally del(new java.io.File(tmp.toString))
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Merge A/B (pseudo-name "merge"): partition-pruned Layout.merge vs
    // the full-store rewrite a store WITHOUT an update primitive pays for
    // the same upsert. The store carries a 50-value synthetic shard
    // partition (the day-partition shape of a real corpus store — lang's
    // 5 values put 41% of the data in one directory, which says nothing
    // about pruning); the batch touches ONE shard (2%), so merge must
    // read/write ~2% of the store and the full rewrite 100% — the
    // input_rows and shuffle_mb columns are the claim, wall-clock locally
    // is fixed-cost-bound (job count), like the ingest-bloom row.
    val mrg: Map[String, (Double, Long)] =
      if (!explicit.contains("merge")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .withColumn("shard", pmod(col("doc_id"), lit(50)))
        val root = java.nio.file.Files.createTempDirectory("graft_scale_mrg_")
          .toFile.getAbsolutePath
        // the batch is MATERIALIZED outside the timed window: a real merge
        // receives a small incoming frame, and deriving it per-pass from a
        // filter over the store-sized table would charge full-table scans
        // to every batch re-read (validation pass, key broadcast, union,
        // range sampling) and swamp the input_rows evidence
        docs.filter(col("shard") === 7 && pmod(col("doc_id"), lit(100)) === 7)
          .withColumn("source", lit("upd"))
          .write.mode("overwrite").parquet(s"$root/batch")
        val batch = spark.read.parquet(s"$root/batch")
        def sample(name: String, dir: String)(body: => Unit): (Double, Long) =
          timed("merge", rowsAs = name, setup = {
            del(new java.io.File(dir))
            graft.ops.Layout.writePartitioned(docs, dir, "shard", Seq("doc_id"))
          })(body)
        try {
          val pruned = sample("merge_pruned[1_of_50_shards]", s"$root/pruned") {
            graft.ops.Layout.merge(batch, s"$root/pruned", "shard",
              Seq("doc_id"), Seq("doc_id"))
            ()
          }
          val full = sample("merge_fullrewrite[1_of_50_shards]", s"$root/full") {
            // the no-merge alternative: read EVERYTHING, drop replaced
            // keys, union the batch, rewrite the whole store
            val live = spark.read.parquet(s"$root/full")
            val next = live.join(batch.select("doc_id"), Seq("doc_id"),
              "left_anti").unionByName(batch)
            graft.ops.Layout.writePartitioned(next, s"$root/full_next",
              "shard", Seq("doc_id"))
            del(new java.io.File(s"$root/full_next"))
          }
          Map("merge_pruned[1_of_50_shards]" -> pruned,
            "merge_fullrewrite[1_of_50_shards]" -> full)
        } finally del(new java.io.File(root)) // full-corpus copies — never leak
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Rollup A/B (pseudo-name "rollup"): incremental Rollup.maintain
    // folding ONE new batch vs the naive full-history recompute of the
    // same per-lang summary. The store (10 batches) and the batch-8
    // rollup state are built once outside the timed window; each timed
    // incremental sample starts from a fresh copy of that state. The
    // recompute side also writes its result (maintain writes), so the
    // comparison is refresh-to-refresh.
    val rup: Map[String, (Double, Long)] =
      if (!explicit.contains("rollup")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, count, lit, max, min, pmod, sum}
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val root = java.nio.file.Files.createTempDirectory("graft_scale_rup_")
          .toFile.getAbsolutePath
        def copyDir(src: java.io.File, dst: java.io.File): Unit = {
          if (src.isDirectory) {
            dst.mkdirs()
            Option(src.listFiles()).getOrElse(Array.empty)
              .foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
          } else java.nio.file.Files.copy(src.toPath, dst.toPath)
          ()
        }
        def sample(name: String)(body: => Unit): (Double, Long) =
          timed("rollup", rowsAs = name)(body)
        try {
          val store = s"$root/store"
          for (i <- 0 to 9)
            graft.ops.Layout.appendBatch(
              docs.filter(pmod(col("doc_id"), lit(10)) === i),
              store, "lang", Seq("doc_id"))
          // pre-state: batches 0..8 folded. Trick: hide batch 9 from the
          // fold by lying about the high-water mark is not possible, so
          // fold a batch-8 SNAPSHOT store instead, then point maintain at
          // the full store — it sees exactly one unfolded batch.
          val pre = s"$root/pre"
          graft.ops.Layout.readAsOf(spark, store, 8L)
            .write.mode("overwrite").partitionBy("lang", "ingest_batch")
            .parquet(s"$root/store8")
          graft.ops.Rollup.maintain(spark, s"$root/store8", pre,
            Seq("lang"), Seq("n_chars"))
          var k = 0
          val inc = sample("rollup_incremental[1_new_batch]") {
            val roll = s"$root/roll$k"; k += 1
            copyDir(new java.io.File(pre), new java.io.File(roll))
            graft.ops.Rollup.maintain(spark, store, roll,
              Seq("lang"), Seq("n_chars"))
            ()
          }
          val rec = sample("rollup_recompute[full_scan]") {
            val out = s"$root/recompute$k"; k += 1
            spark.read.parquet(store).groupBy("lang")
              .agg(count(lit(1)).as("n_rows"),
                sum(col("n_chars")).cast("long").as("sum_n_chars"),
                min(col("n_chars")).as("min_n_chars"),
                max(col("n_chars")).as("max_n_chars"))
              .write.mode("overwrite").parquet(out)
          }
          Map("rollup_incremental[1_new_batch]" -> inc,
            "rollup_recompute[full_scan]" -> rec)
        } finally del(new java.io.File(root)) // 10-batch corpus copy — never leak
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // k-means assignment A/B (pseudo-name "kmeans"): Lloyd's codegen'd
    // NearestCentroid kernel (fused k×dim loop, centroids as one reference
    // object) vs the composable zip_with+aggregate argmin (k per-row array
    // allocations, interpreted lambdas — higher-order array functions are
    // CodegenFallback) over the SAME quantized corpus and model — the
    // measured reason the native expression exists. kmeans_train3 is the
    // full three-round training loop end to end.
    val km: Map[String, (Double, Long)] =
      if (!explicit.contains("kmeans")) Map.empty
      else try {
        import org.apache.spark.sql.functions._
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") >= 3)
        val train = timeIt {
          graft.ops.Lloyd.train(emb, "vec_id", "embedding", k = 8, iters = 3)
          ()
        }
        val m = graft.ops.Lloyd.train(emb, "vec_id", "embedding", k = 8, iters = 1)
        val q = graft.ops.Lloyd.quantize(emb, "vec_id", "embedding", 1000000L)
          .localCheckpoint(true)
        val native = timeIt {
          q.select(col("id"), graft.functions.VectorExprs
              .nearestCentroid(col("q"), m.centroids).as("c"))
            .write.format("noop").mode("overwrite").save()
        }
        val hof = timeIt {
          val dists = m.centroids.map(c =>
            aggregate(zip_with(col("q"), typedLit(c.toSeq),
              (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
          val darr = array(dists.toIndexedSeq: _*)
          q.select(col("id"),
              (array_position(darr, array_min(darr)) - 1L).as("c"))
            .write.format("noop").mode("overwrite").save()
        }
        Map("kmeans_train3" -> train, "kmeans_assign_native" -> native,
          "kmeans_assign_hof" -> hof)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // History-squash A/B (pseudo-name "squash"): a versioned store built
    // as 48 hourly-style batches vs the same store squashed to 2 dirs per
    // partition — timing (a) the full-scan read cost against history
    // fragmentation (listing + footer opens ∝ dirs×values), (b) the
    // squash itself (∝ squashed mass: it rewrites history once so every
    // later read stops paying for it), and (c) the incremental consume
    // (readSince above the floor), which must stay CONSTANT — directory
    // pruning means fragmentation of the past never taxes the future.
    val sqz: Map[String, (Double, Long)] =
      if (!explicit.contains("squash")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "lang", "n_chars")
        val root = java.nio.file.Files.createTempDirectory("graft_scale_sqz_")
          .toFile.getAbsolutePath
        val dir = s"$root/store"
        try {
          (0 until 48).foreach(b => graft.ops.Layout.appendBatch(
            docs.filter(pmod(col("doc_id"), lit(48)) === b), dir, "lang",
            Seq("doc_id")))
          def fullScan(): Unit = {
            graft.ops.Layout.read(spark, dir)
              .groupBy("lang").agg(count(lit(1)), sum("n_chars"))
              .write.format("noop").mode("overwrite").save()
          }
          def consume(): Unit = {
            graft.ops.Layout.readSince(spark, dir, 47L)
              .groupBy("lang").agg(count(lit(1)))
              .write.format("noop").mode("overwrite").save()
          }
          val pre = timeIt { fullScan() }
          val cPre = timeIt { consume() }
          // ONE sample — a second squash is a no-op and min-of-runs would
          // report the no-op, not the rewrite
          val sq = {
            val m = meter.measure(
              graft.ops.Layout.squashHistory(spark, dir, 46L, Seq("doc_id")))
            (m.wallS, m.shuffleWriteBytes)
          }
          val post = timeIt { fullScan() }
          val cPost = timeIt { consume() }
          Map("squash_fullscan[48_dirs]" -> pre,
            "squash_fullscan[2_dirs]" -> post,
            "squash_rewrite" -> sq,
            "squash_consume_incr[pre]" -> cPre,
            "squash_consume_incr[post]" -> cPost)
        } finally del(new java.io.File(root))
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Skew-join A/B (pseudo-name "skew"): one hot key holding 60% of the
    // big side, broadcast disabled so the join MUST shuffle — the shape
    // where a plain sort-merge join serializes the hot key's whole mass
    // into one task. Three variants on identical inputs: AQE skew-join ON
    // (runtime split of the oversized partition — thresholds lowered so
    // the 10×/100× fixtures actually trip it), AQE skew-join OFF (the
    // single-straggler control), and Partitioning.saltedJoin (manual
    // 16-way salt: the pre-AQE tool, and still the one that works for
    // broadcast-ineligible aggregations). Same aggregate over the joined
    // rows each time, so wall-clock differences are purely the skew
    // handling.
    val skw: Map[String, (Double, Long)] =
      if (!explicit.contains("skew")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, when}
        val big = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(when(pmod(col("l_orderkey"), lit(100)) < 60, 0L)
              .otherwise(pmod(col("l_orderkey"), lit(100000))).as("k"),
            col("l_extendedprice").as("v"))
        val dim = spark.range(0, 100000)
          .select(col("id").as("k"), (col("id") % 1000).as("w"))
        def agg(j: org.apache.spark.sql.DataFrame): Unit = {
          j.agg(count(lit(1)), sum(col("v") + col("w"))).collect(); ()
        }
        val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        val saved = keys.map(k => k -> spark.conf.getOption(k))
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
          val on = timeIt { agg(big.join(dim, "k")) }
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
          val off = timeIt { agg(big.join(dim, "k")) }
          val salted = timeIt {
            agg(graft.ops.Partitioning.saltedJoin(big, dim, "k", 16)) }
          Map("skew_join[aqe_on]" -> on, "skew_join[aqe_off]" -> off,
            "skew_join[salted16]" -> salted)
        } finally saved.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Parquet bloom-filter A/B (pseudo-name "pqbloom"): point lookups on
    // a HIGH-CARDINALITY UNSORTED key — the case zonemap pruning
    // (Manifest.pruneFiles / row-group min-max) cannot touch, because an
    // unsorted key's [min,max] spans the whole domain in every row group,
    // and a unique key disables dictionary filtering. The same store is
    // written twice (plain vs parquet.bloom.filter.enabled#event_id) and
    // probed with an IN of 5 ids; with blooms, non-matching row groups
    // skip at the reader, visible as input-records collapsing, not just
    // wall. This is write-time metadata buying every later point lookup —
    // the complement to sortedLayout+pruneFiles for range predicates.
    val pqb: Map[String, (Double, Long)] =
      if (!explicit.contains("pqbloom")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .select("event_id", "user_id", "value")
          // repartition alone is NOT unsorted: round-robin preserves the
          // source's event_id order within each partition, so 4 MB row
          // groups still carry tight min/max ranges and plain stats prune
          // (measured: 44% skip). Hash-scramble the order so each group's
          // [min,max] spans the domain — the honest worst case blooms
          // exist for
          .repartition(8)
          .sortWithinPartitions(org.apache.spark.sql.functions.md5(
            col("event_id").cast("string")))
        val root = java.nio.file.Files.createTempDirectory("graft_scale_pqb_")
          .toFile.getAbsolutePath
        try {
          // 4 MB row groups on BOTH variants: skipping granularity is the
          // row group, and at the default 128 MB a store this size has ~1
          // group per file — nothing to skip either way. Small groups are
          // what a point-lookup-heavy store would tune toward anyway.
          val blk = (4 << 20).toString
          ev.write.option("parquet.block.size", blk).parquet(s"$root/plain")
          ev.write.option("parquet.block.size", blk)
            .option("parquet.bloom.filter.enabled#event_id", "true")
            // NDV is PER ROW GROUP: sizing it at table cardinality blows
            // past parquet.bloom.filter.max.bytes, the bitset saturates
            // and false positives un-skip most groups (measured: 69% ->
            // 97% skip after right-sizing to ~a 4 MB group's row count)
            .option("parquet.bloom.filter.expected.ndv#event_id", "400000")
            .parquet(s"$root/bloom")
          val n = spark.read.parquet(s"$root/plain")
            .agg(org.apache.spark.sql.functions.max(col("event_id")))
            .head().getLong(0)
          val probes = (1 to 5).map(i => n / 7 * i)
          def lookup(dir: String): Unit = {
            spark.read.parquet(dir)
              .filter(col("event_id").isin(probes: _*))
              .agg(count(lit(1)), sum(col("value"))).collect()
            ()
          }
          def measured(tag: String, dir: String): ((String, (Double, Long))) =
            s"pqbloom_$tag" -> timed("pqbloom", rowsAs = s"pqbloom_$tag")(lookup(dir))
          Map(measured("plain", s"$root/plain"),
            measured("bloom", s"$root/bloom"))
        } finally del(new java.io.File(root))
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Triangle-counting A/B (pseudo-name "tri"): the degree-orientation
    // claim measured as a negative control. A hub-skewed graph whose hub
    // DEGREE GROWS WITH THE FIXTURE (0.3% of lineitem rows wire node -1
    // to their raw l_partkey — #parts scales 20k→200k→2M across
    // 1×/10×/100×) is counted two ways on identical inputs:
    // Graph.triangles (edges oriented low-(deg,id)→high, so the
    // highest-degree hub ends with OUT-degree zero and contributes no
    // wedges), and the naive symmetric wedge join that enumerates
    // neighbor pairs at EVERY center — where the hub alone contributes
    // deg²/2 candidates. The naive arm is GUARD-CAPPED: it only runs
    // while the hub's distinct degree stays ≤ 5000, because past that
    // its candidate count (2×10^8 at 10×, 2×10^12 at 100×) is the
    // explosion itself — the refusal, with the oriented arm measured at
    // every scale, IS the result (the percentile-OOM control pattern).
    // The shared hub-skewed fixture of the "tri" and "wedge" A/Bs: SPARSE
    // background (10% of rows, constant avg degree: both node domains
    // scale with the fixture) + one hub whose degree grows with #parts.
    // A fixed-modulus domain would saturate and flatten the A/Bs; a dense
    // blob would blow up BOTH arms on dedup alone. One definition so the
    // two controls measure the SAME graph; hubFixtureDegree is the guard
    // input both arms cap on.
    def hubFixture(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, pmod, when}
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(pmod(col("l_orderkey"), lit(1000)) < 3 ||
          pmod(col("l_orderkey"), lit(10)) === 0)
        .select(
          when(pmod(col("l_orderkey"), lit(1000)) < 3, lit(-1L))
            .otherwise(col("l_orderkey")).as("src"),
          (col("l_partkey") * 8 + 1).as("dst"))
    }
    def hubFixtureDegree(raw: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.functions.col
      raw.filter(col("src") === -1L).select(col("dst")).distinct().count()
    }
    val tri: Map[String, (Double, Long)] =
      if (!explicit.contains("tri")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, count, greatest, least,
          lit, sum}
        val raw = hubFixture()
        val oriented = timeIt {
          graft.ops.Graph.triangles(raw, "src", "dst")
            .agg(sum(col("triangles"))).collect(); ()
        }
        val hubDeg = hubFixtureDegree(raw)
        inputRows("tri_hub_degree") = hubDeg
        val naive: Map[String, (Double, Long)] =
          if (hubDeg > 5000) Map.empty // candidates = hubDeg²/2: refuse
          else Map("triangles[naive_wedges]" -> timeIt {
            val und = raw.filter(col("src") =!= col("dst"))
              .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"))
              .distinct().localCheckpoint(true)
            val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
            val w = adj.as("p").join(adj.as("q"),
                col("p.a") === col("q.a") && col("p.b") < col("q.b"))
              .select(col("p.b").as("y"), col("q.b").as("z"))
            w.join(und, col("y") === col("a") && col("z") === col("b"))
              .agg(count(lit(1))).collect(); ()
          })
        Map("triangles[oriented]" -> oriented) ++ naive
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Link-prediction hub-cap A/B (pseudo-name "wedge"): the SAME
    // hub-skewed fixture as "tri", scored two ways. Unlike triangles,
    // orientation cannot save link prediction — EVERY wedge is a
    // candidate pair, not just closed ones — so the only defense against
    // a growing hub is Graph.linkPredict's maxDeg center cap (the
    // posting-list dfCap pattern). Capped arm (maxDeg=1000) runs at
    // every scale; the uncapped arm (maxDeg=Long.MaxValue/2) is
    // GUARD-CAPPED at hub degree ≤ 5000 — past that its hub alone emits
    // deg²/2 ~ 10^12 pairs and the refusal is the measurement.
    val wdg: Map[String, (Double, Long)] =
      if (!explicit.contains("wedge")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{count, lit}
        val raw = hubFixture()
        val capped = timeIt {
          graft.ops.Graph.linkPredict(raw, "src", "dst",
              maxDeg = 1000L, minCommon = 2L)
            .agg(count(lit(1))).collect(); ()
        }
        val hubDeg = hubFixtureDegree(raw)
        inputRows("wedge_hub_degree") = hubDeg
        val uncapped: Map[String, (Double, Long)] =
          if (hubDeg > 5000) Map.empty // hub emits deg²/2 pairs: refuse
          else Map("link_predict[uncapped]" -> timeIt {
            graft.ops.Graph.linkPredict(raw, "src", "dst",
                maxDeg = Long.MaxValue / 2, minCommon = 2L)
              .agg(count(lit(1))).collect(); ()
          })
        Map("link_predict[capped1000]" -> capped) ++ uncapped
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // Peel-checkpoint A/B (pseudo-name "peel"): the edge-peeling family's
    // pin-vs-spill guard measured on a corpus-scaled edge list (lineitem
    // orderkey→partkey pairs — |E| grows with the fixture). Three arms on
    // identical inputs: memory-pinned localCheckpoint rounds (the default
    // under PeelMaxPinnedEdges), reliable-checkpoint rounds (budget forced
    // to 1, checkpoint dir set — what a corpus-sized graph must use), and
    // the GUARD arm (budget 1, no dir): recorded as edge count only — the
    // loud refusal BEFORE round 1 is the measurement, the exact
    // corpus-pinning-OOM class SCALE.md documents for q_spearman.
    val peel: Map[String, (Double, Long)] =
      if (!explicit.contains("peel")) Map.empty
      else try {
        import org.apache.spark.sql.functions.{col, lit}
        val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
        // RAW edge rows — the exact quantity the guard compares to
        // maxPinnedEdges (a cheap scan-count upper bound on the
        // canonical list; see Graph.peelCheckpointer)
        inputRows("peel_edges") = raw.count()
        val pinned = timeIt {
          graft.ops.Graph.kCore(raw, "src", "dst", k = 3, iters = 3)
            .agg(org.apache.spark.sql.functions.count(lit(1))).collect(); ()
        }
        val guardFired =
          try { graft.ops.Graph.kCore(raw, "src", "dst", k = 3, iters = 3,
              maxPinnedEdges = 1L); 0L }
          catch { case _: IllegalArgumentException => 1L }
        inputRows("peel_guard_fired") = guardFired
        val ckptDir = java.nio.file.Files.createTempDirectory("graft_peel_ck")
        spark.sparkContext.setCheckpointDir(ckptDir.toString)
        val spilled = try timeIt {
          graft.ops.Graph.kCore(raw, "src", "dst", k = 3, iters = 3,
              maxPinnedEdges = 1L)
            .agg(org.apache.spark.sql.functions.count(lit(1))).collect(); ()
        } finally {
          spark.sparkContext.setCheckpointDir(null)
          del(ckptDir.toFile)
        }
        Map("kcore[pinned]" -> pinned, "kcore[reliable_ckpt]" -> spilled)
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val all: Map[String, (Double, Long)] = results ++ prod ++ guard ++ pct ++ ing ++ cmp ++ hsp ++ xdg ++ xda ++ sxp ++ mrg ++ rup ++ km ++ sqz ++ skw ++ pqb ++ tri ++ wdg ++ peel
    val qs = all.toSeq.sortBy(_._1)
      .map { case (k, (t, _)) => f""""$k":$t%.3f""" }.mkString("{", ",", "}")
    // per-query min-of-runs shuffle write MB
    val sh = all.toSeq.sortBy(_._1)
      .map { case (k, (_, b)) => f""""$k":${b / 1e6}%.1f""" }.mkString("{", ",", "}")
    val im = if (inputRows.isEmpty) "" else inputRows.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }
      .mkString(""","input_rows":{""", ",", "}")
    println(s"""{"metric":"scale","queries":$qs,"shuffle_mb":$sh$im,"runs":$runs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
