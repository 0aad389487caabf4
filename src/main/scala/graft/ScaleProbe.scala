package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Clustering, Dedup, PQ, StreamDedup, Text}
import graft.ts.{Compaction, Ingest, Multi, RangeQuery, TSModel}

/**
 * Scale-evidence probe (r04 item #8): replay the three heaviest bench
 * paths on an N× replica of a fixture and report wall times, so the
 * hot-bucket chain caps, gated broadcasts and two-shuffle aggregation
 * shapes are demonstrated to hold OFF the bench scale factor, not just
 * argued from the plan.
 *
 * Replication keeps the workload character of the base fixture:
 *  - documents: every replica suffixes each token with its replica id,
 *    so shingle spaces are DISJOINT across replicas — near-dup
 *    structure (and so the candidate-pair count) scales exactly N×,
 *    instead of degenerating into an N-way mass-duplication crawl;
 *  - events: user ids shift per replica — N× series, same per-series
 *    density, so the groupby's two post-aggregation shuffles see N×
 *    groups.
 *
 * Usage: runMain graft.ScaleProbe [baseDir] [reps] [workDir]
 * Prints one JSON line with per-path seconds and result row counts.
 */
object ScaleProbe {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val work = args.lift(2).getOrElse("/tmp/graft_scale")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docsDir = s"$work/documents.parquet"
    val eventsDir = s"$work/events.parquet"
    // replica cache is valid only for the SAME (base, reps): a marker
    // records what was staged; any mismatch (or a partial previous
    // stage) rebuilds, so the probe can never report timings measured
    // on a differently-scaled fixture
    val marker = java.nio.file.Paths.get(s"$work/STAGED")
    val stamp = s"$base|$reps"
    val cached = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker)) == stamp &&
      new java.io.File(eventsDir).exists() &&
      new java.io.File(s"$work/embeddings.parquet").exists()
    if (!cached) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      java.nio.file.Files.deleteIfExists(marker)
      val docs = spark.read.parquet(s"$base/documents.parquet")
      (0 until reps).map { r =>
        docs.select(
          (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          (if (r == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1_$r")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(docsDir)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$base/events.parquet")
      (0 until reps).map { r =>
        ev.withColumn("user_id", col("user_id") + lit(r.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(eventsDir)
      val embs = spark.read.parquet(s"$base/embeddings.parquet")
      (0 until reps).map { r =>
        embs.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
      java.nio.file.Files.write(marker, stamp.getBytes)
    }

    val nDocs = spark.read.parquet(docsDir).count()
    val nEvents = spark.read.parquet(eventsDir).count()

    // 0. Fan-out identity at production split counts (VERDICT r17 #8):
    //    [[Fanout.ifStarved]] must be a NO-OP when the scan already
    //    offers >= slots splits — the production shape, where a keyed
    //    redistribution of the corpus would be a pure extra shuffle.
    //    The replicated docs staged above are multiple part files but
    //    still pack into few splits under the default 128 MB split
    //    size, so the probe lowers the split size for THIS read only,
    //    making the same table present >= slots splits — exactly what
    //    a multi-row-group production table looks like to the scan.
    //    Identity is checked by reference (ifStarved returns its input
    //    unchanged on the non-starved branch).
    val (fanoutParts, fanoutIdentity) =
      Compaction.withConf(spark, "spark.sql.files.maxPartitionBytes", "16384") {
        Compaction.withConf(spark, "spark.sql.files.openCostInBytes", "16384") {
          val df = Text.loadDocuments(spark, work)
          (df.rdd.getNumPartitions,
            graft.Fanout.ifStarved(df, col("doc_id")) eq df)
        }
      }
    // …and the starved branch on the SAME table at the default split
    // size (few splits): there ifStarved must NOT be the identity
    val (fanoutStarvedParts, fanoutStarvedIdentity) = {
      val df = Text.loadDocuments(spark, work)
      (df.rdd.getNumPartitions, graft.Fanout.ifStarved(df, col("doc_id")) eq df)
    }

    // 1. MinHash+LSH over the full replicated corpus (the engine side
    //    of dedup_minhash_lsh_full). The eager localCheckpoint IS the
    //    timed execution; the materialized frame then feeds CC, so the
    //    LSH pipeline runs exactly once.
    val (pairs, tMinhash) = timed {
      Dedup.minhashLshPairs(Text.loadDocuments(spark, work), 0.5).localCheckpoint()
    }
    val nPairs = pairs.count()

    // 2. Connected components over the N×-sized pair graph — pure
    //    star-contraction timing against the pre-materialized pairs.
    val (nLabels, tCc) = timed { Dedup.ccCanonical(pairs).count() }

    // 2b. duplicated 15-gram spans: explode-heavy single aggregation —
    //     span count scales exactly Nx under the disjoint-token replicas
    val (nSpans, tSpans) = timed {
      Dedup.duplicatedSpans(Text.loadDocuments(spark, work)).count()
    }

    // 2c. unigram-LM NLL: the corpus-wide vocab aggregate + scalar-keyed
    //     shuffle join (the no-broadcast tfIdf-lesson path)
    val (nNll, tNll) = timed {
      Text.unigramLogProb(Text.loadDocuments(spark, work)).count()
    }

    // 4. streaming TWA compaction (r05: the history-independence
    //    evidence for the occ-index fix). Replicas are shifted in TIME
    //    (same series, N× history/buckets) and the chunk count scales
    //    with reps, so per-batch volume is CONSTANT while the
    //    accumulated log grows N× — under the old full-log occ rebuild
    //    sec/batch grew with history; with the incremental index +
    //    partition-pruned log read it must stay flat.
    val twaSrc = s"$work/twa_src"
    val twaBatches = 3 * reps
    if (!cached || !new java.io.File(s"$twaSrc/events.parquet").exists()) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$base/events.parquet")
      // shift replicas 35 days apart IN THE COLUMN'S NATIVE TYPE — the
      // fixture's ts encoding is not stable across regenerations (r8)
      def shifted(r: Int) = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // raw epoch-ns
          col("ts") + lit(r * 35L * 86400000L * 1000000L)
        case _ => col("ts") + expr(s"INTERVAL ${r * 35} DAY")
      }
      (0 until reps).map { r =>
        ev.withColumn("ts", shifted(r))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$twaSrc/events.parquet")
    }
    val DAYMS = 86400000L
    val (nTwa, tTwa) = timed {
      Compaction.streamingDownsampleTwaOnce(spark, twaSrc,
        Compaction.Rule("twa", DAYMS),
        graft.Scratch.dir("probe_twa_").toString,
        nChunks = twaBatches).count()
    }

    // 4b. dest-log compaction (r06 #4): an oooSplit stream over the
    //     BASE fixture chopped into ~reps hash-split batches writes
    //     ~reps superseded versions per bucket — the read side's
    //     last-writer-wins resolve scans the whole log, so its cost
    //     grows with versions; compactLog folds the log back to dest
    //     cardinality, after which resolve cost must be flat in reps
    //     (the single-version shape) and the resolved rows identical.
    val oooWork = graft.Scratch.dir("probe_ooo_").toString
    val oooBatches = math.max(4, reps)
    val oooRule = Compaction.Rule("twa", DAYMS)
    val (_, tOooStream) = timed {
      Compaction.streamingDownsampleTwaOnce(spark, base, oooRule, oooWork,
        nChunks = oooBatches, oooSplit = true)
    }
    val oooDest = s"$oooWork/dest"
    val logPre = spark.read.parquet(oooDest).count()
    val (nResolvePre, tResolvePre) = timed {
      Compaction.resolveTwaPartials(spark.read.parquet(oooDest), oooRule).count()
    }
    val (logPost, tCompact) = timed {
      Compaction.compactLog(spark, oooDest, Seq("series", "bucket"))
    }
    val (nResolvePost, tResolvePost) = timed {
      Compaction.resolveTwaPartials(spark.read.parquet(oooDest), oooRule).count()
    }
    require(nResolvePre == nResolvePost,
      s"compaction changed the resolved dest: $nResolvePre -> $nResolvePost")

    // 5. streaming ingest (r05: the spillable-fold shape) over the N×
    //    samples replayed as 3 micro-batches — N× rows per batch, so
    //    the union-seeded fold, its one pinned exchange and the sink
    //    write all scale with batch volume; wall ~linear in N.
    val ingSrc = s"$work/ing_src"
    if (!cached || !new java.io.File(ingSrc).exists()) {
      TSModel.samples(spark, work).repartition(3)
        .write.mode("overwrite").parquet(ingSrc)
    }
    val (nIng, tIng) = timed {
      Ingest.streamingIngestOnce(spark, ingSrc,
        graft.Scratch.dir("probe_ing_").resolve("log").toString,
        "LAST", ignoreMaxTimeDiff = 12L * 3600000L, ignoreMaxValDiff = 50.0).count()
    }

    // 6. product quantization over the N× embedding corpus: training
    //    is full-corpus Lloyd (2 fused jobs) + zero-shuffle encode —
    //    both single-pass shapes, so wall time must stay ~linear in N;
    //    ADC adds the per-query scored-codes top-k windows. The
    //    replicas duplicate vectors, which only DENSIFIES clusters —
    //    codebook geometry (and so per-vector work) is unchanged.
    val embWork = spark.read.parquet(s"$work/embeddings.parquet")
    val (nCodes, tPqCodes) = timed {
      PQ.codes(embWork, m = 4, ksub = 8, iters = 2).count()
    }
    val (nAdc, tPqAdc) = timed {
      PQ.adcTopK(embWork, Seq(0L, 97L, 194L), k = 5,
        m = 4, ksub = 8, iters = 2).count()
    }

    // 6b. bounded-sample vs full-corpus training (r9 #2): full Lloyd
    //     rescans the corpus `iters` times, so its wall time grows
    //     ~(iters × N); the sampled variants pay exactly ONE corpus
    //     pass (the hash-ordered TakeOrdered draw — linear with a
    //     small constant, the irreducible look-at-the-data cost) plus
    //     sample-bounded refinement, so their time must grow strictly
    //     slower than full training as reps grows (r10 review: the
    //     draw scan means "flat" was never the honest contract).
    //     Same k/m/iters as the bench queries.
    val (_, tPqTrainFull) = timed { PQ.train(embWork, m = 4, ksub = 8, iters = 2) }
    val (_, tPqTrainSampled) = timed {
      PQ.trainSampled(embWork, m = 4, ksub = 8, iters = 2, sampleMax = 512)
    }
    val (_, tKmFull) = timed { Clustering.kmeansCentroids(embWork, k = 10, iters = 2) }
    val (_, tKmSampled) = timed {
      Clustering.kmeansCentroidsSampled(embWork, k = 10, iters = 2, sampleMax = 512)
    }

    // 7. streaming exact dedup under the RocksDB state store (r9 #3):
    //    the replicas' disjoint token spaces make distinct fingerprints
    //    scale exactly N×, so state-store cardinality (numRowsTotal,
    //    reported from the final micro-batch's state operator) tracks
    //    the corpus — the documented O(distinct docs) bound — while the
    //    store itself lives on local disk, not executor heap.
    val (nSDedup, tSDedup) = timed {
      StreamDedup.documentsDedupOnce(spark, work, useRocksDb = true).count()
    }
    val (stateRows, stateBytes) = StreamDedup.lastStateMetrics.getOrElse((-1L, -1L))

    // 3. ts_mrange_groupby verbatim: label filter -> per-series daily
    //    avg -> cross-series sum reduce, over N× series
    val T0 = 1704067200000L
    val T31 = 1706745599999L
    val DAY = 86400000L
    // TSModel.labels collects the label index into a local relation when
    // called, so it is built once here, outside every timed block: the
    // GROUPBY, MGET, QUERYINDEX and raw-agg MRANGE rows all time the same work
    val labelsAll = TSModel.labels(spark, work)
    val (nRows, tGroupby) = timed {
      Multi.mrangeGroupBy(TSModel.samples(spark, work), labelsAll,
        Seq(Multi.parsePred("type=(click,view,purchase,signup,error)"),
          Multi.parsePred("type!=")),
        RangeQuery.RangeArgs(from = Some(T0), to = Some(T31),
          aggs = Seq("avg"), bucketMs = DAY),
        groupByLabel = "type", reducer = "sum").count()
    }

    // 8. round-10 data-selection operators over the N× docs corpus —
    //    all bounded-model shapes: classifier = iters passes over a
    //    persisted feature frame with nBuckets+1-row gradient aggs
    //    (~linear in N, job-count fixed); DSIR = two corpus passes +
    //    an nBuckets-row broadcast (~linear); chunking = one
    //    zero-shuffle generate pass (~linear, I/O-bound).
    val probeDocs = Text.loadDocuments(spark, work)
    val (nClf, tClf) = timed {
      graft.pipeline.QualityClassifier.scoreFilter(probeDocs,
        col("lang") === "en", nBuckets = 32, iters = 5, lr = 4.0,
        keepFrac = 0.3).count()
    }
    val (nDsirRows, tDsir) = timed {
      graft.pipeline.Dsir.select(probeDocs, col("lang") === "en",
        nBuckets = 64, keepFrac = 0.3).count()
    }
    val (nChunks, tChunk) = timed {
      graft.pipeline.Chunking.chunk(probeDocs, 16, 4).count()
    }
    // 8b. holt over N× series (shifted-user replicas): one shuffle by
    //     series, per-series fold cost fixed (same history depth)
    val (nHolt, tHolt) = timed {
      graft.ts.Smoothing.holt(TSModel.samples(spark, work), 0.4, 0.3,
        Some(T0), Some(T31)).count()
    }
    // 8c. topk across N× series: the WindowGroupLimit shape — shuffle
    //     volume bounded by buckets×k×partitions, so wall time must
    //     grow sub-linearly in series count
    val (nTopk, tTopk) = timed {
      graft.ts.TopK.topkSeries(TSModel.samples(spark, work), k = 5,
        agg = "avg", bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))
        .count()
    }

    // 9. round-10 additions. Bigram LM: one window-lag pass + one
    //    bigram agg + word-keyed joins — the replica token spaces are
    //    disjoint, so the bigram vocabulary ALSO grows N× (the honest
    //    worst case for the shuffle joins; ~linear expected).
    val (nBig, tBig) = timed {
      graft.pipeline.Text.bigramLogProb(probeDocs).count()
    }
    // 9b. bigram LM under a ZIPF token distribution (r10 #7): the
    //    replica corpora above are near-uniform synthetic text, which
    //    never stresses the ctx-join key; real corpora are zipfian —
    //    the top context token (a stopword) carries ~1/ln(V) of ALL
    //    bigram mass, the classic skewed-shuffle-key worst case. The
    //    synthetic draw is log-uniform over ranks 1..V (p(r) ∝ 1/r,
    //    zipf s≈1): rank = floor(V^u) with u md5-uniform per position,
    //    deterministic across runs. Docs scale with reps (fixed V,
    //    fixed doc length), so a straggler on the hot context key
    //    would surface as super-linear growth here while the uniform
    //    probe above stays linear; AQE skew-join split is the declared
    //    handler, salting only if this row ever shows one.
    val zipfDocs = {
      val v = 20000 // vocabulary size
      val len = 60  // tokens per doc
      val n = nDocs // same corpus cardinality as the uniform probe
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(len)), i =>
          concat(lit("z"), floor(pow(lit(v.toDouble),
            // u in (0,1]: first 6 md5 hex chars of (doc_id, pos)
            (conv(substring(md5(concat_ws("_", col("id"), i)), 1, 6), 16, 10)
              .cast("double") + 1.0) / lit(16777216.0)))
            .cast("long")))).as("text"))
    }
    val (nBigZipf, tBigZipf) = timed {
      graft.pipeline.Text.bigramLogProb(zipfDocs).count()
    }

    // 9c. streaming minhash admission gate over the N× docs corpus:
    //    state = one long per (band, bucket) — distinct buckets scale
    //    ~linearly with distinct docs (disjoint replica token spaces),
    //    per-batch work O(batch band rows); the signature build is the
    //    only shuffle. Sub-linear wall expected (trigger floor).
    val (nGate, tGate) = timed {
      StreamDedup.documentsMinhashGateOnce(spark, work).count()
    }

    // SQ8 over the N× embedding corpus: ONE bounds pass + zero-shuffle
    //    encode + one scan per search — everything scan-shaped, so
    //    time must track corpus size with no super-linear term.
    val embProbe = spark.read.parquet(s"$work/embeddings.parquet")
    val sqQids = Seq(0L, 97L, 194L)
    val (nSq, tSq) = timed {
      graft.pipeline.SQ.adcTopK(embProbe, sqQids, k = 5).count()
    }
    // Streaming groupby over the N× event replay (4 staged chunks —
    //    the replica's events.parquet is a directory, so the chunked
    //    runner stages its own mtime-ordered files): state is
    //    O(groups × open buckets × member series); per-batch work is
    //    O(batch + touched keys) — the one-shot includes the fixed
    //    trigger overhead, so watch the marginal growth, not the base.
    val (nSgb, tSgb) = timed {
      val labelsW = TSModel.labels(spark, work)
      val s2g = labelsW.select(col("series"),
        element_at(col("labels"), "type").as("lv"))
        .filter(col("lv").isNotNull)
      graft.ts.StreamGroupBy.mrangeGroupByStreamChunks(spark,
        TSModel.samples(spark, work), s2g, groupByLabel = "type",
        agg = "avg", reducer = "sum", bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31), nChunks = 4).count()
    }

    // 10. round-11 additions over the N× replicas.
    // DTW: the pair set is a QUERY literal (6 series -> 15 pairs at
    //    every scale); the only corpus-sized stage is the one-pass
    //    bucket-grid agg, so wall time must track the scan, with the
    //    per-pair DP a constant term. Replica 0 keeps original series
    //    names, so the probe series exist at every rep count.
    val dtwSeries = Seq("click_7", "click_17", "error_17",
      "purchase_41", "signup_78", "view_7")
    val (nDtw, tDtw) = timed {
      graft.ts.Dtw.pairwise(TSModel.samples(spark, work), DAY, dtwSeries,
        Some(T0), Some(T31)).count()
    }
    // Seasonal decomposition over N× series: one grid agg + two
    //    same-key windows + a per-(series,phase) index join — every
    //    stage keyed by series, ~linear expected.
    val (nDcmp, tDcmp) = timed {
      graft.ts.Seasonal.decompose(TSModel.samples(spark, work), DAY, 7,
        Some(T0), Some(T31)).count()
    }
    // Native session_window streaming over N× series: session state is
    //    one open session per live series; per-batch work O(batch).
    //    Sub-linear wall expected (trigger floor), state ~series count.
    val (nSess, tSess) = timed {
      graft.ts.StreamSessions.sessionStreamOnce(spark,
        TSModel.samples(spark, work), "avg", 12 * 3600000L,
        Some(T0), Some(T31), nChunks = 4).count()
    }
    // CCF: the scan is pushed to series IN (a,b) — wall time must stay
    //    ~FLAT as the rest of the corpus grows N× (partition pruning /
    //    row-group skip on the series filter; the lag sweep is a
    //    query-sized crossJoin).
    val (nCcf, tCcf) = timed {
      graft.ts.AsOf.ccf(TSModel.samples(spark, work), "click_7", "view_7",
        DAY, 7, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Holt forecast: the same one-pass scan as holt but emitting
    //    series×horizon rows — the output-side O(n²) risk holt had is
    //    structurally absent here; ~holt-equal wall expected.
    val (nFc, tFc) = timed {
      graft.ts.Smoothing.holtForecast(TSModel.samples(spark, work),
        0.4, 0.3, horizon = 7, stepMs = DAY, Some(T0), Some(T31)).count()
    }
    // DTW nearest-profile search: the probe profile broadcasts onto
    //    ALL N× series' profiles — candidate count grows N×, each DP
    //    a constant; the top-k cut is a distributed TakeOrdered.
    //    ~Linear in series expected, grid agg still the floor.
    val (nDtwNear, tDtwNear) = timed {
      graft.ts.Dtw.nearest(TSModel.samples(spark, work), DAY,
        probe = "click_7", k = 10, Some(T0), Some(T31)).count()
    }
    // DTW nearest with envelope pruning: at N× series the LB fold
    //    (codegen, no DP) should carry most of the corpus, with the
    //    DP bill capped at survivors + k seeds.
    val pruneRef = new graft.ts.Dtw.PruneStatsRef((-1L, -1L))
    val (nDtwPr, tDtwPr) = timed {
      graft.ts.Dtw.nearestPruned(TSModel.samples(spark, work), DAY,
        probe = "click_7", k = 10, Some(T0), Some(T31),
        pruneStats = Some(pruneRef)).count()
    }
    val (pruneSurv, pruneCand) = pruneRef.get
    // BANDED DTW search with the LB_Keogh sliding envelope: the band
    //    makes the per-position envelope sound, so at N× series the
    //    prune rate should hold or improve vs the global envelope
    //    (tighter bound wherever the probe trends).
    val bandRef = new graft.ts.Dtw.PruneStatsRef((-1L, -1L))
    val (nDtwBand, tDtwBand) = timed {
      graft.ts.Dtw.nearestPrunedBanded(TSModel.samples(spark, work), DAY,
        probe = "click_7", k = 10, band = 3, Some(T0), Some(T31),
        pruneStats = Some(bandRef)).count()
    }
    val (bandSurv, bandCand) = bandRef.get
    // Streaming gap detection over N× series: ONE long of state per
    //    series; per-batch work O(batch). Sub-linear wall expected.
    val (nGapsS, tGapsS) = timed {
      graft.ts.StreamSessions.gapsStreamOnce(spark,
        TSModel.samples(spark, work), 2 * DAY,
        Some(T0), Some(T31), nChunks = 4).count()
    }
    // Image perceptual-hash near-dup at the PRODUCTION grid (6 →
    //    60-bit hash, 15-bit bands): candidate join keys stay
    //    selective, so wall should track the decode scan ~linearly.
    //    (The 4×4 fixture grid is demo-sized by design — its 6-bit
    //    band space fills at corpus scale; this row is the setting
    //    the operator documents for 100 TB.)
    val (nPhash, tPhash) = timed {
      graft.pipeline.Multimodal.imagePhashPairs(
        graft.pipeline.Multimodal.packImages(probeDocs),
        maxDist = 3, grid = 6).count()
    }
    // Incremental admission of a FIXED-size new batch against state
    //    materialized over the N× corpus: shingle/md5 CPU runs only on
    //    the batch, the prior corpus is consulted via two key joins on
    //    its O(fingerprints)/O(buckets) state tables — admit wall
    //    should stay ~flat as the corpus grows (state-build time is
    //    reported separately; it is the one-time bootstrap cost).
    val admitStateDir = s"$work/admit_state"
    // every token suffixed => shingle space disjoint from the corpus:
    // the batch is genuinely NOVEL, so the row measures the admit path
    // end-to-end (state probed, mostly kept) instead of degenerating
    // into an all-reject near-dup wall
    val admitBatch = Text.loadDocuments(spark, base)
      .limit(200)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1ap").as("text"))
      .localCheckpoint()
    val (_, tAdmitState) = timed {
      graft.pipeline.IncrementalAdmit.writeState(spark, probeDocs, admitStateDir)
    }
    val (nAdmit, tAdmit) = timed {
      graft.pipeline.IncrementalAdmit.admit(spark, admitBatch, admitStateDir)
        .filter(col("kept")).count()
    }
    // Matrix profile over N× series: the self-join is quadratic ONLY
    //    in the bounded per-series window count, linear in series —
    //    ~linear wall expected (grid agg the floor).
    val (nMp, tMp) = timed {
      graft.ts.MatrixProfile.profile(TSModel.samples(spark, work),
        DAY, m = 7, Some(T0), Some(T31)).count()
    }
    // STOMP at the same length (apples-to-apples vs the pairs row),
    //    then BOTH paths at 4× the profile length (6h buckets → ~124
    //    windows/series): pairs pays 16× join rows × O(m) dots, STOMP
    //    16× O(1) cells in place — the gap the long-profile path
    //    exists for. maxWindows raised explicitly on the pairs run
    //    (the default cap is for unguarded callers, not the probe).
    val (nMpStomp, tMpStomp) = timed {
      graft.ts.MatrixProfile.profileStomp(TSModel.samples(spark, work),
        DAY, m = 7, Some(T0), Some(T31)).count()
    }
    val (nMp4, tMp4) = timed {
      graft.ts.MatrixProfile.profile(TSModel.samples(spark, work),
        DAY / 4, m = 7, Some(T0), Some(T31), maxWindows = 4096).count()
    }
    val (nMp4Stomp, tMp4Stomp) = timed {
      graft.ts.MatrixProfile.profileStomp(TSModel.samples(spark, work),
        DAY / 4, m = 7, Some(T0), Some(T31)).count()
    }
    // Correlation matrix (explicit query list): the scan is series-IN
    //    pushed and the pair join quadratic only in the ≤64-series
    //    list (replica 0 keeps original names, so the matched rows do
    //    NOT grow with reps) — wall must stay ~FLAT as the corpus
    //    grows N×; a linear drift would mean the pushdown regressed.
    val (nCorr, tCorr) = timed {
      graft.ts.AsOf.pearsonMatrix(TSModel.samples(spark, work), dtwSeries,
        DAY, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Label-filtered matrix: label resolution broadcasts the
    //    O(#series) labels frame (which DOES grow N×), the in-plan
    //    guard passes (matched set = replica-0 users), then the same
    //    flat matched-scan — near-flat expected, labels-broadcast the
    //    only growing term.
    val (nCorrF, tCorrF) = timed {
      graft.ts.AsOf.pearsonMatrixByFilter(TSModel.samples(spark, work),
        TSModel.labels(spark, work),
        Seq(Multi.parsePred("user=(7,15,34,117)")),
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Seasonal-adjusted anomaly over N× series: decompose + one
    //    same-key stats window + the flag filter — decompose-shaped,
    //    ~linear expected (compare against decompose_sec).
    val (nRem, tRem) = timed {
      graft.ts.Seasonal.remainderAnomaly(TSModel.samples(spark, work),
        DAY, 7, 1.5, Some(T0), Some(T31)).count()
    }
    // Binseg changepoints over N× series: one grid agg then GRID-sized
    //    window rounds (range/bucket rows per series) — scan-bound,
    //    sub-linear expected; output rows scale with series.
    val (nBinseg, tBinseg) = timed {
      graft.ts.Changepoint.binseg(TSModel.samples(spark, work), DAY,
        levels = 2, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Theil-Sen over N× series: the pair join is quadratic ONLY in the
    //    per-series grid (≤31 daily buckets here), parallel across the
    //    N× series — scan-bound like binseg.
    val (nTheil, tTheil) = timed {
      graft.ts.Trend.theilSen(TSModel.samples(spark, work), DAY,
        fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Histogram quantile over N× samples: the histogram agg is the
    //    whole cost (series×bins partials shuffle), the walk is free.
    val (nHq, tHq) = timed {
      graft.ts.Histogram.histogramQuantile(TSModel.samples(spark, work),
        0.0, 120.0, 24, 0.95, Some(T0), Some(T31)).count()
    }
    // DDSketch quantile over N× samples (round 15): same bounded
    //    (series × occupied log-buckets) shuffle as the fixed-width
    //    histogram — the walk is sketch-sized, scan-bound overall.
    val (nDdq, tDdq) = timed {
      graft.ts.Histogram.ddsketchQuantile(TSModel.samples(spark, work),
        gamma = 1.02, q = 0.95, Some(T0), Some(T31)).count()
    }
    // Persisted-sketch incremental merge (round 16): bootstrap the
    //    versioned (series, bucket, n) state over the N× samples
    //    (one-time, reported separately — it is the one corpus pass),
    //    then merge a FIXED-size batch: the fold touches only the
    //    batch scan plus the prior state (series × log_γ buckets —
    //    model-sized when histories are deep; at THIS fixture's ~13
    //    samples/series the state is nearly series-sized, so the
    //    honest contract here is merge ≪ bootstrap with the gap
    //    widening as N grows, state_rows/n_samples falling).
    val sketchDir = graft.Scratch.dir("probe_sketch_").toString
    val sketchBatch = TSModel.samples(spark, base)
      .filter(col("ts") >= T0 && col("ts") < T0 + 2 * DAY)
      .localCheckpoint()
    val (_, tSketchBoot) = timed {
      graft.ts.SketchStore.writeSketchVersioned(spark,
        TSModel.samples(spark, work), sketchDir, gamma = 1.02)
    }
    val (_, tSketchMerge) = timed {
      graft.ts.SketchStore.mergeSketch(spark, sketchBatch, sketchDir,
        gamma = 1.02)
    }
    val nSketchState =
      graft.ts.SketchStore.readSketch(spark, sketchDir).count()
    // DEEP-HISTORY sketch maintenance: the TIME-SHIFTED twa replicas
    //    (same ~series set, N× history) show the distinction the
    //    shifted-user replicas can't — state is bounded by series ×
    //    occupied log-buckets REGARDLESS of history depth, so as
    //    samples grow N× over a fixed series set, state_rows stays
    //    ~flat, bootstrap grows with the corpus (its one scan), and
    //    the fixed-batch merge stays ~FLAT (batch scan + flat state).
    val deepDir = graft.Scratch.dir("probe_sketch_deep_").toString
    val deepSamples = TSModel.samples(spark, twaSrc)
    val (_, tSketchDeepBoot) = timed {
      graft.ts.SketchStore.writeSketchVersioned(spark, deepSamples,
        deepDir, gamma = 1.02)
    }
    val (_, tSketchDeepMerge) = timed {
      graft.ts.SketchStore.mergeSketch(spark, sketchBatch, deepDir,
        gamma = 1.02)
    }
    val nSketchDeepState =
      graft.ts.SketchStore.readSketch(spark, deepDir).count()
    // Per-source divergence over the N× corpus: one tokenize pass
    //    feeding the top-N head + vocab-restricted counts; the
    //    probability grid stays sources×topN — tokenize-bound, ~linear.
    val (nSdiv, tSdiv) = timed {
      Text.sourceDivergence(probeDocs, topN = 300, alpha = 0.5).count()
    }
    // Burn-rate alerts over N× series: one hop-grid explode + one
    //    map-side-combined agg — scan-bound; alert rows scale with
    //    series (the filter's selectivity is scale-free).
    val (nBurn, tBurn) = timed {
      graft.ts.Rates.burnRate(TSModel.samples(spark, work), 2 * DAY,
        7 * DAY, DAY, 4.0e-4, 1.5, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Hampel over N× series: the ±span collect_list frame rides one
    //    exchange by series; per-row cost bounded by the query's span.
    val (nHamp, tHamp) = timed {
      graft.ts.Rolling.hampel(TSModel.samples(spark, work), span = 3,
        k = 3.0, fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // Shared 8-monitor streaming pass over N× series (round 16:
    //    z+cusum+rolling+gaps+seasonal+burn+hampel+ddsketch in ONE
    //    flatMapGroupsWithState): per-series state is constant
    //    (Welford + rings + cohort map + pending-window map + the open
    //    window's sketch buckets), so the wall tracks the staged
    //    replay scan, not the monitor count.
    val (nSmon, tSmon) = timed {
      graft.ts.StreamMonitors.monitorsOnce(spark, TSModel.samples(spark, work),
        zThreshold = 2.5, cusumThreshold = 3.0, q = 0.5, span = 10,
        gapThresholdMs = 2 * DAY, seasonalThreshold = 2.0, seasonalMode = "dow",
        fromMs = Some(T0), toMs = Some(T31), nChunks = 2, cacheKey = None,
        burnShortMs = 2 * DAY, burnLongMs = 7 * DAY, burnHopMs = DAY,
        burnBudgetPerSec = 4.0e-4, burnThreshold = 1.5,
        hampelSpan = 3, hampelK = 3.0,
        sketchGamma = 1.05, sketchWindowMs = 7 * DAY).count()
    }
    // Divergence MOMENTS grid over the N× corpus (round 15 hash-stable
    //    carrier): same tokenize-bound pass as the scores view, output
    //    a fixed sources×topN integer grid.
    val (nSdm, tSdm) = timed {
      Text.sourceDivergenceMoments(probeDocs, topN = 300).count()
    }
    // Two-stage binary search over the N× embedding corpus: the
    //    corpus-sized pass touches only the packed codes; the raw
    //    fetch stays shortlist×queries at every scale.
    val (nRr, tRr) = timed {
      graft.pipeline.BQ.rerankTopK(
        spark.read.parquet(s"$work/embeddings.parquet"),
        Seq(0L, 97L, 194L), k = 5, shortlist = 20).count()
    }
    // AB-join profile at 4× length, both routes: pairs pays
    //    w_a×w_b join rows with an O(m) dot each, the STOMP AB-join
    //    walks the same cells O(1)-amortized in one task — the gap
    //    the long route exists for (both scans are two-series pushed,
    //    so reps only move the fixed grid-agg floor).
    val (nJp4, tJp4) = timed {
      graft.ts.MatrixProfile.joinProfile(TSModel.samples(spark, work),
        DAY / 4, m = 7, a = "click_7", b = "view_7",
        fromMs = Some(T0), toMs = Some(T31)).count()
    }
    val (nJp4S, tJp4S) = timed {
      graft.ts.MatrixProfile.joinProfileStomp(TSModel.samples(spark, work),
        DAY / 4, m = 7, a = "click_7", b = "view_7",
        fromMs = Some(T0), toMs = Some(T31)).count()
    }
    // TSBS scan-bound shapes over N× events (the baseline-parity
    //    rows): double-groupby-all aggregates every host×metric cell
    //    (output fixed ~100×10×12, input N×), high-cpu-all is the
    //    FILTER_BY_VALUE scan (output N×) — both ~linear in events.
    val (nTdg, tTdg) = timed {
      graft.ts.Tsbs.doubleGroupby(spark, work, graft.ts.Tsbs.Metrics.size,
        T0, T0 + 12 * DAY - 1, DAY).count()
    }
    val (nThc, tThc) = timed {
      graft.ts.Tsbs.highCpu(spark, work, None, 90.0, T0, T31).count()
    }
    // Reference scaling-*.yml comparatives (BASELINE.md rows
    //    "TS.MGET / TS.MRANGE / TS.QUERYINDEX scaling"): the
    //    reference CI benches these per series count — our replicas
    //    give 7.5k/75k/225k series at 1/10/30×, so these rows are the
    //    measured twins. MGET = one aggregated pass + broadcast join;
    //    QUERYINDEX = the labels-only predicate scan (O(#series),
    //    never touches samples); raw-agg MRANGE = the one-pass
    //    bucketed max over every matched series.
    val scalingPreds = Seq(Multi.parsePred("type=(click,view,purchase,signup,error)"))
    val (nMget, tMget) = timed {
      Multi.mget(TSModel.samples(spark, work), labelsAll, scalingPreds).count()
    }
    val (nQix, tQix) = timed {
      Multi.queryIndex(labelsAll, scalingPreds).count()
    }
    val (nMrMax, tMrMax) = timed {
      Multi.mrange(TSModel.samples(spark, work), labelsAll, scalingPreds,
        RangeQuery.RangeArgs(from = Some(T0), to = Some(T31),
          aggs = Seq("max"), bucketMs = DAY)).count()
    }
    // Fuzzy decontamination at N× corpus vs a FIXED benchmark slice:
    //    bench bucket set broadcast, corpus side one signature pass —
    //    ~linear in docs expected (the md5 CPU term).
    val (nFz, tFz) = timed {
      graft.pipeline.CorpusPipeline.contaminationFuzzy(
        probeDocs.filter(col("doc_id") >= 50L),
        probeDocs.filter(col("doc_id") < 50L)).count()
    }
    // Zipf fit over the N× corpus: one map-side-combined wordcount +
    //    a distributed top-N head + an N-row regression — the head is
    //    query-bounded, so the wordcount scan is the whole cost.
    //    Replica token spaces are disjoint => vocabulary grows N× too.
    val (nZipf, tZipf) = timed {
      Text.zipfFit(probeDocs, topN = 100).count()
    }

    // Locale.ROOT: the f interpolator renders decimal commas under
    // comma-decimal locales, producing invalid JSON
    def s2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(
      s"""{"probe":"scale","base":"$base","reps":$reps,"n_docs":$nDocs,"n_events":$nEvents,""" +
      s""""fanout_parts":$fanoutParts,"fanout_identity":$fanoutIdentity,""" +
      s""""fanout_starved_parts":$fanoutStarvedParts,"fanout_starved_identity":$fanoutStarvedIdentity,""" +
      s""""minhash_lsh_full_sec":${s2(tMinhash)},"minhash_pairs":$nPairs,""" +
      s""""cc_canonical_sec":${s2(tCc)},"cc_labels":$nLabels,""" +
      s""""span_ngrams_sec":${s2(tSpans)},"span_rows":$nSpans,""" +
      s""""unigram_nll_sec":${s2(tNll)},"nll_rows":$nNll,""" +
      s""""stream_twa_sec":${s2(tTwa)},"stream_twa_batches":$twaBatches,""" +
      s""""stream_twa_sec_per_batch":${s2(tTwa / twaBatches)},"stream_twa_rows":$nTwa,""" +
      s""""ooo_batches":$oooBatches,"ooo_stream_sec":${s2(tOooStream)},""" +
      s""""ooo_log_rows_pre":$logPre,"ooo_log_rows_post":$logPost,""" +
      s""""ooo_resolve_pre_sec":${s2(tResolvePre)},"ooo_resolve_post_sec":${s2(tResolvePost)},""" +
      s""""ooo_compact_sec":${s2(tCompact)},"ooo_dest_rows":$nResolvePre,""" +
      s""""stream_ingest_sec":${s2(tIng)},"stream_ingest_rows":$nIng,""" +
      s""""pq_codes_sec":${s2(tPqCodes)},"pq_rows":$nCodes,""" +
      s""""pq_adc_sec":${s2(tPqAdc)},"pq_adc_rows":$nAdc,""" +
      s""""pq_train_full_sec":${s2(tPqTrainFull)},"pq_train_sampled_sec":${s2(tPqTrainSampled)},""" +
      s""""kmeans_full_sec":${s2(tKmFull)},"kmeans_sampled_sec":${s2(tKmSampled)},""" +
      s""""stream_dedup_rocksdb_sec":${s2(tSDedup)},"stream_dedup_rows":$nSDedup,""" +
      s""""dedup_state_rows":$stateRows,"dedup_state_bytes":$stateBytes,""" +
      s""""mrange_groupby_sec":${s2(tGroupby)},"groupby_rows":$nRows,""" +
      s""""classifier_sec":${s2(tClf)},"classifier_kept":$nClf,""" +
      s""""dsir_sec":${s2(tDsir)},"dsir_kept":$nDsirRows,""" +
      s""""chunk_sec":${s2(tChunk)},"chunk_rows":$nChunks,""" +
      s""""holt_sec":${s2(tHolt)},"holt_rows":$nHolt,""" +
      s""""topk_sec":${s2(tTopk)},"topk_rows":$nTopk,""" +
      s""""bigram_sec":${s2(tBig)},"bigram_rows":$nBig,""" +
      s""""bigram_zipf_sec":${s2(tBigZipf)},"bigram_zipf_rows":$nBigZipf,""" +
      s""""minhash_gate_sec":${s2(tGate)},"minhash_gate_rows":$nGate,""" +
      s""""sq8_topk_sec":${s2(tSq)},"sq8_rows":$nSq,""" +
      s""""stream_groupby_sec":${s2(tSgb)},"stream_groupby_rows":$nSgb,""" +
      s""""dtw_sec":${s2(tDtw)},"dtw_rows":$nDtw,""" +
      s""""decompose_sec":${s2(tDcmp)},"decompose_rows":$nDcmp,""" +
      s""""session_stream_sec":${s2(tSess)},"session_stream_rows":$nSess,""" +
      s""""dtw_nearest_sec":${s2(tDtwNear)},"dtw_nearest_rows":$nDtwNear,""" +
      s""""dtw_pruned_sec":${s2(tDtwPr)},"dtw_pruned_rows":$nDtwPr,""" +
      s""""dtw_pruned_survivors":$pruneSurv,"dtw_pruned_candidates":$pruneCand,""" +
      s""""dtw_banded_sec":${s2(tDtwBand)},"dtw_banded_rows":$nDtwBand,""" +
      s""""dtw_banded_survivors":$bandSurv,"dtw_banded_candidates":$bandCand,""" +
      s""""gaps_stream_sec":${s2(tGapsS)},"gaps_stream_rows":$nGapsS,""" +
      s""""ccf_sec":${s2(tCcf)},"ccf_rows":$nCcf,""" +
      s""""forecast_sec":${s2(tFc)},"forecast_rows":$nFc,""" +
      s""""zipf_fit_sec":${s2(tZipf)},"zipf_fit_rows":$nZipf,""" +
      s""""admit_state_sec":${s2(tAdmitState)},"admit_sec":${s2(tAdmit)},""" +
      s""""admit_kept":$nAdmit,""" +
      s""""matrix_profile_sec":${s2(tMp)},"matrix_profile_rows":$nMp,""" +
      s""""matrix_profile_stomp_sec":${s2(tMpStomp)},"matrix_profile_stomp_rows":$nMpStomp,""" +
      s""""mp_len4_pairs_sec":${s2(tMp4)},"mp_len4_pairs_rows":$nMp4,""" +
      s""""mp_len4_stomp_sec":${s2(tMp4Stomp)},"mp_len4_stomp_rows":$nMp4Stomp,""" +
      s""""fuzzy_decon_sec":${s2(tFz)},"fuzzy_decon_rows":$nFz,""" +
      s""""corr_matrix_sec":${s2(tCorr)},"corr_matrix_rows":$nCorr,""" +
      s""""corr_matrix_filter_sec":${s2(tCorrF)},"corr_matrix_filter_rows":$nCorrF,""" +
      s""""decompose_anomaly_sec":${s2(tRem)},"decompose_anomaly_rows":$nRem,""" +
      s""""binseg_sec":${s2(tBinseg)},"binseg_rows":$nBinseg,""" +
      s""""burn_rate_sec":${s2(tBurn)},"burn_rate_rows":$nBurn,""" +
      s""""hampel_sec":${s2(tHamp)},"hampel_rows":$nHamp,""" +
      s""""shared_monitors_sec":${s2(tSmon)},"shared_monitors_rows":$nSmon,""" +
      s""""divergence_moments_sec":${s2(tSdm)},"divergence_moments_rows":$nSdm,""" +
      s""""bq_rerank_sec":${s2(tRr)},"bq_rerank_rows":$nRr,""" +
      s""""theilsen_sec":${s2(tTheil)},"theilsen_rows":$nTheil,""" +
      s""""hist_quantile_sec":${s2(tHq)},"hist_quantile_rows":$nHq,""" +
      s""""ddsketch_quantile_sec":${s2(tDdq)},"ddsketch_quantile_rows":$nDdq,""" +
      s""""sketch_bootstrap_sec":${s2(tSketchBoot)},"sketch_merge_sec":${s2(tSketchMerge)},""" +
      s""""sketch_state_rows":$nSketchState,""" +
      s""""sketch_deep_bootstrap_sec":${s2(tSketchDeepBoot)},"sketch_deep_merge_sec":${s2(tSketchDeepMerge)},""" +
      s""""sketch_deep_state_rows":$nSketchDeepState,""" +
      s""""source_divergence_sec":${s2(tSdiv)},"source_divergence_rows":$nSdiv,""" +
      s""""mp_len4_joinpairs_sec":${s2(tJp4)},"mp_len4_joinpairs_rows":$nJp4,""" +
      s""""mp_len4_joinstomp_sec":${s2(tJp4S)},"mp_len4_joinstomp_rows":$nJp4S,""" +
      s""""tsbs_double_groupby_all_sec":${s2(tTdg)},"tsbs_double_groupby_all_rows":$nTdg,""" +
      s""""tsbs_high_cpu_all_sec":${s2(tThc)},"tsbs_high_cpu_all_rows":$nThc,""" +
      s""""mget_scaling_sec":${s2(tMget)},"mget_scaling_series":$nMget,""" +
      s""""queryindex_scaling_sec":${s2(tQix)},"queryindex_scaling_rows":$nQix,""" +
      s""""mrange_max_scaling_sec":${s2(tMrMax)},"mrange_max_scaling_rows":$nMrMax,""" +
      s""""image_phash_sec":${s2(tPhash)},"image_phash_pairs":$nPhash}""")
    spark.stop()
  }
}
