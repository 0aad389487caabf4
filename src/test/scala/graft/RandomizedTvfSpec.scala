package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ts.{Aggs, Multi, RangeQuery, TSModel}
import graft.ts.RangeQuery.RangeArgs

/**
 * Randomized differential for the SQL TVF route: seeded random option
 * combos rendered as `SELECT * FROM ts_range(...)` / `ts_mrange(...)`
 * SQL text must return row-for-row what the Column API returns for the
 * same arguments. The Column API itself is checked against DuckDB by
 * six randomized suites — this sweep proves the TVF argument plumbing
 * (literal extraction, arity dispatch, predicate parsing, GROUPBY
 * routing) is faithful across the option space, not just the four
 * hand-picked ExtensionsSpec combos.
 */
class RandomizedTvfSpec extends AnyFunSuite {
  import SparkTest._

  private val T0 = 1704067200000L
  private val HOUR = 3600000L
  private val DAY = 86400000L

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("ts_range TVF == Column API across 40 random option combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val keys = samples.select(col("series")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val rnd = new scala.util.Random(4242)
    val buckets = Seq(HOUR, 6 * HOUR, DAY, 2 * DAY)
    for (i <- 1 to 40) {
      val key = keys(rnd.nextInt(keys.size))
      val from = T0 + rnd.nextInt(20) * DAY
      val to = from + (1 + rnd.nextInt(12)) * DAY
      val raw = rnd.nextInt(4) == 0
      val agg = Aggs.names(rnd.nextInt(Aggs.names.size))
      val bucket = buckets(rnd.nextInt(buckets.size))
      val align = if (rnd.nextBoolean()) 0L else from + rnd.nextInt(1000) * 60000L
      val (sqlText, args) =
        if (raw)
          (s"SELECT * FROM ts_range('$key', $from, $to)",
            RangeArgs(from = Some(from), to = Some(to)))
        else if (align == 0L)
          (s"SELECT * FROM ts_range('$key', $from, $to, '$agg', $bucket)",
            RangeArgs(from = Some(from), to = Some(to), aggs = Seq(agg), bucketMs = bucket))
        else
          (s"SELECT * FROM ts_range('$key', $from, $to, '$agg', $bucket, $align)",
            RangeArgs(from = Some(from), to = Some(to), aggs = Seq(agg),
              bucketMs = bucket, alignMs = align))
      val api = RangeQuery.range(samples.filter(col("series") === key), args)
      assert(rows(spark.sql(sqlText)) == rows(api), s"combo $i: $sqlText")
    }
  }

  test("option-grammar TVF form == Column API across 30 random renderings") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val keys = samples.select(col("series")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val rnd = new scala.util.Random(31337)
    def kw(s: String): String = if (rnd.nextBoolean()) s else s.toLowerCase
    for (i <- 1 to 30) {
      val key = keys(rnd.nextInt(keys.size))
      val from = T0 + rnd.nextInt(20) * DAY
      val to = from + (2 + rnd.nextInt(10)) * DAY
      val nAggs = rnd.nextInt(3)
      val aggs =
        if (nAggs == 0) Nil
        else if (nAggs == 1) Seq(Aggs.names(rnd.nextInt(Aggs.names.size)))
        else rnd.shuffle(Aggs.names.filterNot(_ == "twa")).take(2)
      val bucket = Seq(6 * HOUR, DAY, 2 * DAY)(rnd.nextInt(3))
      val clauses = scala.collection.mutable.ArrayBuffer[String]()
      var args = RangeArgs(from = Some(from), to = Some(to))
      if (aggs.nonEmpty) {
        aggs.foreach(a => clauses += s"${kw("AGGREGATION")} $a $bucket")
        args = args.copy(aggs = aggs, bucketMs = bucket)
        if (rnd.nextBoolean()) {
          val align = from + rnd.nextInt(100) * 60000L
          clauses += s"${kw("ALIGN")} $align"; args = args.copy(alignMs = align)
        }
        if (rnd.nextBoolean()) {
          val (sym, norm) = Seq(("~", "~"), ("mid", "~"), ("+", "+"), ("end", "+"))(rnd.nextInt(4))
          clauses += s"${kw("BUCKETTIMESTAMP")} $sym"; args = args.copy(bucketTs = norm)
        }
        if (rnd.nextBoolean()) { clauses += kw("EMPTY"); args = args.copy(empty = true) }
      }
      if (rnd.nextBoolean()) {
        val n = 1 + rnd.nextInt(10)
        clauses += s"${kw("COUNT")} $n"; args = args.copy(count = Some(n))
      }
      if (rnd.nextBoolean()) { clauses += kw("REV"); args = args.copy(reverse = true) }
      if (rnd.nextInt(3) == 0) {
        val lo = -2.0 + rnd.nextDouble(); val hi = lo + 2 * rnd.nextDouble()
        clauses += s"${kw("FILTER_BY_VALUE")} $lo $hi"
        args = args.copy(filterByValue = Some((lo, hi)))
      }
      // shuffle clause order, but keep the AGGREGATION clauses in
      // their relative order — output column order follows clause
      // order by design (one column per aggregator, in query order)
      val shuffled = rnd.shuffle(clauses.toSeq)
      val aggClauses = clauses.toSeq.filter(_.toUpperCase.startsWith("AGGREGATION"))
      val it = aggClauses.iterator
      val opts = shuffled.map(c =>
        if (c.toUpperCase.startsWith("AGGREGATION")) it.next() else c).mkString(" ")
      val tvf = spark.sql(s"SELECT * FROM ts_range('$key', $from, $to, '$opts')")
      val api = RangeQuery.range(samples.filter(col("series") === key), args)
      assert(rows(tvf) == rows(api), s"combo $i: '$opts'")
    }
  }

  test("ts_mrange TVF == Column API across 20 random predicate/GROUPBY combos") {
    graft.functions.GraftFunctions.register(spark)
    val view = TSModel.samples(spark, sf)
    val labels = TSModel.labels(spark, sf)
    view.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    labels.createOrReplaceTempView(graft.functions.GraftFunctions.LabelsView)
    // The TVF reads the view's series store. A float reducer's last ulp
    // depends on its input order (var.p over the parquet frame and over
    // the store differ in the 17th digit), so the Column API runs over
    // the same store and the compare stays exact.
    val samples = TSModel.seriesStore(view)
    val rnd = new scala.util.Random(777)
    // the reference requires >= 1 inclusive matcher (equality/list
    // match) per filter — draw the first pred from the inclusive pool
    val inclusivePool = Seq(
      "type=click", "type=view", "type=(click,view)", "type=(purchase,signup)",
      "user=(1,2,3)", "user=(4,5,6,7)")
    val extraPool = inclusivePool ++ Seq("type!=error", "user!=(1,2)", "type!=")
    val reducers = Aggs.names.filterNot(Set("first", "last", "twa"))
    val gLabels = Seq("type", "user")
    for (i <- 1 to 20) {
      val first = inclusivePool(rnd.nextInt(inclusivePool.size))
      val preds = first +: (if (rnd.nextBoolean())
        Seq(extraPool(rnd.nextInt(extraPool.size))).filterNot(_ == first) else Nil)
      val from = T0 + rnd.nextInt(15) * DAY
      val to = from + (2 + rnd.nextInt(14)) * DAY
      val agg = Aggs.names(rnd.nextInt(Aggs.names.size))
      val bucket = Seq(6 * HOUR, DAY, 3 * DAY)(rnd.nextInt(3))
      val parsed = preds.map(Multi.parsePred)
      val args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq(agg), bucketMs = bucket)
      val groupBy = if (rnd.nextInt(3) == 0 && agg != "twa")
        Some((gLabels(rnd.nextInt(gLabels.size)), reducers(rnd.nextInt(reducers.size))))
      else None
      val filter = preds.mkString(" ")
      // half the combos drive the positional forms, half render the
      // same call through the option-grammar string (with COUNT/REV
      // riders the positional forms cannot express)
      val grammar = rnd.nextBoolean()
      val (sqlText, api) = groupBy match {
        case Some((gl, red)) if grammar =>
          val extra = if (rnd.nextBoolean()) " REV" else ""
          val a2 = if (extra.nonEmpty) args.copy(reverse = true) else args
          (s"SELECT * FROM ts_mrange('$filter', $from, $to, 'AGGREGATION $agg $bucket GROUPBY $gl REDUCE $red$extra')",
            Multi.mrangeGroupBy(samples, labels, parsed, a2, gl, red))
        case Some((gl, red)) =>
          (s"SELECT * FROM ts_mrange('$filter', $from, $to, '$agg', $bucket, '$gl', '$red')",
            Multi.mrangeGroupBy(samples, labels, parsed, args, gl, red))
        case None if grammar =>
          val n = 1 + rnd.nextInt(6)
          val a2 = args.copy(count = Some(n))
          (s"SELECT * FROM ts_mrange('$filter', $from, $to, 'COUNT $n AGGREGATION $agg $bucket')",
            Multi.mrange(samples, labels, parsed, a2))
        case None =>
          (s"SELECT * FROM ts_mrange('$filter', $from, $to, '$agg', $bucket)",
            Multi.mrange(samples, labels, parsed, args))
      }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted, s"combo $i: $sqlText")
    }
  }

  test("round-11 window TVFs == Column API across 30 random combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val keys = samples.select(col("series")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val rnd = new scala.util.Random(1111)
    val buckets = Seq(6 * HOUR, DAY, 2 * DAY)
    for (i <- 1 to 30) {
      val from = T0 + rnd.nextInt(20) * DAY
      val to = from + (2 + rnd.nextInt(11)) * DAY
      val bucket = buckets(rnd.nextInt(buckets.size))
      val (sqlText, api) = rnd.nextInt(11) match {
        case 0 =>
          val align = if (rnd.nextBoolean()) 0L else HOUR * (1 + rnd.nextInt(5))
          (if (align == 0L) s"SELECT * FROM ts_irate($from, $to, $bucket)"
           else s"SELECT * FROM ts_irate($from, $to, $bucket, $align)",
            graft.ts.Rates.instant(samples, bucket, align, Some(from), Some(to)))
        case 1 =>
          val thr = Seq(DAY, 2 * DAY, 4 * DAY)(rnd.nextInt(3))
          (s"SELECT * FROM ts_gaps($from, $to, $thr)",
            graft.ts.Sessions.gaps(samples, thr, Some(from), Some(to)))
        case 2 =>
          val period = Seq(3, 5, 7)(rnd.nextInt(3))
          (s"SELECT * FROM ts_decompose($from, $to, $bucket, $period)",
            graft.ts.Seasonal.decompose(samples, bucket, period, Some(from), Some(to)))
        case 3 =>
          val (sf2, tf) = (Seq(0.3, 0.5)(rnd.nextInt(2)), Seq(0.2, 0.6)(rnd.nextInt(2)))
          val h = 1 + rnd.nextInt(5)
          (s"SELECT * FROM ts_forecast($from, $to, $sf2, $tf, $h, $bucket)",
            graft.ts.Smoothing.holtForecast(samples, sf2, tf, h, bucket,
              Some(from), Some(to)))
        case 4 =>
          val a = keys(rnd.nextInt(keys.size))
          val b = keys(rnd.nextInt(keys.size))
          val lag = rnd.nextInt(5)
          (s"SELECT * FROM ts_ccf('$a', '$b', $from, $to, $bucket, $lag)",
            graft.ts.AsOf.ccf(samples, a, b, bucket, lag,
              fromMs = Some(from), toMs = Some(to)))
        case 5 =>
          val (m, k) = (2 + rnd.nextInt(3), 3 + rnd.nextInt(8))
          (s"SELECT * FROM ts_motifs($from, $to, $bucket, $m, $k)",
            graft.ts.Sax.motifs(samples, bucket, m, k,
              fromMs = Some(from), toMs = Some(to)))
        case 6 =>
          val (al, be, ga) = (Seq(0.3, 0.5)(rnd.nextInt(2)),
            Seq(0.2, 0.4)(rnd.nextInt(2)), Seq(0.3, 0.6)(rnd.nextInt(2)))
          val m = Seq(6, 12, 24)(rnd.nextInt(3))
          val h = 1 + rnd.nextInt(4)
          (s"SELECT * FROM ts_hw_forecast($from, $to, $al, $be, $ga, $m, $h, $bucket)",
            graft.ts.Smoothing.holtWintersForecast(samples, al, be, ga, m, h,
              bucket, Some(from), Some(to)))
        case 7 =>
          val a = keys(rnd.nextInt(keys.size))
          val b = keys(rnd.nextInt(keys.size))
          val span = 2 + rnd.nextInt(6)
          (s"SELECT * FROM ts_rolling_corr('$a', '$b', $from, $to, $bucket, $span)",
            graft.ts.AsOf.rollingCorr(samples, a, b, bucket, span,
              fromMs = Some(from), toMs = Some(to)))
        case 8 =>
          val m = 2 + rnd.nextInt(4)
          (s"SELECT * FROM ts_matrix_profile($from, $to, $bucket, $m)",
            graft.ts.MatrixProfile.profile(samples, bucket, m,
              Some(from), Some(to)))
        case 9 =>
          val probe = keys(rnd.nextInt(keys.size))
          val (k, band) = (1 + rnd.nextInt(5), 1 + rnd.nextInt(4))
          (s"SELECT * FROM ts_dtw_nearest_banded('$probe', $from, $to, $bucket, $k, $band)",
            graft.ts.Dtw.nearestBanded(samples, bucket, probe, k, band,
              Some(from), Some(to)))
        case _ =>
          val split = from + (to - from) / 2
          val (sf2, tf) = (Seq(0.3, 0.5)(rnd.nextInt(2)), Seq(0.2, 0.6)(rnd.nextInt(2)))
          val h = 1 + rnd.nextInt(4)
          (s"SELECT * FROM ts_backtest($from, $to, $split, $sf2, $tf, $h, $bucket)",
            graft.ts.Backtest.holtBacktest(samples, sf2, tf, split, h, bucket,
              Some(from), Some(to)))
      }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted,
        s"combo $i: $sqlText")
    }
  }

  test("round-13 TVFs (MP family / rolling backtest / corpus pipeline) == Column API across 45 random combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val labels = TSModel.labels(spark, sf)
    labels.createOrReplaceTempView(graft.functions.GraftFunctions.LabelsView)
    val docs = graft.pipeline.Text.loadDocuments(spark, sf)
    docs.createOrReplaceTempView(graft.functions.GraftFunctions.DocumentsView)
    val embs = graft.pipeline.Similarity.loadEmbeddings(spark, sf)
    embs.createOrReplaceTempView(graft.functions.GraftFunctions.EmbeddingsView)
    val keys = samples.select(col("series")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val rnd = new scala.util.Random(2026)
    val buckets = Seq(6 * HOUR, DAY, 2 * DAY)
    for (i <- 1 to 45) {
      val from = T0 + rnd.nextInt(18) * DAY
      val to = from + (3 + rnd.nextInt(10)) * DAY
      val bucket = buckets(rnd.nextInt(buckets.size))
      val (sqlText, api) = rnd.nextInt(15) match {
        case 0 =>
          val m = 2 + rnd.nextInt(4)
          (s"SELECT * FROM ts_matrix_profile_stomp($from, $to, $bucket, $m)",
            graft.ts.MatrixProfile.profileStomp(samples, bucket, m,
              Some(from), Some(to)))
        case 1 =>
          val (m, k) = (2 + rnd.nextInt(3), 1 + rnd.nextInt(4))
          (s"SELECT * FROM ts_mp_discords($from, $to, $bucket, $m, $k)",
            graft.ts.MatrixProfile.discords(samples, bucket, m, k,
              Some(from), Some(to)))
        case 2 =>
          val (m, k) = (2 + rnd.nextInt(3), 1 + rnd.nextInt(4))
          (s"SELECT * FROM ts_mp_motifs($from, $to, $bucket, $m, $k)",
            graft.ts.MatrixProfile.motifWindows(samples, bucket, m, k,
              Some(from), Some(to)))
        case 3 =>
          val a = keys(rnd.nextInt(keys.size))
          val b = keys.filterNot(_ == a)(rnd.nextInt(keys.size - 1))
          val m = 2 + rnd.nextInt(3)
          (s"SELECT * FROM ts_mp_join('$a', '$b', $from, $to, $bucket, $m)",
            graft.ts.MatrixProfile.joinProfile(samples, bucket, m, a, b,
              Some(from), Some(to)))
        case 4 =>
          val o1 = from + (to - from) / 3
          val o2 = from + 2 * (to - from) / 3
          val (sf2, tf) = (Seq(0.3, 0.5)(rnd.nextInt(2)), Seq(0.2, 0.6)(rnd.nextInt(2)))
          val h = 1 + rnd.nextInt(4)
          (s"SELECT * FROM ts_backtest_rolling($from, $to, '$o1,$o2', $sf2, $tf, $h, $bucket)",
            graft.ts.Backtest.holtBacktestRolling(samples, sf2, tf, Seq(o1, o2),
              h, bucket, Some(from), Some(to)))
        case 5 =>
          val cap = 1 + rnd.nextInt(20)
          (s"SELECT * FROM corpus_source_cap($cap)",
            graft.pipeline.CorpusPipeline.sourceCap(docs, cap))
        case 6 =>
          val (cut, shared) = (2 + rnd.nextInt(5), 2L + rnd.nextInt(6))
          (s"SELECT * FROM corpus_contamination('doc_id < $cut', $shared)",
            graft.pipeline.CorpusPipeline.contamination(docs,
              docs.filter(col("doc_id") < cut), shared))
        case 7 =>
          val split = 20 + rnd.nextInt(80)
          (s"SELECT * FROM corpus_contamination_fuzzy('doc_id < $split', 'doc_id >= $split')",
            graft.pipeline.CorpusPipeline.contaminationFuzzy(
              docs.filter(col("doc_id") >= split), docs.filter(col("doc_id") < split)))
        case 8 =>
          val (budget, shards) = (256L * (1 + rnd.nextInt(8)), 1 + rnd.nextInt(8))
          (s"SELECT * FROM corpus_pack_sequences($budget, $shards)",
            graft.pipeline.CorpusPipeline.packSequences(docs, budget, shards))
        case 9 =>
          val (ct, ov) = (8 + rnd.nextInt(24), rnd.nextInt(6))
          (s"SELECT * FROM corpus_chunk($ct, $ov)",
            graft.pipeline.Chunking.chunk(docs, ct, ov))
        case 10 =>
          val frac = Seq(0.1, 0.3, 0.5, 0.7)(rnd.nextInt(4))
          (s"SELECT * FROM corpus_quality_percentile($frac)",
            graft.pipeline.CorpusPipeline.qualityPercentileKeep(docs, frac))
        case 11 =>
          val set = rnd.shuffle(keys).take(3 + rnd.nextInt(4))
          (s"SELECT * FROM ts_corr_matrix('${set.mkString(" ")}', $from, $to, $bucket)",
            graft.ts.AsOf.pearsonMatrix(samples, set, bucket,
              fromMs = Some(from), toMs = Some(to)))
        case 12 =>
          val users = rnd.shuffle(Seq(7, 15, 34, 50, 12, 117)).take(2)
          val pred = s"user=(${users.mkString(",")})"
          (s"SELECT * FROM ts_corr_matrix_filter('$pred', $from, $to, $bucket)",
            graft.ts.AsOf.pearsonMatrixByFilter(samples, labels,
              Seq(graft.ts.Multi.parsePred(pred)), bucket,
              fromMs = Some(from), toMs = Some(to)))
        case 13 =>
          val period = Seq(3, 5, 7)(rnd.nextInt(3))
          val thr = Seq(1.0, 1.5, 2.0)(rnd.nextInt(3))
          (s"SELECT * FROM ts_decompose_anomaly($from, $to, $bucket, $period, $thr)",
            graft.ts.Seasonal.remainderAnomaly(samples, bucket, period, thr,
              fromMs = Some(from), toMs = Some(to)))
        case _ =>
          val qids = rnd.shuffle(Seq(0L, 97L, 194L, 291L, 388L, 485L)).take(1 + rnd.nextInt(3))
          val (k, np) = (1 + rnd.nextInt(5), 1 + rnd.nextInt(6))
          if (rnd.nextBoolean())
            (s"SELECT * FROM ann_topk('${qids.mkString(" ")}', $k)",
              graft.pipeline.Similarity.bruteForceTopK(embs, qids, k))
          else
            (s"SELECT * FROM ann_ivf_topk('${qids.mkString(" ")}', $k, 16, $np)",
              graft.pipeline.Similarity.ivfTopKQuantized(embs, qids, k,
                graft.pipeline.Similarity.syntheticCentroids(16, 64), np))
      }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted,
        s"combo $i: $sqlText")
    }
  }

  test("round-14 TVFs (binseg / Theil-Sen / burn rate / hampel / histogram quantile) == Column API across 25 random combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val rnd = new scala.util.Random(140815)
    val buckets = Seq(6 * HOUR, DAY, 2 * DAY)
    for (i <- 1 to 25) {
      val from = T0 + rnd.nextInt(15) * DAY
      val to = from + (6 + rnd.nextInt(14)) * DAY
      val bucket = buckets(rnd.nextInt(buckets.size))
      val (sqlText, api) = rnd.nextInt(5) match {
        case 0 =>
          val levels = 1 + rnd.nextInt(3)
          val minSize = 2 + rnd.nextInt(2)
          (s"SELECT * FROM ts_changepoint($from, $to, $bucket, $levels, $minSize)",
            graft.ts.Changepoint.binseg(samples, bucket, levels, minSize,
              fromMs = Some(from), toMs = Some(to)))
        case 1 =>
          (s"SELECT * FROM ts_theilsen($from, $to, $bucket)",
            graft.ts.Trend.theilSen(samples, bucket,
              fromMs = Some(from), toMs = Some(to)))
        case 2 =>
          val hop = bucket
          val long = (2 + rnd.nextInt(5)).toLong * hop
          val short = (1 + rnd.nextInt(2)).toLong * hop
          val (budget, thr) = (Seq(2.0e-4, 4.0e-4)(rnd.nextInt(2)),
            Seq(1.0, 1.5)(rnd.nextInt(2)))
          (s"SELECT * FROM ts_burn_rate($from, $to, $short, $long, $hop, $budget, $thr)",
            graft.ts.Rates.burnRate(samples, short, long, hop, budget, thr,
              fromMs = Some(from), toMs = Some(to)))
        case 3 =>
          val (span, k) = (1 + rnd.nextInt(5), Seq(1.5, 2.5, 3.0)(rnd.nextInt(3)))
          (s"SELECT * FROM ts_hampel($from, $to, $span, $k)",
            graft.ts.Rolling.hampel(samples, span, k,
              fromMs = Some(from), toMs = Some(to)))
        case _ =>
          val nbins = 5 + rnd.nextInt(20)
          val q = Seq(0.5, 0.9, 0.95, 1.0)(rnd.nextInt(4))
          (s"SELECT * FROM ts_histogram_quantile($from, $to, 0.0, 120.0, $nbins, $q)",
            graft.ts.Histogram.histogramQuantile(samples, 0.0, 120.0, nbins, q,
              fromMs = Some(from), toMs = Some(to)))
      }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted,
        s"combo $i: $sqlText")
    }
  }

  test("round-16 DDSketch TVFs (quantile / windowed) == Column API across 16 random combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val rnd = new scala.util.Random(160816)
    for (i <- 1 to 16) {
      val from = T0 + rnd.nextInt(15) * DAY
      val to = from + (6 + rnd.nextInt(14)) * DAY
      val gamma = Seq(1.02, 1.05, 1.2, 2.0)(rnd.nextInt(4))
      val (sqlText, api) =
        if (i % 2 == 0) {
          val q = Seq(0.5, 0.9, 0.95, 1.0)(rnd.nextInt(4))
          (s"SELECT * FROM ts_ddsketch_quantile($from, $to, $gamma, $q)",
            graft.ts.Histogram.ddsketchQuantile(samples, gamma, q,
              fromMs = Some(from), toMs = Some(to)))
        } else {
          val win = Seq(DAY, 2 * DAY, 7 * DAY)(rnd.nextInt(3))
          (s"SELECT * FROM ts_ddsketch_windowed($from, $to, $gamma, $win)",
            graft.ts.Histogram.ddsketchWindowed(samples, gamma, win,
              fromMs = Some(from), toMs = Some(to)))
        }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted,
        s"combo $i: $sqlText")
    }
  }

  test("round-17 DDSketch TVFs (signed histogram / quantile / windowed + collapsed) == Column API across 18 random combos") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    val rnd = new scala.util.Random(170816)
    for (i <- 1 to 18) {
      val from = T0 + rnd.nextInt(15) * DAY
      val to = from + (6 + rnd.nextInt(14)) * DAY
      val gamma = Seq(1.02, 1.05, 1.2, 2.0)(rnd.nextInt(4))
      // random center, including 0 (all mass positive) — the TVF's
      // center arg must equal the Column API's (value − center) frame
      val center = Seq(0.0, 30.0, 50.0, 80.0)(rnd.nextInt(4))
      val centered = samples.withColumn(
        "value", org.apache.spark.sql.functions.col("value") - center)
      val (sqlText, api) = i % 4 match {
        case 0 =>
          (s"SELECT * FROM ts_ddsketch_signed($from, $to, $gamma, $center)",
            graft.ts.Histogram.ddsketchHistogramSigned(centered, gamma,
              fromMs = Some(from), toMs = Some(to)))
        case 1 =>
          val q = Seq(0.1, 0.5, 0.9, 1.0)(rnd.nextInt(4))
          (s"SELECT * FROM ts_ddsketch_signed_quantile($from, $to, $gamma, $q, $center)",
            graft.ts.Histogram.ddsketchQuantileSigned(centered, gamma, q,
              fromMs = Some(from), toMs = Some(to)))
        case 2 =>
          val win = Seq(DAY, 2 * DAY, 7 * DAY)(rnd.nextInt(3))
          (s"SELECT * FROM ts_ddsketch_signed_windowed($from, $to, $gamma, $win, $center)",
            graft.ts.Histogram.ddsketchWindowedSigned(centered, gamma, win,
              fromMs = Some(from), toMs = Some(to)))
        case _ =>
          // collapsing store rides the positive family (raw samples)
          val mb = 3 + rnd.nextInt(12)
          (s"SELECT * FROM ts_ddsketch_collapsed($from, $to, $gamma, $mb)",
            graft.ts.Histogram.ddsketchHistogramCollapsed(samples, gamma, mb,
              strict = false, fromMs = Some(from), toMs = Some(to)))
      }
      assert(rows(spark.sql(sqlText)).sorted == rows(api).sorted,
        s"combo $i: $sqlText")
    }
  }
}
