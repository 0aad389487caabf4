package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ts._

/** Beyond-reference analytics (SURVEY §2.8): windows, as-of joins,
  * correlation, anomaly and changepoint detection, smoothing and
  * forecasting, sketches, matrix profile, DTW, the streaming monitors,
  * and their SQL table-function twins. */
object AnalyticsQueries {
  import Fixture._

  lazy val all: Seq[Q] = Seq(
    // sliding (hopping) windows — beyond-reference extension (§2.8:
    // the reference aggregates tumbling-only): 1d rolling avg/count
    // emitted every 6h over the whole fixture month
    Q("ts_range_sliding", (s, dir) =>
      Sliding.slidingRange(monthSamples(s, dir), "avg",
        windowMs = DAY, hopMs = 6 * HOUR, fromMs = Some(T0), toMs = Some(T31)),
      Sliding.slidingRangeSql("avg",
        windowMs = DAY, hopMs = 6 * HOUR, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_range_sliding_count", (s, dir) =>
      Sliding.slidingRange(monthSamples(s, dir), "count",
        windowMs = DAY, hopMs = 6 * HOUR, fromMs = Some(T0), toMs = Some(T31)),
      Sliding.slidingRangeSql("count",
        windowMs = DAY, hopMs = 6 * HOUR, fromMs = Some(T0), toMs = Some(T31))),

    // the window extensions through the SQL TVF route — identical
    // plans to the Column API, registered via SparkSessionExtensions
    Q("ts_sql_tvf_sliding",
      viaSql(Samples)(s"SELECT * FROM ts_sliding($T0, $T31, 'avg', $DAY, ${6 * HOUR})"),
      Sliding.slidingRangeSql("avg",
        windowMs = DAY, hopMs = 6 * HOUR, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_session",
      viaSql(Samples)(s"SELECT * FROM ts_session($T0, $T31, 'avg', ${12 * HOUR})"),
      Sessions.sessionRangeSql("avg", gapMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_rate", viaSql(Samples)(s"SELECT * FROM ts_rate($T0, $T31, $DAY)"),
      Rates.deltaRateSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_resets", viaSql(Samples)(s"SELECT * FROM ts_resets($T0, $T31, ${2 * DAY})"),
      Rates.resetsSql(bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_increase", viaSql(Samples)(s"SELECT * FROM ts_increase($T0, $T31, ${2 * DAY})"),
      Rates.increaseSql(bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_irate", viaSql(Samples)(s"SELECT * FROM ts_irate($T0, $T31, ${2 * DAY})"),
      Rates.instantSql(bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_gaps", viaSql(Samples)(s"SELECT * FROM ts_gaps($T0, $T31, ${3 * DAY})"),
      Sessions.gapsSql(thresholdMs = 3 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_decompose", viaSql(Samples)(s"SELECT * FROM ts_decompose($T0, $T31, $DAY, 5)"),
      Seasonal.decomposeSql(bucketMs = DAY,
        period = 5, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_forecast",
      viaSql(Samples)(s"SELECT * FROM ts_forecast($T0, $T31, 0.5, 0.2, 5, ${12 * HOUR})"),
      Smoothing.holtForecastSql(sf = 0.5, tf = 0.2,
        horizon = 5, stepMs = 12 * HOUR, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_dtw",
      viaSql(Samples)(s"SELECT * FROM ts_dtw('${dtwSeries.mkString(" ")}', $T0, $T31, ${2 * DAY})"),
      Dtw.pairwiseSql(bucketMs = 2 * DAY,
        seriesSet = dtwSeries, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_dtw_nearest",
      viaSql(Samples)(s"SELECT * FROM ts_dtw_nearest('view_3', $T0, $T31, ${2 * DAY}, 6)"),
      Dtw.nearestSql(bucketMs = 2 * DAY,
        probe = "view_3", k = 6, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_ccf",
      viaSql(Samples)(s"SELECT * FROM ts_ccf('click_3', 'view_3', $T0, $T31, ${2 * DAY}, 5)"),
      AsOf.ccfSql("click_3", "view_3",
        bucketMs = 2 * DAY, maxLag = 5, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_quantiles",
      viaSql(Samples)(s"SELECT * FROM ts_quantiles($T0, $T31, $DAY, '0.5,0.9,0.99')"),
      Quantiles.bucketQuantilesSql(
        Seq(0.5, 0.9, 0.99), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // round-10 analytics TVFs (distinct parameters from their
    // Column-API twins, so the two routes cannot mask each other)
    Q("ts_sql_tvf_mad", viaSql(Samples)(s"SELECT * FROM ts_mad($T0, $T31, 1.8)"),
      Anomaly.madSql(1.8,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_trend", viaSql(Samples)(s"SELECT * FROM ts_trend($T0, $T31, ${T31 + 14 * DAY})"),
      Trend.fitSql(predictAtMs = T31 + 14 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_lttb", viaSql(Samples)(s"SELECT * FROM ts_lttb($T0, $T31, ${2 * DAY})"),
      Lttb.downsampleSql(bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_cusum", viaSql(Samples)(s"SELECT * FROM ts_cusum($T0, $T31, 0.8)"),
      Changepoint.cusumSql(0.8,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_changepoint",
      viaSql(Samples)(s"SELECT * FROM ts_changepoint($T0, $T31, ${2 * DAY}, 3, 3)"),
      graft.ts.Changepoint.binsegSql(
        bucketMs = 2 * DAY, levels = 3, minSize = 3,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_theilsen", viaSql(Samples)(s"SELECT * FROM ts_theilsen($T0, $T31, ${2 * DAY})"),
      Trend.theilSenSql(
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_hampel", viaSql(Samples)(s"SELECT * FROM ts_hampel($T0, $T31, 5, 3.0)"),
      Rolling.hampelSql(span = 5, k = 3.0,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_burn_rate",
      viaSql(Samples)(
        s"SELECT * FROM ts_burn_rate($T0, $T31, $DAY, ${7 * DAY}, $DAY, 3.0e-4, 2.0)"),
      Rates.burnRateSql(shortMs = DAY,
        longMs = 7 * DAY, hopMs = DAY, budgetPerSec = 3.0e-4,
        threshold = 2.0, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_asof",
      viaSql(Samples)(s"SELECT * FROM ts_asof('view_3', 'click_5', $T0, $T31, ${3 * DAY})"),
      AsOf.asofJoinSql("view_3", "click_5",
        toleranceMs = Some(3 * DAY), fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_seasonal", viaSql(Samples)(s"SELECT * FROM ts_seasonal($T0, $T31, 'dow', 1.7)"),
      Seasonal.anomalySql(1.7, "dow",
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_winsorize", viaSql(Samples)(s"SELECT * FROM ts_winsorize($T0, $T31, 0.1, 0.9)"),
      Rolling.winsorizeSql(0.1, 0.9,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_zscore", viaSql(Samples)(s"SELECT * FROM ts_zscore($T0, $T31, 2.3)"),
      Anomaly.zscoreSql(2.3,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_holt", viaSql(Samples)(s"SELECT * FROM ts_holt($T0, $T31, 0.5, 0.2)"),
      Smoothing.holtSql(sf = 0.5, tf = 0.2,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_holt_winters",
      viaSql(Samples)(s"SELECT * FROM ts_holt_winters($T0, $T31, 0.5, 0.3, 0.4, 24)"),
      Smoothing.holtWintersSql(alpha = 0.5,
        beta = 0.3, gamma = 0.4, m = 24,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_topk", viaSql(Samples)(s"SELECT * FROM ts_topk($T0, $T31, 4, 'max', ${2 * DAY})"),
      TopK.topkSeriesSql(k = 4, agg = "max",
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_sax", viaSql(Samples)(s"SELECT * FROM ts_sax($T0, $T31, ${3 * DAY})"),
      Sax.saxWordsSql(bucketMs = 3 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_backtest",
      viaSql(Samples)(
        s"SELECT * FROM ts_backtest($T0, $T31, ${T0 + 14 * DAY}, 0.4, 0.3, 5, ${2 * DAY})"),
      graft.ts.Backtest.holtBacktestSql(
        sf = 0.4, tf = 0.3, splitMs = T0 + 14 * DAY, horizon = 5,
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_backtest_rolling",
      viaSql(Samples)(s"SELECT * FROM ts_backtest_rolling($T0, $T31, " +
        s"'${T0 + 12 * DAY},${T0 + 20 * DAY}', 0.4, 0.3, 4, ${2 * DAY})"),
      graft.ts.Backtest.holtBacktestRollingSql(
        sf = 0.4, tf = 0.3, origins = Seq(T0 + 12 * DAY, T0 + 20 * DAY),
        horizon = 4, bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_corr_matrix",
      viaSql(Samples)(s"SELECT * FROM ts_corr_matrix('click_12 view_142 click_17 click_90', " +
        s"$T0, $T31, ${2 * DAY})"),
      AsOf.pearsonMatrixSql(
        Seq("click_12", "view_142", "click_17", "click_90"),
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_decompose_anomaly",
      viaSql(Samples)(s"SELECT * FROM ts_decompose_anomaly($T0, $T31, $DAY, 5, 1.2)"),
      Seasonal.remainderAnomalySql(
        bucketMs = DAY, period = 5, threshold = 1.2,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_corr_matrix_filter",
      viaSql(Samples, Labels)(
        s"SELECT * FROM ts_corr_matrix_filter('user=(12,50,142)', $T0, $T31, ${2 * DAY})"),
      AsOf.pearsonMatrixByFilterSql(
        Seq(Multi.parsePred("user=(12,50,142)")),
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_matrix_profile",
      viaSql(Samples)(s"SELECT * FROM ts_matrix_profile($T0, $T31, ${2 * DAY}, 5)"),
      graft.ts.MatrixProfile.profileSql(
        bucketMs = 2 * DAY, m = 5, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_matrix_profile_stomp",
      viaSql(Samples)(s"SELECT * FROM ts_matrix_profile_stomp($T0, $T31, ${2 * DAY}, 4)"),
      graft.ts.MatrixProfile.profileSql(
        bucketMs = 2 * DAY, m = 4, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_mp_discords",
      viaSql(Samples)(s"SELECT * FROM ts_mp_discords($T0, $T31, ${2 * DAY}, 5, 3)"),
      graft.ts.MatrixProfile.extremaSql(
        bucketMs = 2 * DAY, m = 5, k = 3, discord = true,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_mp_motifs",
      viaSql(Samples)(s"SELECT * FROM ts_mp_motifs($T0, $T31, ${2 * DAY}, 5, 3)"),
      graft.ts.MatrixProfile.extremaSql(
        bucketMs = 2 * DAY, m = 5, k = 3, discord = false,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_mp_join",
      viaSql(Samples)(s"SELECT * FROM ts_mp_join('view_15', 'click_117', $T0, $T31, $DAY, 5)"),
      graft.ts.MatrixProfile.joinProfileSql(
        bucketMs = DAY, m = 5, a = "view_15", b = "click_117",
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_dtw_banded",
      viaSql(Samples)(
        s"SELECT * FROM ts_dtw_nearest_banded('view_7', $T0, $T31, ${2 * DAY}, 5, 2)"),
      Dtw.nearestBandedSql(bucketMs = 2 * DAY,
        probe = "view_7", k = 5, band = 2,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_motifs",
      viaSql(Samples)(s"SELECT * FROM ts_motifs($T0, $T31, ${2 * DAY}, 3, 10)"),
      Sax.motifsSql(bucketMs = 2 * DAY, m = 3, k = 10,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_hw_forecast",
      viaSql(Samples)(s"SELECT * FROM ts_hw_forecast($T0, $T31, 0.5, 0.3, 0.4, 24, 4, $DAY)"),
      Smoothing.holtWintersForecastSql(
        alpha = 0.5, beta = 0.3, gamma = 0.4, m = 24, horizon = 4,
        stepMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_rolling_corr",
      viaSql(Samples)(
        s"SELECT * FROM ts_rolling_corr('click_3', 'view_3', $T0, $T31, ${2 * DAY}, 5)"),
      AsOf.rollingCorrSql("click_3", "view_3",
        bucketMs = 2 * DAY, span = 5, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_histogram",
      viaSql(Samples)(s"SELECT * FROM ts_histogram($T0, $T31, 0.0, 150.0, 15)"),
      Histogram.valueHistogramSql(
        lo = 0.0, hi = 150.0, nbins = 15,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_histogram_quantile",
      viaSql(Samples)(s"SELECT * FROM ts_histogram_quantile($T0, $T31, 0.0, 150.0, 15, 0.5)"),
      Histogram.histogramQuantileSql(
        lo = 0.0, hi = 150.0, nbins = 15, q = 0.5,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_ddsketch",
      viaSql(Samples)(s"SELECT * FROM ts_ddsketch_quantile($T0, $T31, 1.05, 0.5)"),
      Histogram.ddsketchQuantileSql(gamma = 1.05,
        q = 0.5, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_ddsketch_windowed",
      viaSql(Samples)(s"SELECT * FROM ts_ddsketch_windowed($T0, $T31, 1.1, ${7 * DAY})"),
      Histogram.ddsketchWindowedSql(
        gamma = 1.1, windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    // signed-sketch family TVFs (r16 VERDICT #3 — symmetry with the
    // Column API): center 50.0 so the all-positive fixture drives
    // all three stores
    Q("ts_sql_tvf_ddsketch_signed",
      viaSql(Samples)(s"SELECT * FROM ts_ddsketch_signed($T0, $T31, 1.05, 50.0)"),
      Histogram.ddsketchHistogramSignedSql(
        gamma = 1.05, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    Q("ts_sql_tvf_ddsketch_signed_quantile", viaSql(Samples)(
      s"SELECT * FROM ts_ddsketch_signed_quantile($T0, $T31, 1.05, 0.5, 50.0)"),
      Histogram.ddsketchQuantileSignedSql(
        gamma = 1.05, q = 0.5, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    Q("ts_sql_tvf_ddsketch_signed_windowed",
      viaSql(Samples)(s"SELECT * FROM ts_ddsketch_signed_windowed(" +
        s"$T0, $T31, 1.05, ${7 * DAY}, 50.0)"),
      Histogram.ddsketchWindowedSignedSql(
        gamma = 1.05, windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    Q("ts_sql_tvf_ddsketch_collapsed",
      viaSql(Samples)(s"SELECT * FROM ts_ddsketch_collapsed($T0, $T31, 1.02, 12)"),
      Histogram.ddsketchHistogramCollapsedSql(
        gamma = 1.02, maxBuckets = 12, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_ewma", viaSql(Samples)(s"SELECT * FROM ts_ewma($T0, $T31, 0.25, 12)"),
      Smoothing.ewmaSql(alpha = 0.25, span = 12,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_acf", viaSql(Samples)(s"SELECT * FROM ts_acf($T0, $T31, 5)"),
      Trend.acfSql(maxLag = 5,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_resample", viaSql(Samples)(s"SELECT * FROM ts_resample($T0, $T31, ${8 * HOUR})"),
      Resample.linearSql(stepMs = 8 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_corr",
      viaSql(Samples)(s"SELECT * FROM ts_corr('click_3', 'view_3', $T0, $T31, ${2 * DAY})"),
      AsOf.pearsonSql("click_3", "view_3",
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sql_tvf_delta_rate",
      viaSql(Samples)(s"SELECT * FROM ts_delta_rate($T0, $T31, ${12 * HOUR})"),
      Rates.deltaRateSql(bucketMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),

    // as-of join (beyond-reference): align view_7 values onto
    // click_7 timestamps; Spark union+window vs DuckDB's NATIVE
    // ASOF JOIN — two different algorithms must agree. The second
    // variant adds a staleness tolerance.
    Q("ts_asof_join", (s, dir) =>
      AsOf.asofJoin(monthSamples(s, dir), "click_7", "view_7",
        fromMs = Some(T0), toMs = Some(T31)),
      AsOf.asofJoinSql("click_7", "view_7",
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_asof_join_tolerance", (s, dir) =>
      AsOf.asofJoin(monthSamples(s, dir), "click_7", "view_7",
        toleranceMs = Some(2 * DAY), fromMs = Some(T0), toMs = Some(T31)),
      AsOf.asofJoinSql("click_7", "view_7",
        toleranceMs = Some(2 * DAY), fromMs = Some(T0), toMs = Some(T31))),
    // bucket-aligned Pearson correlation of two series
    Q("ts_corr_pair", (s, dir) =>
      AsOf.pearson(monthSamples(s, dir), "click_7", "view_7",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      AsOf.pearsonSql("click_7", "view_7",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    // cross-correlation at bucket lags -7..7: pearson swept over
    // lead/lag shifts — "does B follow A by N days"; one grid agg,
    // broadcast lag frame, one corr per lag
    Q("ts_range_ccf", (s, dir) =>
      AsOf.ccf(monthSamples(s, dir), "click_7", "view_7",
        bucketMs = DAY, maxLag = 7, fromMs = Some(T0), toMs = Some(T31)),
      AsOf.ccfSql("click_7", "view_7",
        bucketMs = DAY, maxLag = 7, fromMs = Some(T0), toMs = Some(T31))),
    // rolling correlation over the trailing 7 aligned daily buckets:
    // "are these two still moving together NOW" (canary primitive);
    // five windowed moment sums on one query-bounded frame
    Q("ts_rolling_corr", (s, dir) =>
      AsOf.rollingCorr(monthSamples(s, dir), "click_7", "error_17",
        bucketMs = DAY, span = 7, fromMs = Some(T0), toMs = Some(T31)),
      AsOf.rollingCorrSql("click_7", "error_17",
        bucketMs = DAY, span = 7, fromMs = Some(T0), toMs = Some(T31))),
    // the fleet diagnostic: pairwise Pearson over a bounded series
    // list — one grid agg + one self-join, pairs quadratic only in
    // the QUERY's list (numkeys-guarded), overlap count per pair
    Q("ts_corr_matrix", (s, dir) =>
      AsOf.pearsonMatrix(monthSamples(s, dir),
        Seq("click_7", "view_34", "view_15", "click_117", "view_50", "view_12"),
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      AsOf.pearsonMatrixSql(
        Seq("click_7", "view_34", "view_15", "click_117", "view_50", "view_12"),
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    // the MRANGE composition: the matrix set resolves through the
    // label index ("all series of these users"); the numkeys guard
    // moves into the plan (lazy assert on the matched count)
    Q("ts_corr_matrix_filter", (s, dir) =>
      AsOf.pearsonMatrixByFilter(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("user=(7,15,34,117)")),
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      AsOf.pearsonMatrixByFilterSql(
        Seq(Multi.parsePred("user=(7,15,34,117)")),
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),

    // per-series z-score outliers (beyond-reference): one unordered
    // analytic window by series, single pass
    Q("ts_range_zscore", (s, dir) =>
      Anomaly.zscore(monthSamples(s, dir), threshold = 2.0,
        fromMs = Some(T0), toMs = Some(T31)),
      Anomaly.zscoreSql(2.0,
        fromMs = Some(T0), toMs = Some(T31))),

    // linear resampling onto a 12h grid (beyond-reference UPsample:
    // union + two frame-bounded windows, no self-join)
    Q("ts_resample_linear", (s, dir) =>
      Resample.linear(monthSamples(s, dir), stepMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31)),
      Resample.linearSql(stepMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),

    // exact bucket quantiles (beyond-reference): the p50/p90/p99
    // latency surface; Spark percentile == DuckDB quantile_cont
    Q("ts_range_quantiles", (s, dir) =>
      Quantiles.bucketQuantiles(monthSamples(s, dir),
        Seq(0.5, 0.9, 0.99), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Quantiles.bucketQuantilesSql(
        Seq(0.5, 0.9, 0.99), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),

    // the declared hot-series APPROX escape hatches, exercised and
    // rank-error-verified in-engine (tolerance differential — the
    // oracle pins the exact key universe + the expected verdicts)
    Q("ts_range_quantiles_approx", (s, dir) =>
      Quantiles.bucketQuantilesApproxChecked(monthSamples(s, dir),
        q = 0.9, bucketMs = DAY, accuracy = 100,
        fromMs = Some(T0), toMs = Some(T31)),
      Quantiles.bucketQuantilesApproxCheckedSql(
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_range_mad_approx", (s, dir) =>
      Anomaly.madApproxChecked(monthSamples(s, dir), accuracy = 100,
        fromMs = Some(T0), toMs = Some(T31)),
      Anomaly.madApproxCheckedSql(
        fromMs = Some(T0), toMs = Some(T31))),

    // PromQL-style counter semantics (beyond-reference): per-bucket
    // gauge delta + per-second rate, and reset-aware counter increase
    Q("ts_range_delta_rate", (s, dir) =>
      Rates.deltaRate(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Rates.deltaRateSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_range_increase", (s, dir) =>
      Rates.increase(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Rates.increaseSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // PromQL resets: per-bucket count of counter restarts (value
    // drops vs predecessor) — completes the counter family
    Q("ts_range_resets", (s, dir) =>
      Rates.resets(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Rates.resetsSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // PromQL irate/idelta: the INSTANT rate family — only the last
    // consecutive pair per bucket matters (spiky counters); argmax
    // aggregate shares the lag window's exchange
    Q("ts_range_irate", (s, dir) =>
      Rates.instant(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Rates.instantSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // Hampel filter: outliers vs the CENTERED rolling median with
    // the window's own MAD as scale — the robust cleaning primitive
    // (an extreme sample cannot mask itself out of its own window)
    Q("ts_hampel", (s, dir) =>
      Rolling.hampel(monthSamples(s, dir), span = 3, k = 3.0,
        fromMs = Some(T0), toMs = Some(T31)),
      Rolling.hampelSql(span = 3, k = 3.0,
        fromMs = Some(T0), toMs = Some(T31))),
    // multi-window SLO burn rate (SRE workbook rule): alert where
    // the 7d budget burn AND its 2d tail both exceed 1.5× — long
    // window proves significance, short proves it is still happening
    Q("ts_burn_rate", (s, dir) =>
      Rates.burnRate(monthSamples(s, dir), shortMs = 2 * DAY,
        longMs = 7 * DAY, hopMs = DAY, budgetPerSec = 4.0e-4,
        threshold = 1.5, fromMs = Some(T0), toMs = Some(T31)),
      Rates.burnRateSql(shortMs = 2 * DAY,
        longMs = 7 * DAY, hopMs = DAY, budgetPerSec = 4.0e-4,
        threshold = 1.5, fromMs = Some(T0), toMs = Some(T31))),

    // gap-based session windows (beyond-reference, the batch twin of
    // session_window(gap)): activity bursts per series, 12h gap
    Q("ts_range_session", (s, dir) =>
      Sessions.sessionRange(monthSamples(s, dir), "avg", gapMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31)),
      Sessions.sessionRangeSql("avg", gapMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_range_session_max", (s, dir) =>
      Sessions.sessionRange(monthSamples(s, dir), "max", gapMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Sessions.sessionRangeSql("max", gapMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),

    // ---- round-10 analytics extensions (beyond-reference) ----
    // Holt double-exponential smoothing: per-series sequential fold
    // (one shuffle by series), recursive-CTE oracle, bit-identical
    Q("ts_range_holt", (s, dir) =>
      Smoothing.holt(monthSamples(s, dir), sf = 0.4, tf = 0.3,
        fromMs = Some(T0), toMs = Some(T31)),
      Smoothing.holtSql(sf = 0.4, tf = 0.3,
        fromMs = Some(T0), toMs = Some(T31))),
    // Holt linear point forecast: 7 daily steps past each series'
    // last sample off the final (level, trend) — same per-series
    // O(n) scan as holt, output series x horizon
    Q("ts_range_forecast", (s, dir) =>
      Smoothing.holtForecast(monthSamples(s, dir), sf = 0.4, tf = 0.3,
        horizon = 7, stepMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      Smoothing.holtForecastSql(sf = 0.4, tf = 0.3,
        horizon = 7, stepMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    // the seasonal forecast: Holt-Winters final (level, trend, m
    // slots) projected h steps — ditto one scan, series x horizon out
    Q("ts_range_hw_forecast", (s, dir) =>
      Smoothing.holtWintersForecast(monthSamples(s, dir), alpha = 0.5,
        beta = 0.3, gamma = 0.4, m = 24, horizon = 6, stepMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31)),
      Smoothing.holtWintersForecastSql(alpha = 0.5,
        beta = 0.3, gamma = 0.4, m = 24, horizon = 6, stepMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),
    // Holt-Winters additive: holt + an m-slot seasonal component,
    // same per-series fold contract; the oracle's recursive CTE
    // carries the seasonal state as a DOUBLE[] column
    Q("ts_range_holt_winters", (s, dir) =>
      Smoothing.holtWinters(monthSamples(s, dir), alpha = 0.5,
        beta = 0.3, gamma = 0.4, m = 24,
        fromMs = Some(T0), toMs = Some(T31)),
      Smoothing.holtWintersSql(alpha = 0.5,
        beta = 0.3, gamma = 0.4, m = 24,
        fromMs = Some(T0), toMs = Some(T31))),
    // PromQL topk/bottomk: per-bucket cross-series ranking — the
    // WindowGroupLimit partial-top-k shape, shuffle O(buckets×k)
    Q("ts_topk_series", (s, dir) =>
      TopK.topkSeries(monthSamples(s, dir), k = 5, agg = "avg",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      TopK.topkSeriesSql(k = 5, agg = "avg",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_bottomk_series", (s, dir) =>
      TopK.topkSeries(monthSamples(s, dir), k = 3, agg = "sum",
        bucketMs = 2 * DAY, bottom = true,
        fromMs = Some(T0), toMs = Some(T31)),
      TopK.topkSeriesSql(k = 3, agg = "sum",
        bucketMs = 2 * DAY, bottom = true,
        fromMs = Some(T0), toMs = Some(T31))),
    // SAX symbolization: PAA + per-series z-norm + 4-letter word —
    // everything after the PAA agg bounded by series×buckets
    // fleet motif discovery: top-20 recurring 4-symbol SAX shapes
    // across all series (overlapping occurrences + distinct-series
    // support); m-gram explode stays series x buckets bounded
    Q("ts_sax_motifs", (s, dir) =>
      Sax.motifs(monthSamples(s, dir), bucketMs = DAY, m = 4, k = 20,
        fromMs = Some(T0), toMs = Some(T31)),
      Sax.motifsSql(bucketMs = DAY, m = 4, k = 20,
        fromMs = Some(T0), toMs = Some(T31))),
    // matrix profile: per-window z-normalized nearest-neighbor
    // distance over each series' daily profile — motifs are the
    // minima, the discord is the maximum; exact distances next to
    // SAX's symbolic counts
    Q("ts_matrix_profile", (s, dir) =>
      graft.ts.MatrixProfile.profile(monthSamples(s, dir),
        bucketMs = DAY, m = 7, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.MatrixProfile.profileSql(
        bucketMs = DAY, m = 7, fromMs = Some(T0), toMs = Some(T31))),
    // the STOMP long-profile path (rolling-dot recurrence, O(1) per
    // cell, no w²-row join): same distances as the pairs path by
    // construction — the identical DuckDB oracle derivation checks
    // the recurrence itself, at distinct parameters (m=4) so the two
    // routes cannot mask each other
    Q("ts_matrix_profile_stomp", (s, dir) =>
      graft.ts.MatrixProfile.profileStomp(monthSamples(s, dir),
        bucketMs = DAY, m = 4, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.MatrixProfile.profileSql(
        bucketMs = DAY, m = 4, fromMs = Some(T0), toMs = Some(T31))),
    // the operability layer over the profile: per-series top-k
    // discords (largest nn distance — the anomalies) and motif
    // windows (smallest — the repeated shapes); rank windows compile
    // to WindowGroupLimit so the full profile never leaves executors
    Q("ts_mp_discords", (s, dir) =>
      graft.ts.MatrixProfile.discords(monthSamples(s, dir),
        bucketMs = DAY, m = 7, k = 2, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.MatrixProfile.extremaSql(
        bucketMs = DAY, m = 7, k = 2, discord = true,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_mp_motifs", (s, dir) =>
      graft.ts.MatrixProfile.motifWindows(monthSamples(s, dir),
        bucketMs = DAY, m = 7, k = 2, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.MatrixProfile.extremaSql(
        bucketMs = DAY, m = 7, k = 2, discord = false,
        fromMs = Some(T0), toMs = Some(T31))),
    // AB-join profile: where does click_3's daily shape occur in
    // view_3 — the cross-series variant (no exclusion zone; the
    // trivial-match hazard is a self-join artifact)
    Q("ts_mp_join", (s, dir) =>
      graft.ts.MatrixProfile.joinProfile(monthSamples(s, dir),
        bucketMs = DAY, m = 7, a = "click_7", b = "view_34",
        fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.MatrixProfile.joinProfileSql(
        bucketMs = DAY, m = 7, a = "click_7", b = "view_34",
        fromMs = Some(T0), toMs = Some(T31))),
    // rolling-origin forecast backtest: fit holt on the first 21
    // days, score 6 daily forecasts against the held-out actuals —
    // the evaluation primitive that makes the forecast surface
    // operable (threshold mae/rmse before trusting projections)
    Q("ts_forecast_backtest", (s, dir) =>
      graft.ts.Backtest.holtBacktest(monthSamples(s, dir),
        sf = 0.5, tf = 0.2, splitMs = T0 + 21 * DAY, horizon = 6,
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.Backtest.holtBacktestSql(
        sf = 0.5, tf = 0.2, splitMs = T0 + 21 * DAY, horizon = 6,
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    // MULTI-origin sweep (the k=1 query above is its special case):
    // three fit origins, per-(series, origin) rows + a pooled
    // per-series row (origin NULL) over all scored forecasts —
    // ROLLUP minus the grand total on both engines
    Q("ts_forecast_backtest_rolling", (s, dir) =>
      graft.ts.Backtest.holtBacktestRolling(monthSamples(s, dir),
        sf = 0.5, tf = 0.2,
        origins = Seq(T0 + 14 * DAY, T0 + 18 * DAY, T0 + 22 * DAY),
        horizon = 5, bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.Backtest.holtBacktestRollingSql(
        sf = 0.5, tf = 0.2,
        origins = Seq(T0 + 14 * DAY, T0 + 18 * DAY, T0 + 22 * DAY),
        horizon = 5, bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_sax_words", (s, dir) =>
      Sax.saxWords(monthSamples(s, dir), bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Sax.saxWordsSql(bucketMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // robust MAD outliers: modified z-score, median-based — two
    // exact-percentile windows on ONE shuffle by series
    Q("ts_range_mad", (s, dir) =>
      Anomaly.mad(monthSamples(s, dir), threshold = 2.5,
        fromMs = Some(T0), toMs = Some(T31)),
      Anomaly.madSql(2.5,
        fromMs = Some(T0), toMs = Some(T31))),
    // per-series OLS trend + predict_linear at T31+7d: one hash agg
    // of regression moments, map-side combined
    Q("ts_range_trend", (s, dir) =>
      Trend.fit(monthSamples(s, dir), predictAtMs = T31 + 7 * DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Trend.fitSql(predictAtMs = T31 + 7 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // fixed-width value histogram [0,120)/24: shuffle volume bounded
    // by series×bins, independent of sample count
    Q("ts_range_histogram", (s, dir) =>
      Histogram.valueHistogram(monthSamples(s, dir),
        lo = 0.0, hi = 120.0, nbins = 24,
        fromMs = Some(T0), toMs = Some(T31)),
      Histogram.valueHistogramSql(
        lo = 0.0, hi = 120.0, nbins = 24,
        fromMs = Some(T0), toMs = Some(T31))),
    // quantile ESTIMATE interpolated from the bounded histogram (the
    // PromQL histogram_quantile shape — the 100-TB quantile path:
    // only series×bins partials ever shuffle)
    Q("ts_histogram_quantile", (s, dir) =>
      Histogram.histogramQuantile(monthSamples(s, dir),
        lo = 0.0, hi = 120.0, nbins = 24, q = 0.95,
        fromMs = Some(T0), toMs = Some(T31)),
      Histogram.histogramQuantileSql(
        lo = 0.0, hi = 120.0, nbins = 24, q = 0.95,
        fromMs = Some(T0), toMs = Some(T31))),
    // DDSketch log-bucketed histogram + quantile (VLDB'19): the
    // RELATIVE-error, fully-mergeable quantile sketch — same
    // series×buckets bounded shuffle, bucket count ~= log_gamma of
    // the value span, accuracy self-described by the emitted
    // [q_lo, q_hi) = [gamma^b, gamma^(b+1)) bracket
    Q("ts_range_ddsketch", (s, dir) =>
      Histogram.ddsketchHistogram(monthSamples(s, dir), gamma = 1.02,
        fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchHistogramSql(gamma = 1.02,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_ddsketch_quantile", (s, dir) =>
      Histogram.ddsketchQuantile(monthSamples(s, dir), gamma = 1.02,
        q = 0.95, fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchQuantileSql(gamma = 1.02,
        q = 0.95, fromMs = Some(T0), toMs = Some(T31))),
    // per-(series, week) DDSketch table — the materialized
    // quantile-sketch-per-interval shape; one map-side-combined agg
    Q("ts_ddsketch_windowed", (s, dir) =>
      Histogram.ddsketchWindowed(monthSamples(s, dir), gamma = 1.05,
        windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchWindowedSql(gamma = 1.05,
        windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31))),
    // THREE-STORE DDSketch (the paper's full value-domain contract:
    // negative/zero/positive stores) over CENTERED values so all
    // three stores carry mass; one map-side-combined agg
    Q("ts_ddsketch_signed", (s, dir) =>
      Histogram.ddsketchHistogramSigned(
        monthSamples(s, dir).withColumn("value", col("value") - 50.0),
        gamma = 1.05, fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchHistogramSignedSql(gamma = 1.05,
        fromMs = Some(T0), toMs = Some(T31), cte = centeredSamplesCte)),
    Q("ts_ddsketch_signed_quantile", (s, dir) =>
      Histogram.ddsketchQuantileSigned(
        monthSamples(s, dir).withColumn("value", col("value") - 50.0),
        gamma = 1.05, q = 0.5, fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchQuantileSignedSql(
        gamma = 1.05, q = 0.5, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    // one THREE-STORE sketch per (series, week): the signed windowed
    // family twin — window key folded into the same single agg
    Q("ts_ddsketch_signed_windowed", (s, dir) =>
      Histogram.ddsketchWindowedSigned(
        monthSamples(s, dir).withColumn("value", col("value") - 50.0),
        gamma = 1.05, windowMs = 7 * DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchWindowedSignedSql(
        gamma = 1.05, windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    // bounded-size collapsing store (VLDB'19 §2.4): at most
    // maxBuckets buckets per series, lower buckets deterministically
    // folded into the floor bucket (collapse is explicit opt-in;
    // the strict default raise_errors on budget overflow)
    Q("ts_ddsketch_collapsed", (s, dir) =>
      Histogram.ddsketchHistogramCollapsed(monthSamples(s, dir),
        gamma = 1.02, maxBuckets = 12, strict = false,
        fromMs = Some(T0), toMs = Some(T31)),
      Histogram.ddsketchHistogramCollapsedSql(
        gamma = 1.02, maxBuckets = 12, fromMs = Some(T0), toMs = Some(T31))),
    // PERSISTED sketch state: bootstrap + two versioned merges over a
    // ts-partition of the month, then read the live generation — the
    // mergeability contract (== the one-shot sketch over the union,
    // exact integer equality) hashed by the driver; each merge scans
    // only its batch plus the model-sized prior state
    // STREAMING sketch maintenance: the ingest stream's micro-batches
    // fold into the versioned state as they arrive (foreachBatch ->
    // mergeSketch); final live generation == the one-shot sketch
    Q("ts_ddsketch_stream_state", (s, dir) =>
      graft.ts.SketchStore.streamingSketchOnce(s, monthSamples(s, dir),
        graft.Scratch.dir("graft_sketch_ss_q_").toString,
        gamma = 1.02, fromMs = Some(T0), toMs = Some(T31), nChunks = 4),
      Histogram.ddsketchHistogramSql(gamma = 1.02,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_ddsketch_incremental", (s, dir) => {
      val stateDir = graft.Scratch.dir("graft_sketch_store_q_").toString
      val cut1 = T0 + 10 * DAY; val cut2 = T0 + 20 * DAY
      val samples = monthSamples(s, dir)
      graft.ts.SketchStore.writeSketchVersioned(
        s, samples.filter(col("ts") < cut1), stateDir, gamma = 1.02)
      graft.ts.SketchStore.mergeSketch(
        s, samples.filter(col("ts") >= cut1 && col("ts") < cut2),
        stateDir, gamma = 1.02)
      graft.ts.SketchStore.mergeSketch(
        s, samples.filter(col("ts") >= cut2), stateDir, gamma = 1.02)
      graft.ts.SketchStore.readSketch(s, stateDir)
    },
      // the mergeability oracle: any batching == the one-shot sketch
      Histogram.ddsketchHistogramSql(gamma = 1.02,
        fromMs = Some(T0), toMs = Some(T31))),
    // persisted THREE-STORE signed state: bootstrap + merge with the
    // store column folded into the merge key (inferred from the live
    // schema) — same exact-integer mergeability contract, hashed
    // against the one-shot signed sketch SQL
    Q("ts_ddsketch_signed_incremental", (s, dir) => {
      val stateDir = graft.Scratch.dir("graft_sketch_sgn_q_").toString
      val cut = T0 + 15 * DAY
      val samples = monthSamples(s, dir)
        .withColumn("value", col("value") - 50.0)
      graft.ts.SketchStore.writeSketchVersioned(
        s, samples.filter(col("ts") < cut), stateDir,
        gamma = 1.05, signed = true)
      graft.ts.SketchStore.mergeSketch(
        s, samples.filter(col("ts") >= cut), stateDir, gamma = 1.05)
      graft.ts.SketchStore.readSketch(s, stateDir)
    },
      // signed mergeability oracle: persisted state == one-shot signed
      Histogram.ddsketchHistogramSignedSql(
        gamma = 1.05, fromMs = Some(T0), toMs = Some(T31),
        cte = centeredSamplesCte)),
    // the PRODUCTION quantile read: walked off the persisted state
    // ALONE (no samples rescan — the read plan scans only the
    // model-sized state table, pinned by PlanShapeSpec) — hashed
    // against the one-shot quantile SQL via the merge contract
    Q("ts_ddsketch_state_quantile", (s, dir) => {
      val stateDir = graft.Scratch.dir("graft_sketch_q_read_").toString
      val cut = T0 + 15 * DAY
      val samples = monthSamples(s, dir)
      graft.ts.SketchStore.writeSketchVersioned(
        s, samples.filter(col("ts") < cut), stateDir, gamma = 1.02)
      graft.ts.SketchStore.mergeSketch(
        s, samples.filter(col("ts") >= cut), stateDir, gamma = 1.02)
      graft.ts.SketchStore.quantile(s, stateDir, gamma = 1.02, q = 0.9)
    },
      // state-only quantile read == one-shot quantile (merge contract)
      Histogram.ddsketchQuantileSql(
        gamma = 1.02, q = 0.9, fromMs = Some(T0), toMs = Some(T31))),
    // parallel LTTB downsample: one representative point per day via
    // centroid-anchored max-triangle-area selection
    Q("ts_downsample_lttb", (s, dir) =>
      Lttb.downsample(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Lttb.downsampleSql(bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // windowed EWMA smoothing: collect_list over a bounded ROWS
    // frame + one aggregate fold, single shuffle by series
    Q("ts_range_ewma", (s, dir) =>
      Smoothing.ewma(monthSamples(s, dir), alpha = 0.3, span = 16,
        fromMs = Some(T0), toMs = Some(T31)),
      Smoothing.ewmaSql(alpha = 0.3, span = 16,
        fromMs = Some(T0), toMs = Some(T31))),
    // per-series autocorrelation function at row-lags 1..7: maxLag
    // lag windows on one exchange, every lag's corr in ONE hash agg
    Q("ts_range_acf", (s, dir) =>
      Trend.acf(monthSamples(s, dir), maxLag = 7,
        fromMs = Some(T0), toMs = Some(T31)),
      Trend.acfSql(maxLag = 7,
        fromMs = Some(T0), toMs = Some(T31))),
    // rolling trailing-window p90 (exact interpolation over a
    // span-bounded sorted frame) and per-series winsorization —
    // both single-shuffle window shapes
    Q("ts_rolling_quantile", (s, dir) =>
      Rolling.rollingQuantile(monthSamples(s, dir), q = 0.9, span = 20,
        fromMs = Some(T0), toMs = Some(T31)),
      Rolling.rollingQuantileSql(q = 0.9, span = 20,
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_range_winsorize", (s, dir) =>
      Rolling.winsorize(monthSamples(s, dir), qLo = 0.05, qHi = 0.95,
        fromMs = Some(T0), toMs = Some(T31)),
      Rolling.winsorizeSql(qLo = 0.05, qHi = 0.95,
        fromMs = Some(T0), toMs = Some(T31))),
    // seasonal (hour-of-day) baseline profile + cohort anomaly:
    // "anomalous vs this hour's usual", not vs global stats —
    // profile shuffle bounded by series×24; anomaly is one shuffle
    // by the finer (series, season) key
    Q("ts_seasonal_profile", (s, dir) =>
      Seasonal.profile(monthSamples(s, dir), mode = "hod",
        fromMs = Some(T0), toMs = Some(T31)),
      Seasonal.profileSql("hod",
        fromMs = Some(T0), toMs = Some(T31))),
    // dow cohorts: dense enough at every fixture SF to clear the
    // minN gate (hod cohorts at sf<=0.01 have <5 members/series and
    // legally score nothing — a 0-row green is a weak check)
    Q("ts_seasonal_anomaly", (s, dir) =>
      Seasonal.anomaly(monthSamples(s, dir), threshold = 2.0, mode = "dow",
        fromMs = Some(T0), toMs = Some(T31)),
      Seasonal.anomalySql(2.0, "dow",
        fromMs = Some(T0), toMs = Some(T31))),
    Q("ts_seasonal_profile_dow", (s, dir) =>
      Seasonal.profile(monthSamples(s, dir), mode = "dow",
        fromMs = Some(T0), toMs = Some(T31)),
      Seasonal.profileSql("dow",
        fromMs = Some(T0), toMs = Some(T31))),
    // CUSUM change detection: normalized cumulative deviation sum,
    // four analytic windows on one exchange by series
    Q("ts_range_cusum", (s, dir) =>
      Changepoint.cusum(monthSamples(s, dir), threshold = 0.6,
        fromMs = Some(T0), toMs = Some(T31)),
      Changepoint.cusumSql(0.6,
        fromMs = Some(T0), toMs = Some(T31))),
    // classical additive seasonal-trend decomposition over daily
    // buckets, weekly period: moving-average trend + zero-sum
    // seasonal indices + remainder, one pass over raw samples
    Q("ts_range_decompose", (s, dir) =>
      Seasonal.decompose(monthSamples(s, dir), bucketMs = DAY, period = 7,
        fromMs = Some(T0), toMs = Some(T31)),
      Seasonal.decomposeSql(bucketMs = DAY, period = 7,
        fromMs = Some(T0), toMs = Some(T31))),
    // seasonal-ADJUSTED anomaly: z-score on the decomposition's
    // remainder — trend absorbs drift, season absorbs periodic load,
    // what's flagged is unexplained by the series' own structure
    Q("ts_decompose_anomaly", (s, dir) =>
      Seasonal.remainderAnomaly(monthSamples(s, dir), bucketMs = DAY,
        period = 7, threshold = 1.5, fromMs = Some(T0), toMs = Some(T31)),
      Seasonal.remainderAnomalySql(
        bucketMs = DAY, period = 7, threshold = 1.5,
        fromMs = Some(T0), toMs = Some(T31))),
    // offline changepoint LOCALIZATION: greedy binary segmentation of
    // the daily grid — WHERE the mean shifted and how much SSE each
    // split explained (cusum's excursion flags only the region); the
    // oracle replays both recursion levels as window/QUALIFY CTEs
    Q("ts_changepoint_binseg", (s, dir) =>
      graft.ts.Changepoint.binseg(monthSamples(s, dir), bucketMs = DAY,
        levels = 2, minSize = 2, fromMs = Some(T0), toMs = Some(T31)),
      graft.ts.Changepoint.binsegSql(
        bucketMs = DAY, levels = 2, minSize = 2,
        fromMs = Some(T0), toMs = Some(T31))),
    // Theil-Sen ROBUST trend: median of pairwise grid slopes +
    // median-residual intercept — outlier buckets that drag the OLS
    // ts_trend line leave this one untouched
    Q("ts_trend_theilsen", (s, dir) =>
      Trend.theilSen(monthSamples(s, dir), bucketMs = DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Trend.theilSenSql(
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31))),
    // gap report: inter-arrival gaps > 2d per series (presence
    // semantics — NaN samples still count as arrivals)
    Q("ts_range_gaps", (s, dir) =>
      Sessions.gaps(monthSamples(s, dir), thresholdMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31)),
      Sessions.gapsSql(thresholdMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // DTW distances between daily-profile pairs: per-pair O(n·m)
    // typed DP (parallel ACROSS pairs); the oracle replays the DP
    // as a recursive-CTE anti-diagonal wavefront
    Q("ts_dtw_pair", (s, dir) =>
      Dtw.pairwise(monthSamples(s, dir), bucketMs = DAY,
        seriesSet = dtwSeries, fromMs = Some(T0), toMs = Some(T31)),
      Dtw.pairwiseSql(bucketMs = DAY, seriesSet = dtwSeries,
        fromMs = Some(T0), toMs = Some(T31))),
    // DTW as a SEARCH primitive: top-10 series most similar to the
    // probe's daily profile (full-corpus grid agg, broadcast probe,
    // distributed TakeOrdered cut on the (distance, series) order)
    Q("ts_dtw_nearest", (s, dir) =>
      Dtw.nearest(monthSamples(s, dir), bucketMs = DAY,
        probe = "click_7", k = 10, fromMs = Some(T0), toMs = Some(T31)),
      Dtw.nearestSql(bucketMs = DAY,
        probe = "click_7", k = 10, fromMs = Some(T0), toMs = Some(T31))),
    // the SCALE path for DTW search: a sound global-envelope lower
    // bound prunes candidates before the O(n*m) DP (seed k by LB,
    // cut at their k-th exact distance) — result == brute force,
    // hence the shared oracle
    Q("ts_dtw_nearest_pruned", (s, dir) =>
      Dtw.nearestPruned(monthSamples(s, dir), bucketMs = DAY,
        probe = "view_7", k = 8, fromMs = Some(T0), toMs = Some(T31)),
      Dtw.nearestSql(bucketMs = DAY,
        probe = "view_7", k = 8, fromMs = Some(T0), toMs = Some(T31))),
    // Sakoe-Chiba BANDED search with the classic LB_Keogh sliding
    // envelope (sound only under the band — the reason the
    // unconstrained path above uses the global envelope); oracle =
    // the same wavefront with the band guard + length-feasibility
    // filter, so result == banded brute force
    Q("ts_dtw_nearest_banded", (s, dir) =>
      Dtw.nearestPrunedBanded(monthSamples(s, dir), bucketMs = DAY,
        probe = "click_7", k = 8, band = 3,
        fromMs = Some(T0), toMs = Some(T31)),
      Dtw.nearestBandedSql(bucketMs = DAY,
        probe = "click_7", k = 8, band = 3,
        fromMs = Some(T0), toMs = Some(T31))),
    // STREAMING per-series anomaly scoring: prefix z-score via
    // flatMapGroupsWithState (constant state per series), replayed
    // in time-ordered micro-batches; the oracle re-derives the
    // same semantics as a cumulative window — the state path is
    // hash-checked against a closed form
    // Since r14 the five series-keyed monitors (z-score, CUSUM,
    // rolling quantile, gaps, seasonal cohorts) are slices of ONE shared
    // pass — the production shape: one ingest stream, N monitors,
    // one stateful shuffle (StreamMonitors scaladoc; the spec pins
    // every slice bit-equal to its individual one-shot twin, whose
    // oracles these queries keep). ts_stream_shared_pass below
    // carries the pass's real cost in the bench (cacheKey = None
    // forces a fresh run every rep).
    Q("ts_anomaly_stream", (s, dir) =>
      graft.ts.StreamMonitors.zscoreSlice(sharedMonitors(s, dir)),
      StreamAnomaly.zscoreStreamSql(2.5,
        fromMs = Some(T0), toMs = Some(T31))),
    // streaming SEASONAL anomaly: per-(series, dow-cohort) prefix
    // state — "this Monday vs previous Mondays", at arrival time
    Q("ts_seasonal_stream", (s, dir) =>
      graft.ts.StreamMonitors.seasonalSlice(sharedMonitors(s, dir)),
      StreamAnomaly.seasonalStreamSql(2.0, "dow",
        fromMs = Some(T0), toMs = Some(T31))),
    // streaming rolling median: bounded ring state per series; the
    // time-ordered replay makes the stateful stream EQUAL the batch
    // operator, whose SQL twin is the oracle (batch-duality)
    Q("ts_rolling_stream", (s, dir) =>
      graft.ts.StreamMonitors.rollingSlice(sharedMonitors(s, dir)),
      Rolling.rollingQuantileSql(q = 0.5, span = 10,
        fromMs = Some(T0), toMs = Some(T31))),
    // streaming CUSUM drift detection: running sum of prefix-z
    // terms (5 scalars of state per series); the oracle is the
    // closed form — two stacked cumulative windows
    Q("ts_cusum_stream", (s, dir) =>
      graft.ts.StreamMonitors.cusumSlice(sharedMonitors(s, dir)),
      StreamAnomaly.cusumStreamSql(3.0,
        fromMs = Some(T0), toMs = Some(T31))),
    // STREAMING session windows via Spark's NATIVE session_window
    // stateful operator (both engines merge on diff <= gap); shares
    // the batch sessionRange oracle — engine-managed session state
    // must reproduce the closed-form lag/cumsum derivation
    Q("ts_session_stream", (s, dir) =>
      StreamSessions.sessionStreamOnce(s, monthSamples(s, dir),
        agg = "avg", gapMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31), nChunks = 2),
      Sessions.sessionRangeSql("avg", gapMs = 12 * HOUR,
        fromMs = Some(T0), toMs = Some(T31))),
    // STREAMING gap detection: the outage page fires when the pipe
    // comes back — one long of state per series; oracle = the batch
    // gap report (bracketed-gap duality)
    Q("ts_gaps_stream", (s, dir) =>
      graft.ts.StreamMonitors.gapsSlice(sharedMonitors(s, dir)),
      Sessions.gapsSql(thresholdMs = 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))),
    // the shared pass itself, bench-visible: a FRESH multi-monitor
    // run every invocation (no cache), oracle = the tagged union of
    // the four monitors' oracles
    Q("ts_stream_shared_pass", (s, dir) => monitorsPass(s, dir, cacheKey = None),
      graft.ts.StreamMonitors.monitorsSql(
        zThreshold = 2.5, cusumThreshold = 3.0, q = 0.5, span = 10,
        gapThresholdMs = 2 * DAY, seasonalThreshold = 2.0, seasonalMode = "dow",
        fromMs = Some(T0), toMs = Some(T31),
        burnShortMs = 2 * DAY, burnLongMs = 7 * DAY, burnHopMs = DAY,
        burnBudgetPerSec = 4.0e-4, burnThreshold = 1.5,
        hampelSpan = 3, hampelK = 3.0,
        sketchGamma = 1.05, sketchWindowMs = 7 * DAY)),
    // streaming SLO burn-rate: THE canonical paging monitor, folded
    // into the shared pass's state (bounded pending-window map); a
    // hop window emits when the replay passes its end, so the slice
    // equals the batch ts_burn_rate restricted to closed windows
    Q("ts_burn_rate_stream", (s, dir) =>
      graft.ts.StreamMonitors.burnSlice(sharedMonitors(s, dir)),
      Rates.burnRateSql(shortMs = 2 * DAY,
        longMs = 7 * DAY, hopMs = DAY, budgetPerSec = 4.0e-4,
        threshold = 1.5, fromMs = Some(T0), toMs = Some(T31),
        closedOnly = true)),
    // streaming Hampel filter: the robust cleaning monitor folded
    // into the shared pass (ring state = the centered batch window
    // of the row span back); tail rows with incomplete future
    // windows never emit, so the slice equals batch ts_hampel
    // restricted to rows with >= span successors
    Q("ts_hampel_stream", (s, dir) =>
      graft.ts.StreamMonitors.hampelSlice(sharedMonitors(s, dir)),
      Rolling.hampelSql(span = 3, k = 3.0,
        fromMs = Some(T0), toMs = Some(T31), closedOnly = true)),
    // streaming windowed DDSketch: the quantile family's streaming
    // twin, folded into the shared pass (open-window bucket map
    // state, <= log_gamma buckets); a tumbling window emits its
    // (bucket, n) sketch rows when the replay passes its end, so the
    // slice equals batch ddsketchWindowed restricted to closed
    // windows
    Q("ts_ddsketch_stream", (s, dir) =>
      graft.ts.StreamMonitors.ddsketchSlice(sharedMonitors(s, dir)),
      Histogram.ddsketchWindowedSql(gamma = 1.05,
        windowMs = 7 * DAY, fromMs = Some(T0), toMs = Some(T31),
        closedOnly = true)),
  )

  // the DTW pair set: six series present at every fixture SF
  private val dtwSeries =
    Seq("click_7", "click_17", "error_17", "purchase_41", "signup_78", "view_7")

  /** [[TSModel.samplesCte]] with values CENTERED (− 50.0) so the
    * signed-sketch carriers drive all three stores on an all-positive
    * fixture; the Spark twin applies the identical projection. */
  private val centeredSamplesCte: String =
    TSModel.samplesCte.replace("WITH samples AS (", "WITH samples_raw AS (") +
      ", samples AS (SELECT series, ts, value - CAST(50.0 AS DOUBLE)" +
      " AS value FROM samples_raw)"

  /** The shared multi-monitor streaming pass the four series-keyed
    * monitor queries slice (cached per fixture dir — the first slice
    * pays the pass, the others read it; see StreamMonitors). */
  private def sharedMonitors(s: SparkSession, dir: String): DataFrame =
    monitorsPass(s, dir, cacheKey = Some(dir))

  /** The multi-monitor pass under the one parameter set every monitor
    * row slices; `cacheKey = None` runs it fresh (ts_stream_shared_pass). */
  private def monitorsPass(s: SparkSession, dir: String, cacheKey: Option[String]): DataFrame =
    graft.ts.StreamMonitors.monitorsOnce(s, monthSamples(s, dir),
      zThreshold = 2.5, cusumThreshold = 3.0, q = 0.5, span = 10,
      gapThresholdMs = 2 * DAY, seasonalThreshold = 2.0, seasonalMode = "dow",
      fromMs = Some(T0), toMs = Some(T31),
      nChunks = 2, cacheKey = cacheKey,
      burnShortMs = 2 * DAY, burnLongMs = 7 * DAY, burnHopMs = DAY,
      burnBudgetPerSec = 4.0e-4, burnThreshold = 1.5,
      hampelSpan = 3, hampelK = 3.0,
      sketchGamma = 1.05, sketchWindowMs = 7 * DAY)
}
