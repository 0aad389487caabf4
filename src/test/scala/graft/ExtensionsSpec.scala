package graft

import org.apache.spark.sql.{GraftSessionBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftExtensions, GraftFunctions}
import graft.ts.TSModel

/** SQL surface of the custom Catalyst kernels (GraftFunctions):
  * values, implicit float->double coercion, literal-matrix extraction,
  * ts_bucket parity with the engine's bucket arithmetic, and the
  * SparkSessionExtensions injection route. */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTest._

  private def sql1(q: String): Any = {
    GraftFunctions.register(spark)
    spark.sql(q).collect().head.get(0)
  }

  test("vec_dot / vec_norm / vec_cosine evaluate from SQL") {
    assert(sql1("SELECT vec_dot(array(1.0D,2.0D,3.0D), array(4.0D,5.0D,6.0D))") == 32.0)
    assert(sql1("SELECT vec_norm(array(3.0D,4.0D))") == 5.0)
    assert(math.abs(sql1("SELECT vec_cosine(array(2.0D,0.0D), array(5.0D,0.0D))")
      .asInstanceOf[Double] - 1.0) < 1e-12)
    assert(math.abs(sql1("SELECT vec_cosine(array(1.0D,0.0D), array(0.0D,1.0D))")
      .asInstanceOf[Double]) < 1e-12)
  }

  test("array<float> columns coerce implicitly (parquet embedding shape)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "emb")
    df.createOrReplaceTempView("ext_float_vecs")
    val v = spark.sql("SELECT vec_dot(emb, emb) FROM ext_float_vecs").collect().head.getDouble(0)
    assert(v == 5.0)
  }

  test("ts_bucket matches TSModel.bucketStartLong incl. negatives and align") {
    GraftFunctions.register(spark)
    val cases = Seq(
      (1704067200123L, 3600000L, 0L),
      (1704067200123L, 21600000L, 3600000L),
      (-5L, 10L, 0L),
      (-5L, 10L, 3L),
      (7L, 10L, 9L),       // ts < align
      (1704067200000L, 86400000L, 1704067200000L))
    for ((ts, dur, align) <- cases) {
      val got = spark.sql(s"SELECT ts_bucket(${ts}L, ${dur}L, ${align}L)")
        .collect().head.getLong(0)
      assert(got == TSModel.bucketStartLong(ts, dur, align), s"case ($ts,$dur,$align)")
    }
    // 2-arg form defaults align to 0
    assert(spark.sql("SELECT ts_bucket(25L, 10L)").collect().head.getLong(0) == 20L)
  }

  test("nearest_centroid / vector_signature with literal matrices") {
    GraftFunctions.register(spark)
    assert(sql1("SELECT nearest_centroid(array(0.9D,0.1D), array(array(1.0D,0.0D), array(0.0D,1.0D)))") == 0)
    assert(sql1("SELECT nearest_centroid(array(0.1D,0.9D), array(array(1.0D,0.0D), array(0.0D,1.0D)))") == 1)
    // planes (1,0) and (-1,0): v=(0.5, 2) -> bit0 set, bit1 clear
    assert(sql1("SELECT vector_signature(array(0.5D,2.0D), array(array(1.0D,0.0D), array(-1.0D,0.0D)))") == 1L)
    // non-literal matrix is a loud plan-time error
    val e = intercept[Exception] {
      spark.sql("SELECT nearest_centroid(array(1.0D), array(array(vec_norm(array(rand())))))").collect()
    }
    assert(e.getMessage.contains("foldable"))
  }

  test("SparkSessionExtensions injection registers the same function set") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val registry = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    assert(!registry.functionExists(FunctionIdentifier("vec_dot")))
    GraftSessionBridge.applyInjectedFunctions(ext, registry)
    for (name <- Seq("vec_dot", "vec_norm", "vec_cosine", "ts_bucket",
        "nearest_centroid", "vector_signature"))
      assert(registry.functionExists(FunctionIdentifier(name)), name)
  }

  test("ts_range TVF == the Column-API range pipeline") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val DAY = 86400000L; val HOUR = 3600000L
    // raw 3-arg form
    val raw = spark.sql(s"SELECT * FROM ts_range('click_7', $T0, ${T0 + 5 * DAY})")
    val rawApi = graft.ts.RangeQuery.range(samples.filter(org.apache.spark.sql.functions.col("series") === "click_7"),
      graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T0 + 5 * DAY)))
    assert(raw.collect().toSeq == rawApi.collect().toSeq)
    // aggregated 6-arg form with align
    val agg = spark.sql(s"SELECT * FROM ts_range('click_7', $T0, ${T0 + 20 * DAY}, 'avg', ${2 * DAY}, $HOUR)")
    val aggApi = graft.ts.RangeQuery.range(samples.filter(org.apache.spark.sql.functions.col("series") === "click_7"),
      graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T0 + 20 * DAY),
        aggs = Seq("avg"), bucketMs = 2 * DAY, alignMs = HOUR))
    assert(agg.collect().toSeq == aggApi.collect().toSeq)
    // the positional aggregator is case-insensitive, as in the option grammar
    val upper = spark.sql(s"SELECT * FROM ts_range('click_7', $T0, ${T0 + 20 * DAY}, 'AVG', ${2 * DAY}, $HOUR)")
    assert(upper.collect().toSeq == aggApi.collect().toSeq)
    // non-literal argument is a loud error
    intercept[Exception](
      spark.sql(s"SELECT * FROM ts_range('click_7', CAST(rand() AS BIGINT), $T0)").collect())
  }

  test("window-extension TVFs (sliding/session/rate/increase/quantiles) == Column API") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val DAY = 86400000L; val HOUR = 3600000L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_sliding($T0, $T31, 'sum', $DAY, ${6 * HOUR})")) ==
      sorted(graft.ts.Sliding.slidingRange(samples, "sum", DAY, 6 * HOUR, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_session($T0, $T31, 'count', ${12 * HOUR})")) ==
      sorted(graft.ts.Sessions.sessionRange(samples, "count", 12 * HOUR, Some(T0), Some(T31))))
    // aggregator names are case-insensitive
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_sliding($T0, $T31, 'SUM', $DAY, ${6 * HOUR})")) ==
      sorted(graft.ts.Sliding.slidingRange(samples, "sum", DAY, 6 * HOUR, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_session($T0, $T31, 'Count', ${12 * HOUR})")) ==
      sorted(graft.ts.Sessions.sessionRange(samples, "count", 12 * HOUR, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_rate($T0, $T31, $DAY)")) ==
      sorted(graft.ts.Rates.deltaRate(samples, DAY, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_increase($T0, $T31, $DAY)")) ==
      sorted(graft.ts.Rates.increase(samples, DAY, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_resets($T0, $T31, $DAY)")) ==
      sorted(graft.ts.Rates.resets(samples, DAY, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_quantiles($T0, $T31, $DAY, '0.5, 0.99')")) ==
      sorted(graft.ts.Quantiles.bucketQuantiles(samples, Seq(0.5, 0.99), DAY, 0L, Some(T0), Some(T31))))
    // non-literal argument stays a loud analysis error
    intercept[Exception](
      spark.sql(s"SELECT * FROM ts_sliding(CAST(rand() AS BIGINT), $T31, 'avg', $DAY, $HOUR)").collect())
  }

  test("analytics TVFs (zscore/mad/trend/histogram/lttb) == Column API") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val DAY = 86400000L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_zscore($T0, $T31, 1.5)")) ==
      sorted(graft.ts.Anomaly.zscore(samples, 1.5, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_mad($T0, $T31, 2.0)")) ==
      sorted(graft.ts.Anomaly.mad(samples, 2.0, Some(T0), Some(T31))))
    // integer threshold literal coerces (literalDouble accepts ints)
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_mad($T0, $T31, 2)")) ==
      sorted(graft.ts.Anomaly.mad(samples, 2.0, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_trend($T0, $T31, ${T31 + DAY})")) ==
      sorted(graft.ts.Trend.fit(samples, T31 + DAY, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_histogram($T0, $T31, 0.0, 100.0, 10)")) ==
      sorted(graft.ts.Histogram.valueHistogram(samples, 0.0, 100.0, 10, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_histogram_quantile($T0, $T31, 0.0, 100.0, 10, 0.9)")) ==
      sorted(graft.ts.Histogram.histogramQuantile(samples, 0.0, 100.0, 10, 0.9,
        Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_lttb($T0, $T31, ${3 * DAY})")) ==
      sorted(graft.ts.Lttb.downsample(samples, 3 * DAY, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_ewma($T0, $T31, 0.4, 8)")) ==
      sorted(graft.ts.Smoothing.ewma(samples, 0.4, 8, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_cusum($T0, $T31, 0.5)")) ==
      sorted(graft.ts.Changepoint.cusum(samples, 0.5, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_changepoint($T0, $T31, ${2 * DAY}, 2, 2)")) ==
      sorted(graft.ts.Changepoint.binseg(samples, 2 * DAY, 2, 2,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_theilsen($T0, $T31, ${2 * DAY})")) ==
      sorted(graft.ts.Trend.theilSen(samples, 2 * DAY,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_burn_rate($T0, $T31, ${2 * DAY}, ${8 * DAY}, ${2 * DAY}, 3.5E-4, 1.5)")) ==
      sorted(graft.ts.Rates.burnRate(samples, 2 * DAY, 8 * DAY, 2 * DAY,
        3.5e-4, 1.5, fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_hampel($T0, $T31, 4, 2.5)")) ==
      sorted(graft.ts.Rolling.hampel(samples, 4, 2.5,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_asof('view_3', 'click_5', $T0, $T31)")) ==
      sorted(graft.ts.AsOf.asofJoin(samples, "view_3", "click_5",
        None, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_seasonal($T0, $T31, 'dow')")) ==
      sorted(graft.ts.Seasonal.profile(samples, "dow", Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_seasonal($T0, $T31, 'dow', 1.5)")) ==
      sorted(graft.ts.Seasonal.anomaly(samples, 1.5, "dow",
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_rolling_quantile($T0, $T31, 0.9, 10)")) ==
      sorted(graft.ts.Rolling.rollingQuantile(samples, 0.9, 10, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_winsorize($T0, $T31, 0.1, 0.9)")) ==
      sorted(graft.ts.Rolling.winsorize(samples, 0.1, 0.9, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_holt($T0, $T31, 0.5, 0.2)")) ==
      sorted(graft.ts.Smoothing.holt(samples, 0.5, 0.2, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_holt_winters($T0, $T31, 0.5, 0.3, 0.4, 24)")) ==
      sorted(graft.ts.Smoothing.holtWinters(samples, 0.5, 0.3, 0.4, 24,
        Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_topk($T0, $T31, 3, 'avg', $DAY)")) ==
      sorted(graft.ts.TopK.topkSeries(samples, 3, "avg", DAY,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_topk($T0, $T31, 3, 'AVG', $DAY)")) ==
      sorted(graft.ts.TopK.topkSeries(samples, 3, "avg", DAY,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_topk($T0, $T31, 3, 'avg', $DAY, 'bottom')")) ==
      sorted(graft.ts.TopK.topkSeries(samples, 3, "avg", DAY, bottom = true,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_sax($T0, $T31, ${2 * DAY})")) ==
      sorted(graft.ts.Sax.saxWords(samples, 2 * DAY, fromMs = Some(T0),
        toMs = Some(T31))))
    // non-literal threshold is a loud error, not a silent default
    intercept[Exception](
      spark.sql(s"SELECT * FROM ts_mad($T0, $T31, rand())").collect())
  }

  test("round-11 TVFs (irate/gaps/decompose/forecast/ccf) == Column API") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val DAY = 86400000L; val HOUR = 3600000L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_irate($T0, $T31, $DAY)")) ==
      sorted(graft.ts.Rates.instant(samples, DAY, 0L, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_gaps($T0, $T31, ${2 * DAY})")) ==
      sorted(graft.ts.Sessions.gaps(samples, 2 * DAY, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_decompose($T0, $T31, $DAY, 7)")) ==
      sorted(graft.ts.Seasonal.decompose(samples, DAY, 7, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_forecast($T0, $T31, 0.4, 0.3, 7, $DAY)")) ==
      sorted(graft.ts.Smoothing.holtForecast(samples, 0.4, 0.3, 7, DAY,
        Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_ccf('click_7', 'view_7', $T0, $T31, $DAY, 7)")) ==
      sorted(graft.ts.AsOf.ccf(samples, "click_7", "view_7", DAY, 7,
        fromMs = Some(T0), toMs = Some(T31))))
    val dtwSet = Seq("click_7", "view_7", "click_3")
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_dtw('${dtwSet.mkString(" ")}', $T0, $T31, $DAY)")) ==
      sorted(graft.ts.Dtw.pairwise(samples, DAY, dtwSet, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_dtw_nearest('click_7', $T0, $T31, $DAY, 5)")) ==
      sorted(graft.ts.Dtw.nearest(samples, DAY, "click_7", 5, Some(T0), Some(T31))))
    // non-literal argument stays a loud analysis error
    intercept[Exception](
      spark.sql(s"SELECT * FROM ts_gaps($T0, $T31, CAST(rand() AS BIGINT))").collect())
  }

  test("round-12 parity TVFs (motifs/hw_forecast/rolling_corr) == Column API") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val DAY = 86400000L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    assert(
      sorted(spark.sql(s"SELECT * FROM ts_motifs($T0, $T31, ${2 * DAY}, 3, 10)")) ==
      sorted(graft.ts.Sax.motifs(samples, 2 * DAY, 3, 10,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_hw_forecast($T0, $T31, 0.5, 0.3, 0.4, 24, 4, $DAY)")) ==
      sorted(graft.ts.Smoothing.holtWintersForecast(samples, 0.5, 0.3, 0.4,
        24, 4, DAY, Some(T0), Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_rolling_corr('click_3', 'view_3', $T0, $T31, ${2 * DAY}, 5)")) ==
      sorted(graft.ts.AsOf.rollingCorr(samples, "click_3", "view_3",
        2 * DAY, 5, fromMs = Some(T0), toMs = Some(T31))))
    // banded DTW TVF splices the pure banded plan; it must also equal
    // the driver-eager pruned path (the provable-equality contract)
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_dtw_nearest_banded('view_7', $T0, $T31, ${2 * DAY}, 5, 2)")) ==
      sorted(graft.ts.Dtw.nearestPrunedBanded(samples, 2 * DAY, "view_7",
        5, 2, Some(T0), Some(T31))))
    // GROUPBY with per-series TWA now rides the existing ts_mrange TVF
    // route unchanged (the 7-arg form's agg is any RangeArgs agg)
    val labels = TSModel.labels(spark, sf)
    labels.createOrReplaceTempView(GraftFunctions.LabelsView)
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_mrange('type=(click,view)', $T0, $T31, 'twa', ${2 * DAY}, 'type', 'avg')")) ==
      sorted(graft.ts.Multi.mrangeGroupBy(samples, labels,
        Seq(graft.ts.Multi.parsePred("type=(click,view)")),
        graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T31),
          aggs = Seq("twa"), bucketMs = 2 * DAY),
        groupByLabel = "type", reducer = "avg")))
    // non-literal argument stays a loud analysis error
    intercept[Exception](
      spark.sql(
        s"SELECT * FROM ts_motifs($T0, $T31, $DAY, CAST(rand() AS BIGINT), 5)").collect())
  }

  test("ts_mrange TVF == Multi.mrange incl. label predicates") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    val labels = TSModel.labels(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    labels.createOrReplaceTempView(GraftFunctions.LabelsView)
    val T0 = 1704067200000L; val DAY = 86400000L
    // neither side orders its rows: compare the exact multisets
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    val tvf = spark.sql(
      s"SELECT * FROM ts_mrange('type=click user=(2,4,6)', $T0, ${T0 + 31 * DAY}, 'sum', ${3 * DAY})")
    val api = graft.ts.Multi.mrange(samples, labels,
      Seq(graft.ts.Multi.parsePred("type=click"), graft.ts.Multi.parsePred("user=(2,4,6)")),
      graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T0 + 31 * DAY),
        aggs = Seq("sum"), bucketMs = 3 * DAY))
    assert(sorted(tvf) == sorted(api))
    // the positional aggregator is case-insensitive
    assert(sorted(spark.sql(
      s"SELECT * FROM ts_mrange('type=click user=(2,4,6)', $T0, ${T0 + 31 * DAY}, 'SUM', ${3 * DAY})"))
      == sorted(api))
    // 7-arg GROUPBY/REDUCE form
    val g = spark.sql(
      s"SELECT * FROM ts_mrange('type=(click,view)', $T0, ${T0 + 31 * DAY}, 'avg', ${7 * DAY}, 'type', 'max')")
    val gApi = graft.ts.Multi.mrangeGroupBy(samples, labels,
      Seq(graft.ts.Multi.parsePred("type=(click,view)")),
      graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T0 + 31 * DAY),
        aggs = Seq("avg"), bucketMs = 7 * DAY),
      groupByLabel = "type", reducer = "max")
    assert(sorted(g) == sorted(gApi))
    assert(sorted(spark.sql(
      s"SELECT * FROM ts_mrange('type=(click,view)', $T0, ${T0 + 31 * DAY}, 'AVG', ${7 * DAY}, 'type', 'max')"))
      == sorted(gApi))
  }

  test("read-command TVFs (get / mget / queryindex / querylabels) == Column API") {
    GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    val labels = TSModel.labels(spark, sf)
    samples.createOrReplaceTempView(GraftFunctions.SamplesView)
    labels.createOrReplaceTempView(GraftFunctions.LabelsView)
    def set(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(set(spark.sql("SELECT * FROM ts_get('click_7')")) ==
      set(graft.ts.Multi.get(samples, "click_7")))
    assert(set(spark.sql("SELECT * FROM ts_mget('type=purchase')")) ==
      set(graft.ts.Multi.mget(samples, labels, Seq(graft.ts.Multi.parsePred("type=purchase")))))
    assert(set(spark.sql("SELECT * FROM ts_queryindex('type=(click,view) user=(1,2,3)')")) ==
      set(graft.ts.Multi.queryIndex(labels,
        Seq(graft.ts.Multi.parsePred("type=(click,view)"), graft.ts.Multi.parsePred("user=(1,2,3)")))))
    assert(set(spark.sql("SELECT * FROM ts_querylabels('user', 'type=click')")) ==
      set(graft.ts.Multi.queryLabelValues(labels, "user",
        Seq(graft.ts.Multi.parsePred("type=click")))))
    // 1-arg form: unfiltered label values
    assert(set(spark.sql("SELECT * FROM ts_querylabels('type')")) ==
      set(graft.ts.Multi.queryLabelValues(labels, "type")))
    assert(set(spark.sql("SELECT * FROM ts_info('click_7')")) ==
      set(graft.ts.Multi.info(samples.filter(
        org.apache.spark.sql.functions.col("series") === "click_7"))))
    assert(set(spark.sql("SELECT * FROM ts_info()")) ==
      set(graft.ts.Multi.info(samples)))
    val T0 = 1704067200000L; val DAY = 86400000L
    val nrangeApi = set(graft.ts.Multi.nrange(samples, Seq("click_3", "click_7", "view_3"),
      graft.ts.RangeQuery.RangeArgs(from = Some(T0), to = Some(T0 + 14 * DAY),
        aggs = Seq("avg"), bucketMs = 2 * DAY)))
    // the positional aggregator is case-insensitive
    for (agg <- Seq("avg", "AVG"))
      assert(set(spark.sql(
        s"SELECT * FROM ts_nrange('click_3 click_7 view_3', $T0, ${T0 + 14 * DAY}, '$agg', ${2 * DAY})")) ==
        nrangeApi, agg)
  }

  test("TVF over a native-column samples table keeps pushdown and the bucketed layout") {
    GraftFunctions.register(spark)
    val table = "graft_tvf_bucketed_samples"
    try {
      TSModel.writeBucketed(TSModel.samples(spark, sf), table, buckets = 8)
      spark.table(table).createOrReplaceTempView(GraftFunctions.SamplesView)
      val T0 = 1704067200000L; val DAY = 86400000L
      val df = spark.sql(s"SELECT * FROM ts_range('click_7', $T0, ${T0 + 20 * DAY}, 'avg', $DAY)")
      // unwrap AQE: AdaptiveSparkPlanExec is leaf-like, collect would
      // not see through it
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      // the TVF's series/ts predicates reach the parquet scan — the
      // SQL route loses nothing vs the Column API at scan level
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val pushed = scans.head.metadata("PushedFilters")
      assert(pushed.contains("EqualTo(series,click_7)"), pushed)
      assert(pushed.contains("GreaterThanOrEqual(ts,"), pushed)
      // and the bucketed layout still satisfies the per-series
      // aggregation with ZERO data shuffles through the TVF route
      val dataShuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => s
      }
      assert(dataShuffles.isEmpty, s"expected shuffle-free TVF plan:\n$plan")
      assert(df.collect().nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("extension injection registers the table functions too") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val registry = org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry.builtin.clone()
    assert(!registry.functionExists(FunctionIdentifier("ts_range")))
    GraftSessionBridge.applyInjectedTableFunctions(ext, registry)
    for (name <- Seq("ts_range", "ts_mrange", "ts_get", "ts_mget",
        "ts_queryindex", "ts_querylabels", "ts_info", "ts_nrange",
        "corpus_source_cap", "corpus_contamination", "corpus_contamination_frac",
        "corpus_contamination_fuzzy", "ann_recall", "corpus_admit",
        "corpus_langid", "corpus_text_quality", "corpus_tokens",
        "corpus_stratified_sample", "corpus_pack_sequences", "corpus_chunk",
        "corpus_dedup_pairs", "corpus_dsir", "corpus_quality_percentile",
        "ann_topk", "ann_ivf_topk", "corpus_decontaminate", "ts_corr_matrix",
        "ts_mp_discords", "ts_mp_motifs", "ts_mp_join", "ts_decompose_anomaly",
        "ts_backtest_rolling", "ts_matrix_profile_stomp",
        "corpus_mix_temperature", "corpus_boilerplate",
        "corpus_boilerplate_clean", "corpus_keep", "corpus_classifier_score",
        "ts_changepoint", "ts_theilsen", "ts_histogram_quantile",
        "corpus_source_divergence", "ts_burn_rate", "emb_label_drift",
        "ts_hampel", "ts_ddsketch_quantile", "ts_ddsketch_windowed",
        "ts_ddsketch_signed", "ts_ddsketch_signed_quantile",
        "ts_ddsketch_signed_windowed", "ts_ddsketch_collapsed"))
      assert(registry.functionExists(FunctionIdentifier(name)), name)
  }

  test("round-14 straggler TVFs == Column API (mix, boilerplate, keep, classifier score)") {
    GraftFunctions.register(spark)
    val docs = graft.pipeline.Text.loadDocuments(spark, sf)
    docs.createOrReplaceTempView(GraftFunctions.DocumentsView)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    // the lazy mix (full rank, no pre-filter/starvation actions) must
    // equal the eager pre-filtered route — result transparency is the
    // pre-filter's contract — and the TVF splices the lazy plan
    assert(
      sorted(graft.pipeline.CorpusPipeline.mixByTemperatureLazy(docs, 150L)) ==
      sorted(graft.pipeline.CorpusPipeline.mixByTemperature(docs, 150L)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_mix_temperature(150)")) ==
      sorted(graft.pipeline.CorpusPipeline.mixByTemperature(docs, 150L)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_boilerplate(3, 4)")) ==
      sorted(graft.pipeline.Dedup.boilerplateSegments(docs, w = 3, minDocs = 4)))
    // lazy (AQE-gated) clean == eager (counted-broadcast) clean
    assert(
      sorted(spark.sql("SELECT * FROM corpus_boilerplate_clean(3, 4)")) ==
      sorted(graft.pipeline.Dedup.removeBoilerplate(docs, w = 3, minDocs = 4)))
    // lazy minhash keep == eager (checkpoint + counted gates) keep
    assert(
      sorted(spark.sql("SELECT * FROM corpus_keep(0.5, 120)")) ==
      sorted(graft.pipeline.Dedup.dedupedCorpus(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 120),
        graft.pipeline.Dedup.minhashLshPairs(docs, 0.5, maxDocId = 120))))
    // serving-side scoring: the TVF's literal weights == the API map
    val w = Map(-1L -> -0.35, 2L -> 0.9, 9L -> -0.4, 17L -> 0.6)
    assert(
      sorted(spark.sql(
        "SELECT * FROM corpus_classifier_score('-1:-0.35 2:0.9 9:-0.4 17:0.6', 32)")) ==
      sorted(graft.pipeline.QualityClassifier.scoreWithWeights(docs, w, 32)))
    // a model trained by the API scores identically through the TVF
    // route when its weights are passed back as literals
    val trained = graft.pipeline.QualityClassifier.train(
        docs, org.apache.spark.sql.functions.expr("lang = 'en'"),
        nBuckets = 16, iters = 2, lr = 2.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lit = trained.toSeq.sortBy(_._1).map { case (b, v) => s"$b:$v" }.mkString(" ")
    assert(
      sorted(spark.sql(s"SELECT * FROM corpus_classifier_score('$lit', 16)")) ==
      sorted(graft.pipeline.QualityClassifier.scoreWithWeights(docs, trained, 16)))
  }

  test("second-batch pipeline TVFs == Column API; lazy percentile gate == eager") {
    GraftFunctions.register(spark)
    val docs = graft.pipeline.Text.loadDocuments(spark, sf)
    docs.createOrReplaceTempView(GraftFunctions.DocumentsView)
    val embs = graft.pipeline.Similarity.loadEmbeddings(spark, sf)
    embs.createOrReplaceTempView(GraftFunctions.EmbeddingsView)
    import org.apache.spark.sql.functions.expr
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    assert(
      sorted(spark.sql("SELECT * FROM corpus_langid()")) ==
      sorted(graft.pipeline.Text.languageId(docs)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_source_divergence(100, 0.5)")) ==
      sorted(graft.pipeline.Text.sourceDivergence(docs, topN = 100, alpha = 0.5)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_stratified_sample('en=0.7 de=0.2', 0.4, 0.2)")) ==
      sorted(graft.pipeline.CorpusPipeline.stratifiedSample(
        docs, Map("en" -> 0.7, "de" -> 0.2), defaultRate = 0.4, valFraction = 0.2)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_pack_sequences(512, 3)")) ==
      sorted(graft.pipeline.CorpusPipeline.packSequences(docs, 512L, 3)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_chunk(20, 5)")) ==
      sorted(graft.pipeline.Chunking.chunk(docs, 20, 5)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_dedup_pairs(0.5, 200)")) ==
      sorted(graft.pipeline.Dedup.ngramJaccardPairs(docs, 0.5, maxDocId = 200)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_dsir('lang = ''en''', 16, 0.5)")) ==
      sorted(graft.pipeline.Dsir.select(docs, expr("lang = 'en'"), 16, 0.5)))
    assert(
      sorted(spark.sql("SELECT * FROM ann_topk('0 97', 3)")) ==
      sorted(graft.pipeline.Similarity.bruteForceTopK(embs, Seq(0L, 97L), 3)))
    assert(
      sorted(spark.sql("SELECT * FROM emb_label_drift()")) ==
      sorted(graft.pipeline.Similarity.labelCentroidDrift(embs)))
    // the lazy percentile gate (scalar subqueries) must equal the
    // eager one (driver heads) across cut fractions incl. the
    // nothing-dropped edge
    for (frac <- Seq(0.0, 0.25, 0.6)) {
      assert(
        sorted(graft.pipeline.CorpusPipeline.qualityPercentileKeepLazy(docs, frac)) ==
        sorted(graft.pipeline.CorpusPipeline.qualityPercentileKeep(docs, frac)),
        s"dropFrac=$frac")
    }
    assert(
      sorted(spark.sql("SELECT * FROM corpus_quality_percentile(0.25)")) ==
      sorted(graft.pipeline.CorpusPipeline.qualityPercentileKeep(docs, 0.25)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_decontaminate('doc_id < 2', 4)")) ==
      sorted(graft.pipeline.CorpusPipeline.decontaminatedCorpus(
        docs, docs.filter(expr("doc_id < 2")), minShared = 4L)))
    // correlation matrix through SQL == the Column API
    val samples2 = graft.ts.TSModel.samples(spark, sf)
    samples2.createOrReplaceTempView(GraftFunctions.SamplesView)
    val T0 = 1704067200000L; val T31 = 1706745599999L; val DAY = 86400000L
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_corr_matrix('click_7 view_34 view_15', $T0, $T31, $DAY)")) ==
      sorted(graft.ts.AsOf.pearsonMatrix(samples2,
        Seq("click_7", "view_34", "view_15"), DAY,
        fromMs = Some(T0), toMs = Some(T31))))
    assert(
      sorted(spark.sql(
        s"SELECT * FROM ts_decompose_anomaly($T0, $T31, $DAY, 7, 1.8)")) ==
      sorted(graft.ts.Seasonal.remainderAnomaly(samples2, DAY, 7, 1.8,
        fromMs = Some(T0), toMs = Some(T31))))
  }

  test("corpus-pipeline TVFs == Column API; source cap keeps WindowGroupLimit through SQL") {
    GraftFunctions.register(spark)
    val docs = graft.pipeline.Text.loadDocuments(spark, sf)
    docs.createOrReplaceTempView(GraftFunctions.DocumentsView)
    val embs = graft.pipeline.Similarity.loadEmbeddings(spark, sf)
    embs.createOrReplaceTempView(GraftFunctions.EmbeddingsView)
    import org.apache.spark.sql.functions.{col, expr}
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.toString)
    // source cap: result parity AND the plan-shape contract — the
    // partial top-cap (WindowGroupLimit, before the shuffle) must
    // survive the SQL route exactly as pushdown had to for ts_range
    val capSql = spark.sql("SELECT * FROM corpus_source_cap(5)")
    assert(sorted(capSql) ==
      sorted(graft.pipeline.CorpusPipeline.sourceCap(docs, cap = 5)))
    val capPlan = capSql.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    assert(capPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }.size == 2, "source cap through SQL must keep the partial+final " +
      "group limit:\n" + capPlan)
    // exact + graded + fuzzy decontamination
    assert(
      sorted(spark.sql("SELECT * FROM corpus_contamination('doc_id < 3', 5)")) ==
      sorted(graft.pipeline.CorpusPipeline.contamination(
        docs, docs.filter(expr("doc_id < 3")), minShared = 5L)))
    assert(
      sorted(spark.sql("SELECT * FROM corpus_contamination_frac('doc_id < 3', 5)")) ==
      sorted(graft.pipeline.CorpusPipeline.contaminationFraction(
        docs, docs.filter(expr("doc_id < 3")), n = 5)))
    assert(
      sorted(spark.sql(
        "SELECT * FROM corpus_contamination_fuzzy('doc_id < 50', 'doc_id >= 50')")) ==
      sorted(graft.pipeline.CorpusPipeline.contaminationFuzzy(
        docs.filter(expr("doc_id >= 50")), docs.filter(expr("doc_id < 50")))))
    // ann_recall splices the PLAN-ONLY ivf variant; it must equal the
    // recall of the driver-eager probe path (the provable-equality
    // contract the banded-DTW TVF set)
    val qids = Seq(0L, 97L, 194L)
    val cents = graft.pipeline.Similarity.syntheticCentroids(16, 64)
    assert(
      sorted(spark.sql(s"SELECT * FROM ann_recall('${qids.mkString(" ")}', 5, 16, 4)")) ==
      sorted(graft.pipeline.Similarity.recallAtK(
        graft.pipeline.Similarity.ivfTopKQuantized(embs, qids, 5, cents, 4),
        graft.pipeline.Similarity.bruteForceTopK(embs, qids, 5))))
    // the lazy ivf itself == the eager one (full ranking, not just recall)
    assert(
      sorted(graft.pipeline.Similarity.ivfTopKQuantizedLazy(embs, qids, 5, cents, 4)) ==
      sorted(graft.pipeline.Similarity.ivfTopKQuantized(embs, qids, 5, cents, 4)))
    // corpus_admit: the view is the new batch; verdicts == the API call
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_admit_ext_").toString
    graft.pipeline.IncrementalAdmit.writeStateVersioned(
      spark, docs.filter(col("doc_id") < 250L), stateDir)
    val batch = docs.filter(col("doc_id") >= 250L)
    batch.createOrReplaceTempView(GraftFunctions.DocumentsView)
    assert(
      sorted(spark.sql(s"SELECT * FROM corpus_admit('$stateDir')")) ==
      sorted(graft.pipeline.IncrementalAdmit.admit(spark, batch, stateDir)))
    docs.createOrReplaceTempView(GraftFunctions.DocumentsView) // restore
    // non-literal argument stays a loud analysis error
    intercept[Exception](
      spark.sql("SELECT * FROM corpus_source_cap(CAST(rand() AS INT))").collect())
  }

  test("VecNormRule rewrites sqrt(vec_dot(x,x)) to vec_norm(x)") {
    GraftFunctions.register(spark)
    // id-based arrays: non-foldable, so constant folding cannot hide
    // the rewrite
    val df = spark.sql(
      "SELECT SQRT(vec_dot(array(CAST(id AS DOUBLE), 4.0D), array(CAST(id AS DOUBLE), 4.0D))) AS n FROM range(3, 4)")
    val exprs = df.queryExecution.optimizedPlan.expressions.map(_.toString).mkString("\n")
    assert(exprs.contains("vec_norm"), exprs)
    assert(!exprs.toUpperCase.contains("SQRT"), exprs)
    assert(df.collect().head.getDouble(0) == 5.0)
    // different children: no rewrite
    val keep = spark.sql(
      "SELECT SQRT(vec_dot(array(CAST(id AS DOUBLE)), array(2.0D))) AS n FROM range(1)")
    assert(keep.queryExecution.optimizedPlan.expressions.map(_.toString)
      .mkString.toUpperCase.contains("SQRT"))
  }

  test("SQL route stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // range() scan + projection: a codegen-able pipeline (a local
    // relation would collapse to LocalTableScan and prove nothing)
    val df = spark.sql(
      "SELECT id, vec_cosine(array(CAST(id AS DOUBLE), 1.0D), array(CAST(id AS DOUBLE), 1.0D)) AS c FROM range(4)")
    assert(df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    assert(df.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }
}
