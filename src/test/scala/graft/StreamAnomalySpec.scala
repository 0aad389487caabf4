package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ts.{Changepoint, StreamAnomaly}

/** Streaming prefix z-score + CUSUM change detection: planted-anomaly
  * closed forms and the streaming==batch-window equivalence that the
  * oracle entries hash-check at fixture scale. */
class StreamAnomalySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  test("streaming zscore: planted spike fires once, at arrival, cross-batch") {
    // series 'a': 12 quiet samples then a spike at ts=12 (lands in a
    // LATER micro-batch than the prefix under 4-chunk staging) then
    // quiet again — exactly one alert, at the spike, scored against
    // the pre-spike prefix only
    val quiet = (0L until 12L).map(t => ("a", t, (t % 3).toDouble))
    val tail = (13L until 16L).map(t => ("a", t, (t % 3).toDouble))
    val rows = quiet ++ Seq(("a", 12L, 50.0)) ++ tail
    val df = rows.toDF("series", "ts", "value")
    val out = StreamAnomaly.zscoreStreamOnce(spark, df, threshold = 3.0, nChunks = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(("a", 12L)))
    // prefix of the spike: 12 samples of 0,1,2 pattern — mu=1, sigma
    // = sqrt(2/3); z = (50-1)/sqrt(2/3)
    val expected = 49.0 / math.sqrt(2.0 / 3.0)
    assert(math.abs(out.head._3 - expected) < 1e-9)
  }

  test("streaming zscore: nothing fires before MinPrefix history exists") {
    // the FIRST sample is extreme, but with no prefix it cannot score
    val rows = Seq(("b", 0L, 999.0)) ++ (1L until 8L).map(t => ("b", t, (t % 2).toDouble))
    val out = StreamAnomaly.zscoreStreamOnce(
      spark, rows.toDF("series", "ts", "value"), threshold = 0.5, nChunks = 2)
      .collect()
    // the early extreme is IN the prefix of later samples, inflating
    // sigma — later quiet samples may or may not fire, but ts=0 never
    assert(!out.map(_.getLong(1)).contains(0L))
  }

  test("shared multi-monitor pass: every slice == its individual one-shot twin") {
    val T0 = 1704067200000L; val T31 = 1706745599999L; val DAY = 86400000L
    val samples = graft.ts.TSModel.samples(spark, SparkTest.sf)
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val shared = graft.ts.StreamMonitors.monitorsOnce(spark, samples,
      zThreshold = 2.5, cusumThreshold = 3.0, q = 0.5, span = 10,
      gapThresholdMs = 2 * DAY, seasonalThreshold = 2.0, seasonalMode = "dow",
      fromMs = Some(T0), toMs = Some(T31),
      nChunks = 2, cacheKey = None)
    assert(canon(graft.ts.StreamMonitors.zscoreSlice(shared)) ==
      canon(StreamAnomaly.zscoreStreamOnce(spark, samples, 2.5,
        Some(T0), Some(T31), nChunks = 2)), "zscore slice")
    assert(canon(graft.ts.StreamMonitors.cusumSlice(shared)) ==
      canon(StreamAnomaly.cusumStreamOnce(spark, samples, 3.0,
        Some(T0), Some(T31), nChunks = 2)), "cusum slice")
    assert(canon(graft.ts.StreamMonitors.rollingSlice(shared)) ==
      canon(StreamAnomaly.rollingQuantileStreamOnce(spark, samples,
        q = 0.5, span = 10, Some(T0), Some(T31), nChunks = 2)), "rolling slice")
    assert(canon(graft.ts.StreamMonitors.gapsSlice(shared)) ==
      canon(graft.ts.StreamSessions.gapsStreamOnce(spark, samples,
        thresholdMs = 2 * DAY, Some(T0), Some(T31), nChunks = 2)), "gaps slice")
    // seasonal cohorts folded into per-series state: the (ts, value)-
    // ordered replay's per-cohort subsequence is itself ordered, so
    // the cohort Welford evolution matches the individual operator
    assert(canon(graft.ts.StreamMonitors.seasonalSlice(shared)) ==
      canon(StreamAnomaly.seasonalStreamOnce(spark, samples, 2.0, "dow",
        Some(T0), Some(T31), nChunks = 2)), "seasonal slice")
    // NaN presence: the gap monitor must count a NaN arrival (it
    // bridges the gap) while the value monitors skip it
    val rows = Seq(("n", 0L, 1.0), ("n", 1L, 2.0), ("n", 5L, Double.NaN),
      ("n", 9L, 3.0)).toDF("series", "ts", "value")
    val sh2 = graft.ts.StreamMonitors.monitorsOnce(spark, rows,
      zThreshold = 99.0, cusumThreshold = 99.0, q = 0.5, span = 3,
      gapThresholdMs = 3L, seasonalThreshold = 99.0, seasonalMode = "dow",
      nChunks = 1, cacheKey = None)
    val gaps = graft.ts.StreamMonitors.gapsSlice(sh2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(gaps == Set((1L, 5L), (5L, 9L)),
      s"NaN arrival must bracket gaps at both sides: $gaps")
    assert(graft.ts.StreamMonitors.rollingSlice(sh2).count() == 3,
      "value monitors must skip the NaN row")
  }

  test("shared pass burn slice == batch burnRate on closed windows") {
    // hop=10, long=40, short=20: 12 samples at ts 0,5,..,55 plus a
    // quiet stretch; every window with wstart+40 <= max(ts)=95 closes
    // in-replay, the trailing ones never emit
    val rows = (0L until 60L by 5L).map(t => ("x", t, 2.0)) ++
      Seq(("x", 95L, 8.0))
    val df = rows.toDF("series", "ts", "value")
    val batch = graft.ts.Rates.burnRate(df, shortMs = 20L, longMs = 40L,
      hopMs = 10L, budgetPerSec = 25.0, threshold = 0.5)
    val closed = batch.filter(col("wstart") + 40L <= 95L)
    val open = batch.filter(col("wstart") + 40L > 95L)
    val shared = graft.ts.StreamMonitors.monitorsOnce(spark, df,
      zThreshold = 99.0, cusumThreshold = 99.0, q = 0.5, span = 3,
      gapThresholdMs = 1000L, seasonalThreshold = 99.0, seasonalMode = "dow",
      nChunks = 3, cacheKey = None,
      burnShortMs = 20L, burnLongMs = 40L, burnHopMs = 10L,
      burnBudgetPerSec = 25.0, burnThreshold = 0.5)
    val slice = graft.ts.StreamMonitors.burnSlice(shared)
    assert(slice.collect().map(_.toSeq).toSet ==
      closed.collect().map(_.toSeq).toSet,
      "burn slice must equal the batch operator on closed windows")
    assert(open.count() > 0 && slice.count() < batch.count(),
      "trailing open windows exist in batch but never emit in-stream")
  }

  test("shared pass hampel slice == batch hampel on closed (non-tail) rows") {
    // span=2: center scored once 2 successors exist. Planted outliers
    // both mid-series (must flag in both paths) and at the tail (must
    // flag in batch, never emit in-stream). Constant stretch exercises
    // the zero-MAD escape (NULL h_score) through the Option encoding.
    val rows = Seq(
      ("x", 0L, 1.0), ("x", 1L, 1.1), ("x", 2L, 9.0), ("x", 3L, 0.9),
      ("x", 4L, 1.2), ("x", 5L, 1.0), ("x", 6L, 1.1), ("x", 7L, 25.0),
      ("y", 0L, 5.0), ("y", 1L, 5.0), ("y", 2L, 5.0), ("y", 3L, 7.0),
      ("y", 4L, 5.0), ("y", 5L, 5.0), ("y", 6L, 5.0))
      .toDF("series", "ts", "value")
    val span = 2
    val batch = graft.ts.Rolling.hampel(rows, span = span, k = 3.0)
    // closed rows = those with >= span later rows in their series
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("ts").desc, col("value").desc)
    val closedKeys = rows.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") > span).select(col("series"), col("ts"))
    val closed = batch.join(closedKeys, Seq("series", "ts"), "left_semi")
    val shared = graft.ts.StreamMonitors.monitorsOnce(spark, rows,
      zThreshold = 99.0, cusumThreshold = 99.0, q = 0.5, span = 3,
      gapThresholdMs = 1000L, seasonalThreshold = 99.0, seasonalMode = "dow",
      nChunks = 3, cacheKey = None, hampelSpan = span, hampelK = 3.0)
    val slice = graft.ts.StreamMonitors.hampelSlice(shared)
    assert(slice.collect().map(_.toSeq).toSet ==
      closed.collect().map(_.toSeq).toSet,
      "hampel slice must equal the batch operator on closed rows")
    // the tail outlier ("x", 7) is flagged by batch but cannot emit
    assert(batch.filter(col("ts") === 7L).count() == 1 &&
      slice.filter(col("ts") === 7L).count() == 0)
    // the zero-MAD escape row ("y", 3) carries a NULL h_score
    assert(slice.filter(col("series") === "y" && col("h_score").isNull)
      .count() == 1)
  }

  test("shared pass ddsketch slice == batch windowed sketch on closed windows") {
    // window=10: values spanning decades exercise distinct log buckets
    // (gamma=2 -> bucket = floor(round9(log2 v))); a NaN and a
    // non-positive value must land in NO bucket; the final window
    // (wstart=20) never closes and must stay unsaid in-stream.
    val rows = Seq(
      ("x", 0L, 1.5), ("x", 2L, 3.0), ("x", 4L, 3.5), ("x", 6L, 40.0),
      ("x", 8L, Double.NaN), ("x", 9L, -2.0),
      ("x", 11L, 1.5), ("x", 13L, 100.0), ("x", 17L, 0.7),
      ("x", 21L, 9.0), ("x", 25L, 9.5),
      ("y", 1L, 2.0), ("y", 5L, 2.2), ("y", 12L, 2.1), ("y", 22L, 5.0))
      .toDF("series", "ts", "value")
    val gamma = 2.0; val winMs = 10L
    val batch = graft.ts.Histogram.ddsketchWindowed(rows, gamma, winMs)
    // closed windows: wstart + winMs <= max(ts) per series over the
    // sketch's positive rows (x: 25, y: 22)
    val mx = rows.filter(!isnan(col("value")) && col("value") > 0.0)
      .groupBy(col("series")).agg(max(col("ts")).as("mx"))
    val closed = batch.join(mx, Seq("series"))
      .filter(col("wstart") + winMs <= col("mx"))
      .drop("mx")
    val shared = graft.ts.StreamMonitors.monitorsOnce(spark, rows,
      zThreshold = 99.0, cusumThreshold = 99.0, q = 0.5, span = 3,
      gapThresholdMs = 1000L, seasonalThreshold = 99.0, seasonalMode = "dow",
      nChunks = 3, cacheKey = None, sketchGamma = gamma, sketchWindowMs = winMs)
    val slice = graft.ts.StreamMonitors.ddsketchSlice(shared)
    assert(slice.collect().map(_.toSeq).toSet ==
      closed.collect().map(_.toSeq).toSet,
      "ddsketch slice must equal the batch operator on closed windows")
    // the trailing open windows exist in batch but never emit in-stream
    assert(batch.count() > closed.count() && slice.count() == closed.count())
    // value decades landed in distinct buckets (log2 1.5 -> 0,
    // log2 3.0 -> 1, log2 40 -> 5, log2 100 -> 6, log2 0.7 -> -1)
    val b0 = slice.filter(col("series") === "x" && col("wstart") === 0L)
      .select("bucket", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b0 == Set((0L, 1L), (1L, 2L), (5L, 1L)), s"window-0 buckets: $b0")
  }

  test("streaming zscore == the cumulative-window closed form on the fixture") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    val got = StreamAnomaly.zscoreStreamOnce(spark, samples, 2.0,
        Some(T0), Some(T31), nChunks = 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // closed form: same prefix statistics via Spark windows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("ts"), col("value"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val exp = samples.filter(!isnan(col("value")))
      .filter(col("ts") >= T0 && col("ts") <= T31)
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sigma", stddev_pop(col("value")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") >= StreamAnomaly.MinPrefix && col("sigma") > 0)
      .filter(abs((col("value") - col("mu")) / col("sigma")) >= 2.0)
      .select(col("series"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming cusum == the stacked cumulative-window closed form on the fixture") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    val got = StreamAnomaly.cusumStreamOnce(spark, samples, 2.0,
        Some(T0), Some(T31), nChunks = 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // closed form: prefix stats, then a running sum over the derived
    // per-row terms — the same two stacked windows as the oracle SQL
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("ts"), col("value"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("ts"), col("value"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val exp = samples.filter(!isnan(col("value")))
      .filter(col("ts") >= T0 && col("ts") <= T31)
      .withColumn("mu", avg(col("value")).over(wPre))
      .withColumn("sigma", stddev_pop(col("value")).over(wPre))
      .withColumn("n", count(lit(1)).over(wPre))
      .withColumn("scored",
        col("n") >= StreamAnomaly.MinPrefix && col("sigma") > 0)
      .withColumn("term",
        when(col("scored"), (col("value") - col("mu")) / col("sigma"))
          .otherwise(lit(0.0)))
      .withColumn("cs", sum(col("term")).over(wCum))
      .filter(col("scored") && abs(col("cs")) >= 2.0)
      .select(col("series"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming cusum: a sustained level shift fires where a single outlier would not") {
    import spark.implicits._
    // quiet alternating prefix, then the mean steps up by 2 sigma-ish
    // — each post-shift sample adds ~+2 to S, crossing threshold 6
    // after ~3 shifted samples even though no single z exceeds ~3
    val quiet = (0L until 12L).map(t => ("a", t, (t % 2).toDouble))
    val shifted = (12L until 20L).map(t => ("a", t, (t % 2).toDouble + 1.5))
    val df = (quiet ++ shifted).toDF("series", "ts", "value")
    val out = StreamAnomaly.cusumStreamOnce(spark, df, threshold = 6.0, nChunks = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(out.nonEmpty)
    // fires only after the shift, never in the quiet prefix
    assert(out.forall(_._1 >= 12L))
    // drift statistic keeps growing while the shift persists
    assert(out.last._2 >= out.head._2)
  }

  test("RocksDB provider: cusum stream output identical to default provider") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    def run(rocks: Boolean) = StreamAnomaly.cusumStreamOnce(spark, samples,
        2.0, Some(T0), Some(T31), nChunks = 6, useRocksDb = rocks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    assert(run(true) == run(false))
  }

  test("RocksDB provider: zscore stream output identical to default provider") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    def run(rocks: Boolean) = StreamAnomaly.zscoreStreamOnce(spark, samples,
        2.0, Some(T0), Some(T31), nChunks = 6, useRocksDb = rocks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    assert(run(true) == run(false))
  }

  test("zero-flag runs return an empty typed frame, not a read error") {
    // threshold high enough that nothing ever fires: the sink has no
    // part files and the read must fall back to the declared schema
    val samples = graft.ts.TSModel.samples(spark, sf)
    val out = StreamAnomaly.zscoreStreamOnce(spark, samples, 1e9)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("series", "ts", "value", "z_value"))
  }

  test("constant-prefix series: Welford sigma is exactly zero, no spurious alert") {
    import spark.implicits._
    // 10 identical values then a step: the prefix sigma at the step is
    // exactly 0 under Welford, so NOTHING fires (the oracle's
    // stddev_pop behavior); naive sumsq/n - mu*mu can leave sigma ~1e-9
    // and fire with a huge z
    val rows = ((1 to 10).map(i => ("c", i.toLong, 0.1)) :+ (("c", 11L, 0.2)))
    val df = rows.toDF("series", "ts", "value").repartition(2)
    val out = StreamAnomaly.zscoreStreamOnce(spark, df, 3.0, nChunks = 2)
    assert(out.count() == 0)
  }

  test("streaming seasonal == the cohort cumulative-window closed form") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    val got = StreamAnomaly.seasonalStreamOnce(spark, samples, 1.5, "dow",
        Some(T0), Some(T31), nChunks = 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series"), col("season")).orderBy(col("ts"), col("value"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val DAY = 86400000L
    val exp = samples.filter(!isnan(col("value")))
      .filter(col("ts") >= T0 && col("ts") <= T31)
      .withColumn("season", pmod(floor(col("ts") / DAY).cast("long") + 3L, lit(7L)))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sigma", stddev_pop(col("value")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") >= StreamAnomaly.MinPrefix && col("sigma") > 0)
      .filter(abs((col("value") - col("mu")) / col("sigma")) >= 1.5)
      .select(col("series"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming seasonal: a planted cohort spike fires only in its cohort") {
    // Mondays ~5, Tuesdays ~50 for 8 weeks; a 50 on week 9's MONDAY is
    // seasonal-anomalous even though it is a normal Tuesday value
    val DAY = 86400000L
    val mon0 = 4L * DAY // 1970-01-05, a Monday
    val rows = (0 until 8).flatMap { wk =>
      Seq(("s", mon0 + wk * 7L * DAY, 5.0 + wk % 2),
        ("s", mon0 + wk * 7L * DAY + DAY, 50.0 + wk % 2))
    } :+ (("s", mon0 + 8L * 7L * DAY, 50.0))
    val out = StreamAnomaly.seasonalStreamOnce(
      spark, rows.toDF("series", "ts", "value"), threshold = 3.0, mode = "dow",
      nChunks = 4).collect()
    assert(out.map(r => (r.getLong(1), r.getLong(3))).toSeq ==
      Seq((mon0 + 56L * DAY, 0L)))
  }

  test("streaming rolling quantile == the batch operator (batch-duality)") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    val got = StreamAnomaly.rollingQuantileStreamOnce(spark, samples,
        q = 0.9, span = 7, Some(T0), Some(T31), nChunks = 5)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3))).toMap
    val exp = graft.ts.Rolling.rollingQuantile(samples, 0.9, 7, Some(T0), Some(T31))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - exp(k)) < 1e-12, s"$k: $v vs ${exp(k)}")
    }
    assert(got.nonEmpty)
  }

  test("fewer distinct ts than nChunks: all four streams == their batch twins") {
    // 3 distinct timestamps replayed as nChunks = 8: the range stage
    // writes only 3 files, which must shorten the replay, not fail it
    val df = Seq(("a", 0L, 1.0), ("a", 0L, 2.0), ("a", 0L, 1.5),
      ("a", 1L, 1.0), ("a", 1L, 2.0), ("a", 1L, 1.2),
      ("a", 2L, 1.1), ("a", 2L, 9.0),
      ("b", 0L, 5.0), ("b", 1L, 5.0), ("b", 1L, 6.0), ("b", 2L, 5.5))
      .toDF("series", "ts", "value")
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val W = org.apache.spark.sql.expressions.Window
    val byArrival = W.partitionBy(col("series")).orderBy(col("ts"), col("value"))
    val wPre = byArrival.rowsBetween(W.unboundedPreceding, -1)
    val pre = df
      .withColumn("mu", avg(col("value")).over(wPre))
      .withColumn("sigma", stddev_pop(col("value")).over(wPre))
      .withColumn("n", count(lit(1)).over(wPre))
    val scored = col("n") >= StreamAnomaly.MinPrefix && col("sigma") > 0
    val z = (col("value") - col("mu")) / col("sigma")
    val zExp = keys(pre.filter(scored && abs(z) >= 2.0))
    assert(zExp.nonEmpty)
    assert(keys(StreamAnomaly.zscoreStreamOnce(spark, df, 2.0, nChunks = 8)) == zExp)
    // every row falls on one weekday, so each series is one cohort
    assert(keys(StreamAnomaly.seasonalStreamOnce(spark, df, 2.0, "dow",
      nChunks = 8)) == zExp)
    val cExp = keys(pre
      .withColumn("cs", sum(when(scored, z).otherwise(lit(0.0)))
        .over(byArrival.rowsBetween(W.unboundedPreceding, 0)))
      .filter(scored && abs(col("cs")) >= 3.0))
    assert(cExp.nonEmpty)
    assert(keys(StreamAnomaly.cusumStreamOnce(spark, df, 3.0, nChunks = 8)) == cExp)
    def rq(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => ((r.getString(0), r.getLong(1), r.getDouble(2)), r.getDouble(3))).toMap
    val rqGot = rq(StreamAnomaly.rollingQuantileStreamOnce(spark, df,
      q = 0.5, span = 3, nChunks = 8))
    val rqExp = rq(graft.ts.Rolling.rollingQuantile(df, 0.5, 3))
    assert(rqGot.keySet == rqExp.keySet && rqExp.size == 12)
    rqGot.foreach { case (k, v) => assert(math.abs(v - rqExp(k)) < 1e-12, s"$k: $v vs ${rqExp(k)}") }
  }

  test("streaming rolling quantile: ring state truncates across batches") {
    // 6 values, span 3, 3 chunks of 2: the window at ts=5 must be the
    // trailing [3,4,5] even though [0,1,2,3] arrived in earlier batches
    val df = (0L until 6L).map(t => ("s", t, t.toDouble)).toDF("series", "ts", "value")
    val got = StreamAnomaly.rollingQuantileStreamOnce(spark, df,
        q = 1.0, span = 3, nChunks = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    assert(got(5L) == 5.0)
    // q=1 over trailing 3 = max of window; at ts=1 window is [0,1]
    assert(got(1L) == 1.0)
    val med = StreamAnomaly.rollingQuantileStreamOnce(spark, df,
        q = 0.5, span = 3, nChunks = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    assert(med(5L) == 4.0) // median of [3,4,5]
    assert(med(1L) == 0.5) // interpolated median of [0,1]
  }

  test("cusum: a planted level shift peaks at the shift point") {
    // 20 samples at 0, then 20 at 10: S ramps to its max exactly at
    // the boundary and decays back to ~0 at the end
    val rows = (0L until 20L).map(t => ("s", t, 0.0)) ++
      (20L until 40L).map(t => ("s", t, 10.0))
    val all = Changepoint.cusum(rows.toDF("series", "ts", "value"), threshold = 0.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1)
    val peakTs = all.maxBy(t => math.abs(t._2))._1
    assert(peakTs == 19L, s"peak at $peakTs")
    // bridge property: the last cumulative sum of deviations is 0
    assert(math.abs(all.last._2) < 1e-9)
    // the peak is far above the no-change excursion scale
    assert(math.abs(all.maxBy(t => math.abs(t._2))._2) > 1.0)
  }

  test("cusum: constant series (sigma = 0) emits nothing") {
    val df = (0L until 10L).map(t => ("c", t, 4.0)).toDF("series", "ts", "value")
    assert(Changepoint.cusum(df, 0.0).collect().isEmpty)
  }

  test("cusum plan: all four windows on ONE exchange by series") {
    val df = Seq(("s", 0L, 0.0)).toDF("series", "ts", "value")
    val plan = Changepoint.cusum(df, 0.5).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val n = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.size
    assert(n == 1)
  }
}
