package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Multi-monitor streaming pass — ONE stateful stream serving several
 * per-series monitors at once. A production deployment does not run
 * four separate readers of the same ingest topic, one per alert; it
 * runs ONE stream whose per-series state carries every monitor's
 * accumulator and emits tagged alerts. This operator is that shape
 * for the series-keyed monitor family:
 *
 *  - prefix z-score anomaly ([[StreamAnomaly.zscoreStreamOnce]]),
 *  - CUSUM drift ([[StreamAnomaly.cusumStreamOnce]]),
 *  - rolling quantile ([[StreamAnomaly.rollingQuantileStreamOnce]]),
 *  - gap detection ([[StreamSessions.gapsStreamOnce]]),
 *  - seasonal cohort anomaly ([[StreamAnomaly.seasonalStreamOnce]] —
 *    its (series, season) key folds INTO the per-series state as a
 *    bounded cohort map, ≤24 entries; the per-cohort subsequence of
 *    the series' (ts, value)-ordered replay is itself (ts, value)-
 *    ordered, so the cohort Welford evolution is the individual
 *    operator's exactly),
 *  - Hampel outlier filter ([[Rolling.hampel]]'s streaming twin,
 *    enabled when `hampelSpan > 0`: a (2·span+1)-deep ring of
 *    (ts, value) rows in replay order; once span+1 rows are buffered,
 *    each arrival scores the row span positions back — whose CENTERED
 *    batch window is exactly the current ring contents, including the
 *    head-truncated frames (while fewer than 2·span+1 rows exist the
 *    ring holds the whole prefix, which IS the truncated frame). The
 *    kernel replicates [[graft.functions.HampelStats]]' interpolated
 *    median/MAD arithmetic bit-for-bit. Tail rows (fewer than span
 *    following rows) never emit — the closed-only discipline — so the
 *    slice equals the batch operator restricted to rows with ≥ span
 *    successors per series ([[Rolling.hampelSql]] `closedOnly`)),
 *  - multi-window SLO burn rate ([[Rates.burnRate]]'s streaming twin,
 *    enabled when `burnLongMs > 0` — THE canonical paging monitor; a
 *    bounded pending-window map (≤ longMs/hopMs entries) accumulates
 *    each hop window's long/short-tail sums and EMITS the window when
 *    event time passes its end, i.e. on the first arrival with
 *    ts ≥ wstart + longMs. Only CLOSED windows emit: windows still
 *    open at end-of-replay — exactly those the batch operator
 *    computes from a partial tail — stay unsaid, so the slice equals
 *    the batch operator restricted to `wstart + longMs ≤ max(ts)` per
 *    series ([[Rates.burnRateSql]] `closedOnly`)),
 *  - windowed DDSketch ([[Histogram.ddsketchWindowed]]'s streaming
 *    twin, enabled when `sketchWindowMs > 0`: per-series state holds
 *    the open tumbling window's (bucket → count) map — bounded by
 *    open windows (≈1 under the time-ordered replay) × occupied
 *    buckets ≤ log_γ of the window's value span — and emits the
 *    window's `(wstart, bucket, n)` sketch rows when the first
 *    positive arrival passes its end. Closed-only, like burn: windows
 *    open at end-of-replay stay unsaid, so the slice equals the batch
 *    operator restricted to `wstart + windowMs ≤ max(ts)` per series
 *    over positive rows ([[Histogram.ddsketchWindowedSql]]
 *    `closedOnly`). Bucket arithmetic replicates the batch operator
 *    bit-for-bit: `floor(round9(ln v / ln γ))`),
 *
 * whose transitions are deliberately IDENTICAL to the individual
 * operators' (the z-score and CUSUM monitors share one Welford
 * prefix, exactly the arithmetic each runs alone; the spec pins each
 * extracted slice bit-equal to its one-shot twin). The native
 * session_window operator cannot fold here (engine-managed state).
 *
 * Output: tagged union `(op, series, ts, value, score, l1, d1)` with
 * op ∈ z|c|r|g|s|b|h|d; [[zscoreSlice]]/[[cusumSlice]]/[[rollingSlice]]/
 * [[gapsSlice]]/[[seasonalSlice]]/[[burnSlice]]/[[hampelSlice]]/
 * [[ddsketchSlice]] project each monitor's exact individual schema
 * (`l1` carries gap_end for g, the season for s; for b, `ts` carries
 * wstart, `value`/`score` carry burn_short/burn_long; for h, `score`
 * carries med and the nullable `d1` carries h_score — NULL on the
 * zero-MAD escape, exactly the batch column; for d, `ts` carries
 * wstart, `l1` the log bucket, `value` the integer count n).
 *
 * Scale: state per series = Welford triple + CUSUM sum + a span-bounded
 * ring + one long + a ≤period-bounded cohort map + a ≤longMs/hopMs
 * pending-window map + an open-window sketch map (≈ log_γ buckets) —
 * constants; one shuffle by series for N monitors instead of N; the
 * replay/staging discipline (time-ordered chunks, one file per
 * trigger) is the family's.
 *
 * The per-session CACHE exists because the bench/verify harness runs
 * each monitor as its own query: the first slice materializes the
 * shared pass once per (fixture, params) key, the other three read
 * it. `cacheKey = None` forces a fresh pass (the bench's
 * ts_stream_shared_pass row measures the real cost every rep).
 */
object StreamMonitors {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Test hook: drop every cached pass (a fresh SparkSession in the
    * same JVM must not read sinks of a stopped one). */
  private[graft] def clearCache(): Unit = cache.clear()

  // sort with a TOTAL order: the shared source keeps NaN rows (the
  // gap monitor counts presence), and a comparison sort under IEEE
  // NaN semantics is undefined even for the non-NaN rows
  private val rowOrd: Ordering[(String, Long, Double, Long)] =
    Ordering.by[(String, Long, Double, Long), (Long, Double)](r => (r._2, r._3))(
      Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))

  /** Spark `round(x, 9)`'s exact arithmetic (shortest-repr BigDecimal,
    * HALF_UP) — the burn slice must round IDENTICALLY to the batch
    * operator's output column. */
  private def round9(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  def monitorsOnce(
      spark: SparkSession, samples: DataFrame,
      zThreshold: Double, cusumThreshold: Double,
      q: Double, span: Int, gapThresholdMs: Long,
      seasonalThreshold: Double, seasonalMode: String,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false,
      cacheKey: Option[String] = None,
      burnShortMs: Long = 0L, burnLongMs: Long = 0L, burnHopMs: Long = 0L,
      burnBudgetPerSec: Double = 1.0, burnThreshold: Double = 1.0,
      hampelSpan: Int = 0, hampelK: Double = 1.0,
      sketchGamma: Double = 0.0, sketchWindowMs: Long = 0L): DataFrame = {
    val key = cacheKey.map(k =>
      s"$k|$zThreshold|$cusumThreshold|$q|$span|$gapThresholdMs|" +
        s"$seasonalThreshold|$seasonalMode|$fromMs|$toMs|$nChunks|$useRocksDb|" +
        s"$burnShortMs|$burnLongMs|$burnHopMs|$burnBudgetPerSec|$burnThreshold|" +
        s"$hampelSpan|$hampelK|$sketchGamma|$sketchWindowMs")
    key.flatMap(k => Option(cache.get(k))).getOrElse {
      val out = runMonitors(spark, samples, zThreshold, cusumThreshold,
        q, span, gapThresholdMs, seasonalThreshold, seasonalMode,
        fromMs, toMs, nChunks, useRocksDb,
        burnShortMs, burnLongMs, burnHopMs, burnBudgetPerSec, burnThreshold,
        hampelSpan, hampelK, sketchGamma, sketchWindowMs)
      key.foreach(k => cache.put(k, out))
      out
    }
  }

  private def runMonitors(
      spark: SparkSession, samples: DataFrame,
      zThreshold: Double, cusumThreshold: Double,
      q: Double, span: Int, gapThresholdMs: Long,
      seasonalThreshold: Double, seasonalMode: String,
      fromMs: Option[Long], toMs: Option[Long],
      nChunks: Int, useRocksDb: Boolean,
      burnShortMs: Long, burnLongMs: Long, burnHopMs: Long,
      burnBudgetPerSec: Double, burnThreshold: Double,
      hampelSpan: Int, hampelK: Double,
      sketchGamma: Double, sketchWindowMs: Long): DataFrame =
      // state partitions re-measured in r17 with the 8-monitor arm set:
      // 8 ≈ 16 < 32 (2.6 / 2.7 / 3.9 s warm one-shot at sf0.1) — the
      // state-store commit overhead still outweighs monitor-compute
      // parallelism, so the r14 setting stands
      Compaction.withStatePartitions(spark, 8) {
      Compaction.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
        if (useRocksDb) graft.pipeline.StreamDedup.RocksDbProvider
        else spark.conf.get("spark.sql.streaming.stateStore.providerClass")) {
    require(q >= 0 && q <= 1 && span > 0, "rolling quantile params")
    require(gapThresholdMs > 0, "gap threshold must be positive")
    val hampelOn = hampelSpan > 0
    if (hampelOn) require(hampelK > 0, s"hampelK $hampelK must be positive")
    val sketchOn = sketchWindowMs > 0
    if (sketchOn) require(sketchGamma > 1.0,
      s"sketchGamma $sketchGamma must be > 1 (relative accuracy γ−1)")
    val lnGamma = if (sketchOn) math.log(sketchGamma) else 0.0
    val burnOn = burnLongMs > 0
    if (burnOn) {
      require(burnShortMs > 0 && burnShortMs <= burnLongMs,
        s"burnShortMs $burnShortMs must be in (0, burnLongMs=$burnLongMs]")
      require(burnHopMs > 0 && burnLongMs % burnHopMs == 0,
        s"burnHopMs $burnHopMs must divide burnLongMs $burnLongMs")
      require(burnBudgetPerSec > 0,
        s"burnBudgetPerSec $burnBudgetPerSec must be > 0")
    }
    import spark.implicits._
    // NaN rows stay: the gap monitor counts presence; the value
    // monitors skip them inside the fold (same surviving sequence as
    // their individually-filtered twins)
    var s = samples
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val minPrefix = StreamAnomaly.MinPrefix
    val out = graft.ReplayStage(
        Seasonal.withSeason(s.select(col("series"), col("ts"), col("value")),
          seasonalMode),
        Seq(col("ts")), nChunks).stream
      .as[(String, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long, Double, Long)],
         state: GroupState[(Long, Double, Double, Double, List[Double], Long,
           Map[Long, (Long, Double, Double)],
           Map[Long, (Double, Double, Long)],
           List[(Long, Double)],
           Map[Long, Map[Long, Long]])]) =>
          var (n, mean, m2, cs, ring, lastTs, cohorts, pending, hring, skmap) =
            state.getOption
            .getOrElse((0L, 0.0, 0.0, 0.0, List.empty[Double], Long.MinValue,
              Map.empty[Long, (Long, Double, Double)],
              Map.empty[Long, (Double, Double, Long)],
              List.empty[(Long, Double)],
              Map.empty[Long, Map[Long, Long]]))
          val outRows = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long, Double, Double, Long, Option[Double])]
          rows.toSeq.sorted(rowOrd).foreach { case (_, ts, v, season) =>
            // gap monitor: presence only, NaN arrivals count
            if (lastTs != Long.MinValue && ts - lastTs > gapThresholdMs)
              outRows += (("g", series, lastTs, 0.0, 0.0, ts, None))
            if (ts > lastTs) lastTs = ts
            if (!v.isNaN) {
              // SLO burn monitor — close every hop window whose end
              // this (non-NaN, as in the batch operator's clean())
              // arrival passes, THEN land the sample in its ≤
              // longMs/hopMs pending windows (ts = wstart + longMs is
              // not a member of [wstart, wstart + longMs), matching
              // the batch hop-grid explode)
              if (burnOn) {
                val closed = pending.keys.filter(_ + burnLongMs <= ts).toSeq.sorted
                closed.foreach { w =>
                  val (sumL, sumS, nShort) = pending(w)
                  if (nShort > 0) {
                    val bl = round9(sumL / (burnLongMs / 1000.0) / burnBudgetPerSec)
                    val bs = round9(sumS / (burnShortMs / 1000.0) / burnBudgetPerSec)
                    if (bs >= burnThreshold && bl >= burnThreshold)
                      outRows += (("b", series, w, bs, bl, 0L, None))
                  }
                  pending = pending - w
                }
                val wmax = TSModel.bucketStartLong(ts, burnHopMs)
                var w = TSModel.bucketStartLong(ts - burnLongMs, burnHopMs) + burnHopMs
                while (w <= wmax) {
                  val (sumL, sumS, nShort) = pending.getOrElse(w, (0.0, 0.0, 0L))
                  val inShort = ts >= w + (burnLongMs - burnShortMs)
                  pending = pending.updated(w, (sumL + v,
                    if (inShort) sumS + v else sumS,
                    if (inShort) nShort + 1 else nShort))
                  w += burnHopMs
                }
              }
              // DDSketch monitor — per (series, tumbling window)
              // log-bucket counts (Histogram.ddsketchWindowed's
              // arithmetic bit-for-bit: same ln, same round-9 pin,
              // same floor). Positive arrivals both land in and close
              // windows — the sketch's own filtered set — so a window
              // emits its (bucket, n) rows on the first positive
              // arrival with ts >= wstart + windowMs, and windows
              // still open at end-of-replay stay unsaid (closed-only;
              // ddsketchWindowedSql closedOnly = true is the matching
              // oracle). State is bounded: open windows (≈1 under the
              // time-ordered replay) × occupied buckets (≤ log_γ of
              // the window's value span).
              if (sketchOn && v > 0.0) {
                val closedW = skmap.keys.filter(_ + sketchWindowMs <= ts).toSeq.sorted
                closedW.foreach { w =>
                  skmap(w).toSeq.sortBy(_._1).foreach { case (b, cnt) =>
                    outRows += (("d", series, w, cnt.toDouble, 0.0, b, None))
                  }
                  skmap = skmap - w
                }
                val w = TSModel.bucketStartLong(ts, sketchWindowMs)
                val bucket = math.floor(round9(math.log(v) / lnGamma)).toLong
                val bm = skmap.getOrElse(w, Map.empty[Long, Long])
                skmap = skmap.updated(w,
                  bm.updated(bucket, bm.getOrElse(bucket, 0L) + 1L))
              }
              // Hampel monitor — the (2·span+1)-deep replay-order ring
              // IS the centered batch window of the row span positions
              // back (head-truncated frames included: while fewer than
              // 2·span+1 rows exist the ring holds the whole prefix).
              // Kernel arithmetic replicates HampelStats bit-for-bit.
              if (hampelOn) {
                hring = ((ts, v) :: hring).take(2 * hampelSpan + 1)
                if (hring.size >= hampelSpan + 1) {
                  val (cts, cv) = hring(hampelSpan)
                  val sortedW = hring.map(_._2).sorted.toArray
                  val nW = sortedW.length
                  val r = 0.5 * (nW - 1)
                  val lo = math.floor(r).toInt
                  val hi = math.min(lo + 1, nW - 1)
                  val med = sortedW(lo) + (r - lo) * (sortedW(hi) - sortedW(lo))
                  val dv = new Array[Double](nW)
                  var di = 0
                  while (di < nW) { dv(di) = math.abs(sortedW(di) - med); di += 1 }
                  java.util.Arrays.sort(dv)
                  val mad = dv(lo) + (r - lo) * (dv(hi) - dv(lo))
                  val dev = math.abs(cv - med)
                  if ((mad > 0 && dev > hampelK * 1.4826 * mad) ||
                      (mad == 0.0 && dev > 0))
                    outRows += (("h", series, cts, cv, med, 0L,
                      if (mad > 0) Some(round9(dev / (1.4826 * mad))) else None))
                }
              }
              // z-score + CUSUM share ONE Welford prefix — the exact
              // transition each individual operator runs
              if (n >= minPrefix) {
                val sigma = math.sqrt(math.max(m2 / n, 0.0))
                if (sigma > 0) {
                  val z = (v - mean) / sigma
                  if (math.abs(z) >= zThreshold)
                    outRows += (("z", series, ts, v, z, 0L, None))
                  cs += (v - mean) / sigma
                  if (math.abs(cs) >= cusumThreshold)
                    outRows += (("c", series, ts, v, cs, 0L, None))
                }
              }
              n += 1
              val delta = v - mean
              mean += delta / n
              m2 += delta * (v - mean)
              // rolling quantile ring (every row emits)
              ring = (v :: ring).take(span)
              val sorted = ring.sorted.toArray
              val r = q * (sorted.length - 1)
              val lo = math.floor(r).toInt
              val hi = math.min(lo + 1, sorted.length - 1)
              outRows += (("r", series, ts, v,
                sorted(lo) + (r - lo) * (sorted(hi) - sorted(lo)), 0L, None))
              // seasonal cohort Welford — the (series, season)-keyed
              // operator's state, held as a bounded in-state map
              val (cn, cMean, cM2) = cohorts.getOrElse(season, (0L, 0.0, 0.0))
              if (cn >= minPrefix) {
                val sigma = math.sqrt(math.max(cM2 / cn, 0.0))
                if (sigma > 0) {
                  val sz = (v - cMean) / sigma
                  if (math.abs(sz) >= seasonalThreshold)
                    outRows += (("s", series, ts, v, sz, season, None))
                }
              }
              val cn1 = cn + 1
              val cDelta = v - cMean
              val cMean1 = cMean + cDelta / cn1
              cohorts = cohorts.updated(season,
                (cn1, cMean1, cM2 + cDelta * (v - cMean1)))
            }
          }
          state.update((n, mean, m2, cs, ring, lastTs, cohorts, pending, hring, skmap))
          outRows.iterator
      }
      .toDF("op", "series", "ts", "value", "score", "l1", "d1")
    StreamAnomaly.drain(spark, out)
  } }

  /** The z-score monitor's slice — [[StreamAnomaly.zscoreStreamOnce]]'s
    * exact schema. */
  def zscoreSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "z")
      .select(col("series"), col("ts"), col("value"), col("score").as("z_value"))

  /** The CUSUM monitor's slice. */
  def cusumSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "c")
      .select(col("series"), col("ts"), col("value"), col("score").as("cusum_score"))

  /** The rolling-quantile monitor's slice. */
  def rollingSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "r")
      .select(col("series"), col("ts"), col("value"), col("score").as("rq_value"))

  /** The gap monitor's slice — the batch gap report's schema. */
  def gapsSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "g")
      .select(col("series"), col("ts").as("gap_start"), col("l1").as("gap_end"),
        (col("l1") - col("ts")).as("gap_ms"))

  /** The seasonal cohort monitor's slice —
    * [[StreamAnomaly.seasonalStreamOnce]]'s exact schema. */
  def seasonalSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "s")
      .select(col("series"), col("ts"), col("value"),
        col("l1").as("season"), col("score").as("s_value"))

  /** The SLO burn-rate monitor's slice — [[Rates.burnRate]]'s exact
    * schema, restricted to windows the replay CLOSED (`wstart +
    * longMs ≤ max(ts)` per series; [[Rates.burnRateSql]]
    * `closedOnly = true` is the matching oracle). */
  def burnSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "b")
      .select(col("series"), col("ts").as("wstart"),
        col("value").as("burn_short"), col("score").as("burn_long"))

  /** The Hampel monitor's slice — [[Rolling.hampel]]'s exact schema,
    * restricted to rows with ≥ span following rows in their series
    * ([[Rolling.hampelSql]] `closedOnly = true` is the matching
    * oracle). */
  def hampelSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "h")
      .select(col("series"), col("ts"), col("value"),
        col("score").as("med"), col("d1").as("h_score"))

  /** The DDSketch monitor's slice — [[Histogram.ddsketchWindowed]]'s
    * exact schema, restricted to windows the replay CLOSED (`wstart +
    * windowMs ≤ max(ts)` per series over the sketch's positive rows;
    * [[Histogram.ddsketchWindowedSql]] `closedOnly = true` is the
    * matching oracle). */
  def ddsketchSlice(shared: DataFrame): DataFrame =
    shared.filter(col("op") === "d")
      .select(col("series"), col("ts").as("wstart"),
        col("l1").as("bucket"), col("value").cast("long").as("n"))

  /** DuckDB twin of the full tagged union (each monitor's existing
    * oracle, tagged and projected onto the shared schema; the burn,
    * hampel and sketch arms appear when `burnLongMs > 0` /
    * `hampelSpan > 0` / `sketchWindowMs > 0`, closed rows only). */
  def monitorsSql(
      zThreshold: Double, cusumThreshold: Double,
      q: Double, span: Int, gapThresholdMs: Long,
      seasonalThreshold: Double, seasonalMode: String,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      burnShortMs: Long = 0L, burnLongMs: Long = 0L, burnHopMs: Long = 0L,
      burnBudgetPerSec: Double = 1.0, burnThreshold: Double = 1.0,
      hampelSpan: Int = 0, hampelK: Double = 1.0,
      sketchGamma: Double = 0.0, sketchWindowMs: Long = 0L): String = {
    val burnArm =
      if (burnLongMs <= 0) ""
      else s"""
       |UNION ALL
       |SELECT 'b', series, wstart, burn_short, burn_long, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
       |FROM (${Rates.burnRateSql(burnShortMs, burnLongMs, burnHopMs,
          burnBudgetPerSec, burnThreshold, 0L, fromMs, toMs,
          closedOnly = true)})""".stripMargin
    val hampelArm =
      if (hampelSpan <= 0) ""
      else s"""
       |UNION ALL
       |SELECT 'h', series, ts, value, med, CAST(0 AS BIGINT), h_score
       |FROM (${Rolling.hampelSql(hampelSpan, hampelK, fromMs, toMs,
          closedOnly = true)})""".stripMargin
    val sketchArm =
      if (sketchWindowMs <= 0) ""
      else s"""
       |UNION ALL
       |SELECT 'd', series, wstart, CAST(n AS DOUBLE), 0.0, bucket, CAST(NULL AS DOUBLE)
       |FROM (${Histogram.ddsketchWindowedSql(sketchGamma, sketchWindowMs,
          fromMs, toMs, closedOnly = true)})""".stripMargin
    s"""SELECT 'z' AS op, series, ts, value, z_value AS score, CAST(0 AS BIGINT) AS l1, CAST(NULL AS DOUBLE) AS d1
       |FROM (${StreamAnomaly.zscoreStreamSql(zThreshold, fromMs, toMs)})
       |UNION ALL
       |SELECT 'c', series, ts, value, cusum_score, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
       |FROM (${StreamAnomaly.cusumStreamSql(cusumThreshold, fromMs, toMs)})
       |UNION ALL
       |SELECT 'r', series, ts, value, rq_value, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
       |FROM (${Rolling.rollingQuantileSql(q, span, fromMs, toMs)})
       |UNION ALL
       |SELECT 'g', series, gap_start, 0.0, 0.0, gap_end, CAST(NULL AS DOUBLE)
       |FROM (${Sessions.gapsSql(gapThresholdMs, fromMs, toMs)})
       |UNION ALL
       |SELECT 's', series, ts, value, s_value, season, CAST(NULL AS DOUBLE)
       |FROM (${StreamAnomaly.seasonalStreamSql(seasonalThreshold, seasonalMode, fromMs, toMs)})$burnArm$hampelArm$sketchArm""".stripMargin
  }
}
