package graft.ts

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/**
 * Streaming per-series anomaly detection — the online twin of
 * [[Anomaly.zscore]] for live ingest: each arriving sample is scored
 * against the statistics of its series' PREFIX (all samples that
 * arrived before it), so an alert fires at arrival time, not after a
 * batch re-read.
 *
 * Semantics (deterministic, oracle-checkable): samples are processed
 * in (ts, value) order; sample x at prefix (n, μ, σ) is flagged when
 * `n ≥ minPrefix`, `σ > 0` and `|x − μ| / σ ≥ threshold`, then folded
 * into the state. This is exactly the cumulative-window formulation
 * `avg/stddev_pop OVER (PARTITION BY series ORDER BY ts, value ROWS
 * UNBOUNDED PRECEDING TO 1 PRECEDING)` — which is what the DuckDB
 * oracle computes, so the STREAMING state path is hash-checked
 * against a closed-form batch derivation.
 *
 * Scale: state is three doubles + a count per series (constant), the
 * per-batch shuffle is by series — the same key every TS operator
 * groups on. Ordering inside a micro-batch is a bounded in-memory
 * sort of that batch's rows per series; cross-batch order is the
 * staging discipline (time-ordered arrival), which production ingest
 * provides by construction.
 */
object StreamAnomaly {

  /** minimum prior samples before a score is meaningful */
  val MinPrefix = 5

  /** Drain `out` through a foreachBatch parquet sink and read it back
    * with `out`'s schema. A run that emits no rows writes no part files,
    * so schema inference would throw — return an empty frame of that
    * schema instead. */
  private[ts] def drain(spark: SparkSession, out: DataFrame): DataFrame = {
    val sinkDir = graft.Scratch.dir("graft_sanom_").resolve("out").toString
    out.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("append").parquet(sinkDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val parts = Option(new java.io.File(sinkDir).listFiles())
      .getOrElse(Array.empty).exists(_.getName.startsWith("part-"))
    if (parts) spark.read.schema(out.schema).parquet(sinkDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], out.schema)
  }

  /** The in-range, non-NaN `(series, ts, value)` samples, widened by
    * `keyed`, replayed in up to `nChunks` ts-ordered micro-batches, one
    * file per trigger (the TS streaming family's staging discipline).
    * An input with fewer distinct ts than `nChunks` stages fewer files,
    * and so fewer triggers, like every other replay. */
  private def replay(
      samples: DataFrame, fromMs: Option[Long], toMs: Option[Long],
      nChunks: Int)(keyed: DataFrame => DataFrame = identity): DataFrame = {
    var s = samples.filter(!isnan(col("value")))
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    graft.ReplayStage(keyed(s.select(col("series"), col("ts"), col("value"))),
      Seq(col("ts")), nChunks).stream
  }

  /** Run `body` under the requested state-store provider (RocksDB =
    * disk-backed state, the 100-TB configuration for corpus-cardinality
    * or high-series-cardinality state; default = whatever the session
    * has). Provider choice is semantics-free — pinned by
    * StreamAnomalySpec's differential. */
  private def withProvider[T](
      spark: SparkSession, useRocksDb: Boolean)(body: => T): T =
    Compaction.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      if (useRocksDb) graft.pipeline.StreamDedup.RocksDbProvider
      else spark.conf.get("spark.sql.streaming.stateStore.providerClass"))(body)

  /** One-shot replay of a samples frame in `nChunks` time-ordered
    * micro-batches through the streaming scorer. */
  def zscoreStreamOnce(
      spark: SparkSession, samples: DataFrame, threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withProvider(spark, useRocksDb) {
    import spark.implicits._
    val out = replay(samples, fromMs, toMs, nChunks)()
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[(Long, Double, Double)]) =>
          // Welford state (n, mean, M2): exactly 0 variance on a
          // constant prefix, matching the oracle's stddev_pop — the
          // naive sumsq/n − μ² form can leave a tiny positive σ there
          // and fire a spurious huge-z alert.
          var (n, mean, m2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val flagged = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
          // batch-local sort: (ts, value) is the operator's total order
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
            if (n >= MinPrefix) {
              val sigma = math.sqrt(math.max(m2 / n, 0.0))
              if (sigma > 0) {
                val z = (v - mean) / sigma
                if (math.abs(z) >= threshold) flagged += ((series, ts, v, z))
              }
            }
            n += 1
            val delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
          }
          state.update((n, mean, m2))
          flagged.iterator
      }
      .toDF("series", "ts", "value", "z_value")
    drain(spark, out)
  } }

  /**
   * Streaming SEASONAL anomaly — the cohort-keyed variant: state is
   * per (series, season) (season = [[Seasonal]]'s epoch-arithmetic
   * hod/dow key, computed in the staging projection so the stream
   * carries it), and each arrival is scored against its own cohort's
   * prefix. "This Monday's value vs previous Mondays", live. The
   * per-key state stays three doubles + a long; key cardinality is
   * series×24 (or ×7).
   */
  def seasonalStreamOnce(
      spark: SparkSession, samples: DataFrame, threshold: Double,
      mode: String = "dow",
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withProvider(spark, useRocksDb) {
    import spark.implicits._
    val out = replay(samples, fromMs, toMs, nChunks)(Seasonal.withSeason(_, mode))
      .as[(String, Long, Double, Long)]
      .groupByKey(r => (r._1, r._4))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Double, Long)],
         state: GroupState[(Long, Double, Double)]) =>
          // Welford (n, mean, M2) — see zscoreStreamOnce for why not sumsq.
          var (n, mean, m2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val flagged = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Double, Long, Double)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v, _) =>
            if (n >= MinPrefix) {
              val sigma = math.sqrt(math.max(m2 / n, 0.0))
              if (sigma > 0) {
                val z = (v - mean) / sigma
                if (math.abs(z) >= threshold)
                  flagged += ((key._1, ts, v, key._2, z))
              }
            }
            n += 1
            val delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
          }
          state.update((n, mean, m2))
          flagged.iterator
      }
      .toDF("series", "ts", "value", "season", "s_value")
    drain(spark, out)
  } }

  /** Oracle for [[seasonalStreamOnce]]: prefix stats as a cumulative
    * window over the cohort. */
  def seasonalStreamSql(
      threshold: Double, mode: String = "dow",
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT series, ts, value, ${Seasonal.seasonKeySqlPublic(mode)} AS season
       |  FROM samples $where
       |), scored AS (
       |  SELECT series, ts, value, season,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series, season ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |)
       |SELECT series, ts, value, season, (value - mu) / sigma AS s_value
       |FROM scored
       |WHERE n >= $MinPrefix AND sigma > 0
       |  AND abs((value - mu) / sigma) >= $threshold""".stripMargin
  }

  /**
   * Streaming rolling quantile — the online twin of
   * [[Rolling.rollingQuantile]]: state per series is the trailing
   * `span−1` values (a bounded ring, NOT the whole history), and each
   * arrival emits the exact interpolated quantile of its trailing
   * window. Replayed in time order this produces EXACTLY the batch
   * operator's output, so the stateful stream is hash-checked against
   * [[Rolling.rollingQuantileSql]] — the same batch-duality contract
   * as the compaction family.
   */
  def rollingQuantileStreamOnce(
      spark: SparkSession, samples: DataFrame, q: Double, span: Int,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withProvider(spark, useRocksDb) {
    import spark.implicits._
    require(q >= 0 && q <= 1 && span > 0)
    val out = replay(samples, fromMs, toMs, nChunks)()
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[List[Double]]) =>
          var ring = state.getOption.getOrElse(Nil) // newest first
          val outRows = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Double, Double)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
            ring = (v :: ring).take(span)
            // exact interpolated quantile of the trailing window —
            // the same arithmetic as the batch HOF expression
            val sorted = ring.sorted.toArray
            val r = q * (sorted.length - 1)
            val lo = math.floor(r).toInt
            val hi = math.min(lo + 1, sorted.length - 1)
            val rq = sorted(lo) + (r - lo) * (sorted(hi) - sorted(lo))
            outRows += ((series, ts, v, rq))
          }
          state.update(ring)
          outRows.iterator
      }
      .toDF("series", "ts", "value", "rq_value")
    drain(spark, out)
  } }

  /**
   * Streaming CUSUM change detection — the online twin of
   * [[Changepoint.cusum]]: the batch statistic normalizes against the
   * WHOLE series' μ/σ (unknowable online), so the streaming form uses
   * the prefix statistics instead — each arrival contributes
   * `(x − μ_prefix)/σ_prefix` to a running sum S, and |S| ≥ threshold
   * flags a sustained drift (a mean shift makes every post-shift term
   * push the same way; prefix-z alone only fires on single outliers).
   * Contributions start once the prefix has [[MinPrefix]] samples and
   * positive variance.
   *
   * State per series: the Welford triple + the running S — five
   * scalars, constant in history. Each per-row term depends only on
   * the row's prefix, so the whole fold has a closed form as TWO
   * stacked cumulative windows (prefix stats, then a running sum of
   * the derived terms) — [[cusumStreamSql]], hash-checked like the
   * z-score scorer.
   */
  def cusumStreamOnce(
      spark: SparkSession, samples: DataFrame, threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withProvider(spark, useRocksDb) {
    import spark.implicits._
    val out = replay(samples, fromMs, toMs, nChunks)()
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[(Long, Double, Double, Double)]) =>
          // Welford (n, mean, M2) + the running normalized-deviation
          // sum S — see zscoreStreamOnce for why Welford, not sumsq.
          var (n, mean, m2, cs) = state.getOption.getOrElse((0L, 0.0, 0.0, 0.0))
          val flagged = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Double, Double)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
            if (n >= MinPrefix) {
              val sigma = math.sqrt(math.max(m2 / n, 0.0))
              if (sigma > 0) {
                cs += (v - mean) / sigma
                if (math.abs(cs) >= threshold) flagged += ((series, ts, v, cs))
              }
            }
            n += 1
            val delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
          }
          state.update((n, mean, m2, cs))
          flagged.iterator
      }
      .toDF("series", "ts", "value", "cusum_score")
    drain(spark, out)
  } }

  /** Oracle for [[cusumStreamOnce]]: prefix stats from one cumulative
    * window, the running S as a second cumulative sum over the derived
    * per-row terms (rows before MinPrefix / with zero prefix variance
    * contribute 0 and never emit). */
  def cusumStreamSql(
      threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT * FROM samples $where
       |), prefixed AS (
       |  SELECT series, ts, value,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), termed AS (
       |  SELECT series, ts, value,
       |    (n >= $MinPrefix AND sigma > 0) AS scored,
       |    CASE WHEN n >= $MinPrefix AND sigma > 0
       |         THEN (value - mu) / sigma ELSE 0.0 END AS term
       |  FROM prefixed
       |), summed AS (
       |  SELECT series, ts, value, scored,
       |    sum(term) OVER (PARTITION BY series ORDER BY ts, value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_score
       |  FROM termed
       |)
       |SELECT series, ts, value, cusum_score FROM summed
       |WHERE scored AND abs(cusum_score) >= $threshold""".stripMargin
  }

  /** Oracle: the prefix statistics as a cumulative window — the
    * streaming state fold and this closed form must agree row-for-row
    * (`sqrt(sumsq/n − μ²)` vs stddev_pop differ only in ulps, far
    * inside the compare tolerance; gate flips would need |z−thr| ~
    * 1e-12, probability ~0 on continuous data). */
  def zscoreStreamSql(
      threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT * FROM samples $where
       |), scored AS (
       |  SELECT series, ts, value,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |)
       |SELECT series, ts, value, (value - mu) / sigma AS z_value
       |FROM scored
       |WHERE n >= $MinPrefix AND sigma > 0
       |  AND abs((value - mu) / sigma) >= $threshold""".stripMargin
  }
}
