package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming session windows — the ONLINE twin of [[Sessions.sessionRange]]
 * using Structured Streaming's NATIVE `session_window(eventTime, gap)`
 * stateful operator (the one TS window shape Spark ships a dedicated
 * state-merging implementation for — unlike the z-score/CUSUM scorers
 * there is no hand-rolled `flatMapGroupsWithState` here; the engine's
 * own session state store does the cross-batch merging).
 *
 * Semantics bridge (both are exact, both hash-checked against the SAME
 * DuckDB oracle as the batch operator):
 *
 *  - gap contract: the batch operator merges consecutive samples with
 *    `diff <= gapMs` (a gap STRICTLY greater starts a new session);
 *    Spark's session_window merges sessions whose intervals touch —
 *    `next.start <= prev.end` with `end = last + gap` — i.e. ALSO
 *    `diff <= gap` (verified by StreamSessionsSpec's exact-boundary
 *    case: diff == gap merges, diff == gap+1 splits). The two
 *    operators agree with the gap passed through unchanged.
 *  - session bounds are re-derived as min(ts)/max(ts) of the merged
 *    group (the batch contract), NOT session_window's `[start,
 *    last+gap)` struct.
 *  - presence semantics: NaN samples still extend sessions (their
 *    timestamp proves the pipe was alive); the value aggregate applies
 *    [[Aggs]]' NaN handling inside the merged group.
 *
 * Watermark/flush discipline: event time is the sample's own ts
 * (timestamp_millis), watermark delay 0 — legal because the one-shot
 * replay stages time-ordered chunks (`repartitionByRange` by ts), so
 * no event is ever late; a session is emitted (append mode) once the
 * watermark passes its end + gap, and a final SENTINEL chunk (one row
 * far past every real timestamp, filtered from the result) closes the
 * tail sessions that no later data would otherwise flush. Production
 * ingest replaces the sentinel with its real watermark delay.
 *
 * Scale: state per in-flight session is the aggregation buffer (a few
 * scalars), keyed by series — bounded by series cardinality, not
 * history; the RocksDB provider path (`useRocksDb`) is the
 * high-cardinality configuration, same as the other TS streaming
 * operators.
 */
object StreamSessions {

  private[ts] val Sentinel = "__graft_wm_sentinel__"

  /** One-shot replay of `samples` through the native session-window
    * operator in `nChunks` time-ordered micro-batches:
    * `(series, session_start, session_end, n_samples, <agg>_value)` —
    * the exact [[Sessions.sessionRange]] surface, so
    * [[Sessions.sessionRangeSql]] is the shared oracle. */
  def sessionStreamOnce(
      spark: SparkSession, samples: DataFrame, agg: String, gapMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withSessionProvider(spark, useRocksDb) {
    require(gapMs > 0, "session gap must be positive")
    var s = samples
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val staged = graft.ReplayStage(s.select(col("series"), col("ts"), col("value")),
      Seq(col("ts")), nChunks)
    // the sentinel must outrun every real session's end + gap. Read
    // max(ts) off the STAGED files with parquet aggregate pushdown —
    // footer statistics only — instead of a second full scan of the
    // (projected, transformed) source: one of the two pre-stream jobs
    // this one-shot pays, cut to ~nothing (r14 #6 floor work).
    val maxTs = Compaction.withConf(spark,
        "spark.sql.parquet.aggregatePushdown", "true") {
      spark.read.parquet(staged.dir).agg(max(col("ts"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
    }
    val dataNames = graft.ReplayStage.partFiles(staged.dir).map(_.getName).toSet
    val sentinelTs = maxTs + 2 * gapMs + 86400000L
    Seq((Sentinel, sentinelTs, 0.0)).toDF2(spark)
      .write.mode("append").parquet(staged.dir)
    // mtime order = replay order: the data chunks were stamped in ts
    // order at staging, the sentinel plays LAST — it must not advance
    // the watermark before real data plays. The stream lists its files
    // only once it starts, so it picks the sentinel up.
    graft.ReplayStage.partFiles(staged.dir).filterNot(f => dataNames(f.getName))
      .zipWithIndex.foreach { case (f, i) => graft.ReplayStage.stamp(f, staged.files + i) }
    val out = staged.stream
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", "0 milliseconds")
      .groupBy(col("series"),
        session_window(col("event_time"), s"$gapMs milliseconds"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_samples"),
        Aggs.expr(agg, col("value"), col("ts")))
      .drop("session_window")
    StreamAnomaly.drain(spark, out).filter(col("series") =!= Sentinel)
  } }

  /**
   * Streaming gap detection — the ONLINE twin of [[Sessions.gaps]]:
   * an inter-arrival gap > `thresholdMs` is reported the moment the
   * CLOSING sample arrives (the page fires when the pipe comes back —
   * detecting a still-open outage needs a timeout clock, which the
   * batch contract by construction doesn't have either: it only ever
   * sees bracketed gaps). State per series is ONE long (last arrival
   * ts); presence semantics as in batch — NaN arrivals count, a
   * duplicate ts yields diff 0 which can never exceed a positive
   * threshold, so no distinct pass is needed.
   *
   * Output `(series, gap_start, gap_end, gap_ms)` — identical to the
   * batch operator, so [[Sessions.gapsSql]] is the shared oracle.
   */
  def gapsStreamOnce(
      spark: SparkSession, samples: DataFrame, thresholdMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      withSessionProvider(spark, useRocksDb) {
    require(thresholdMs > 0, "gap threshold must be positive")
    import spark.implicits._
    var s = samples
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val out = graft.ReplayStage(s.select(col("series"), col("ts")),
        Seq(col("ts")), nChunks).stream
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val ordered = rows.map(_._2).toArray.sorted
          var last = state.getOption.getOrElse(Long.MinValue)
          val gaps = Array.newBuilder[(String, Long, Long, Long)]
          ordered.foreach { t =>
            if (last != Long.MinValue && t - last > thresholdMs)
              gaps += ((series, last, t, t - last))
            if (t > last) last = t
          }
          if (last != Long.MinValue) state.update(last)
          gaps.result().iterator
      }
      .toDF("series", "gap_start", "gap_end", "gap_ms")
    StreamAnomaly.drain(spark, out)
  } }

  /** Session-window state lives in the session-window store; provider
    * choice is semantics-free, mirrored from [[StreamAnomaly]]. */
  private def withSessionProvider[T](
      spark: SparkSession, useRocksDb: Boolean)(body: => T): T =
    Compaction.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      if (useRocksDb) graft.pipeline.StreamDedup.RocksDbProvider
      else spark.conf.get("spark.sql.streaming.stateStore.providerClass"))(body)

  /** Tiny local-Seq → DataFrame helper that avoids importing implicits
    * at the call site (the staging sentinel is the only user). */
  private implicit class SeqToDf(rows: Seq[(String, Long, Double)]) {
    def toDF2(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.toDF("series", "ts", "value")
    }
  }
}
