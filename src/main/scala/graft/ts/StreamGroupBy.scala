package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming TS.MRANGE ... GROUPBY label REDUCE — the continuous twin
 * of [[Multi.mrangeGroupBy]] for live ingest: label-matched samples
 * stream in, and every micro-batch emits the UPDATED cross-series
 * reduction for each (label value, bucket) it touched. The batch
 * operator answers "what is the per-type daily average, summed over
 * users, right now?" by re-reading history; this answers it
 * incrementally.
 *
 * Two-level semantics preserved exactly (reference order:
 * replyGroupedMultiRange module.c:467-526 — per-series AGGREGATION
 * first, then the cross-series REDUCE): state is keyed by
 * (label value, bucket) and holds each member series' running partial
 * (sum/min/max/count — enough to finalize any supported aggregator);
 * on every batch the touched keys fold their new samples into the
 * per-series partials and re-reduce across series. Late/out-of-order
 * samples just update their bucket's partials — no watermark drops
 * data, matching the reference's late-write recompute
 * (tsdb.c:621-668).
 *
 * Supported aggregators: everything partials-composable — sum/min/
 * max/count/avg plus std.p/std.s/var.p/var.s via the reference's own
 * accumulator shape (Σv, Σv², n) (reference: compaction.c:461-553),
 * range from (min, max), and first/last via (min-(ts,value),
 * max-(ts,value)) pairs with the batch path's lexicographic struct
 * tie-break (see [[Aggs]]). twa genuinely needs bucket neighbours so
 * it rides a dedicated partials-log path instead
 * ([[mrangeGroupByTwaStreamOnce]] — legal per the reference, which
 * forbids twa only as the REDUCER). Reducers: the same set minus
 * first/last (the batch reducer contract, reference:
 * query_language.c:825-841).
 * NaN samples are dropped at the stream head — the same
 * `isValueValid` skip every batch aggregator applies — so a stray
 * NaN can't poison a (group, bucket) state entry.
 *
 * Scale shape: the label filter and group mapping is a stream-static
 * BROADCAST join (the index is O(#series), the same assumption every
 * batch MRANGE makes) whose static side is the driver-resident
 * [[TSModel.labels]], so no trigger re-reads the events table for
 * it; state per key is O(series in that group), key
 * count is O(groups × open buckets) — retention-bounded in
 * production, and the update-mode log sink keeps per-batch output
 * O(touched keys), the [[Compaction.streamingDownsampleUpdateOnce]]
 * discipline.
 */
object StreamGroupBy {

  private val SupportedAggs = Set("sum", "min", "max", "count", "avg",
    "range", "std.p", "std.s", "var.p", "var.s", "first", "last")
  private val SupportedReducers = Set("sum", "min", "max", "count", "avg",
    "range", "std.p", "std.s", "var.p", "var.s")

  /** Per-series composable partial: (Σv, Σv², min, max, n,
    * first-(ts,v), last-(ts,v)) — finalizes every supported
    * aggregator. The (ts, v) pairs compare lexicographically, the
    * batch path's min/max-over-struct(t,v) duplicate-ts tie-break. */
  private type Partial =
    (Double, Double, Double, Double, Long, Long, Double, Long, Double)

  private val Zero: Partial = (0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 0L, Long.MaxValue, Double.PositiveInfinity,
    Long.MinValue, Double.NegativeInfinity)

  private def finalize(agg: String, p: Partial): Double = {
    val (su, sq, mn, mx, n, _, fv, _, lv) = p
    agg match {
      case "sum"   => su
      case "min"   => mn
      case "max"   => mx
      case "count" => n.toDouble
      case "avg"   => su / n
      case "range" => mx - mn
      case "first" => fv
      case "last"  => lv
      case "var.p" => math.max(0.0, sq / n - (su / n) * (su / n))
      case "var.s" =>
        if (n == 1) 0.0
        else math.max(0.0, (sq - su * su / n) / (n - 1))
      case "std.p" => math.sqrt(math.max(0.0, sq / n - (su / n) * (su / n)))
      case _ => // std.s
        if (n == 1) 0.0
        else math.sqrt(math.max(0.0, (sq - su * su / n) / (n - 1)))
    }
  }

  /** Cross-series reduce over the finalized per-series values — all of
    * them in hand per (group, bucket), so std/var use the stable
    * two-pass central-moment form. */
  private def reduce(reducer: String, finals: Array[Double]): Double = {
    def m2 = { // Σ(f - mean)²
      val mean = finals.sum / finals.length
      finals.map(f => (f - mean) * (f - mean)).sum
    }
    reducer match {
      case "sum"   => finals.sum
      case "min"   => finals.min
      case "max"   => finals.max
      case "count" => finals.length.toDouble
      case "avg"   => finals.sum / finals.length
      case "range" => finals.max - finals.min
      case "var.p" => m2 / finals.length
      case "var.s" => if (finals.length == 1) 0.0 else m2 / (finals.length - 1)
      case "std.p" => math.sqrt(m2 / finals.length)
      case _ => // std.s
        if (finals.length == 1) 0.0
        else math.sqrt(m2 / (finals.length - 1))
    }
  }

  /** Multi-aggregator core: every aggregator in `aggs` finalizes from
    * the SAME per-series partials and is reduced in lockstep (the
    * batch contract — reply.c:291-358 replays N aggregators through
    * the grouped path; [[Multi.mrangeGroupBy]] reduces all its value
    * columns in one grouped pass). Emits
    * `(series="label=lv", ts=bucket, value=array<double> per agg)`
    * updates, one row per touched (group, bucket) per micro-batch. */
  def mrangeGroupByStreamMulti(
      stream: DataFrame, seriesToGroup: DataFrame, groupByLabel: String,
      aggs: Seq[String], reducer: String, bucketMs: Long, alignMs: Long = 0L,
      fromMs: Option[Long] = None, toMs: Option[Long] = None): DataFrame = {
    require(aggs.nonEmpty, "at least one aggregator")
    aggs.foreach(a => require(SupportedAggs.contains(a),
      s"streaming GROUPBY aggregator $a not in $SupportedAggs (twa rides the partials path: mrangeGroupByTwaStreamOnce)"))
    require(SupportedReducers.contains(reducer),
      s"streaming GROUPBY reducer $reducer not in $SupportedReducers (the batch reducer contract)")
    val spark = stream.sparkSession
    import spark.implicits._
    var s = stream.filter(!isnan(col("value")))
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val keyed = s
      .join(broadcast(seriesToGroup), Seq("series"))
      .select(col("lv"),
        TSModel.bucketStart(col("ts"), bucketMs, alignMs).as("bucket"),
        col("series"), col("ts"), col("value"))
      .as[(String, Long, String, Long, Double)]
    keyed
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, String, Long, Double)],
         state: GroupState[Map[String, Partial]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, Partial])
          rows.foreach { case (_, _, series, ts, v) =>
            val (su, sq, mn, mx, n, fts, fv, lts, lv) =
              m.getOrElse(series, Zero)
            val (nfts, nfv) =
              if (ts < fts || (ts == fts && v < fv)) (ts, v) else (fts, fv)
            val (nlts, nlv) =
              if (ts > lts || (ts == lts && v > lv)) (ts, v) else (lts, lv)
            m = m.updated(series, (su + v, sq + v * v,
              math.min(mn, v), math.max(mx, v), n + 1, nfts, nfv, nlts, nlv))
          }
          state.update(m)
          val vals = aggs.map { a =>
            val finals = m.valuesIterator.map(p => finalize(a, p)).toArray
            reduce(reducer, finals)
          }
          Iterator.single((key._1, key._2, vals))
      }
      .toDF("lv", "ts", "value")
      .select(concat(lit(s"$groupByLabel="), col("lv")).as("series"),
        col("ts"), col("value"))
  }

  /** Single-aggregator form: `(series, ts, value: double)`. */
  def mrangeGroupByStream(
      stream: DataFrame, seriesToGroup: DataFrame, groupByLabel: String,
      agg: String, reducer: String, bucketMs: Long, alignMs: Long = 0L,
      fromMs: Option[Long] = None, toMs: Option[Long] = None): DataFrame =
    mrangeGroupByStreamMulti(stream, seriesToGroup, groupByLabel,
      Seq(agg), reducer, bucketMs, alignMs, fromMs, toMs)
      .select(col("series"), col("ts"),
        element_at(col("value"), 1).as("value"))

  /**
   * One-shot replay against the events fixture (the shared staged
   * micro-batch discipline): update-mode log sink, merge-on-read
   * last-writer-wins, range-guarded. The final frame must hash-match
   * [[Multi.mrangeGroupBy]]'s batch answer — it shares the batch
   * query's DuckDB oracle.
   */
  def mrangeGroupByStreamOnce(
      spark: SparkSession, dir: String, preds: Seq[Multi.LabelPred],
      groupByLabel: String, agg: String, reducer: String, bucketMs: Long,
      fromMs: Option[Long], toMs: Option[Long], sinkDir: String): DataFrame =
    Compaction.withStatePartitions(spark, 8) {
      val labels = TSModel.labels(spark, dir)
      val s2g = Multi.queryIndex(labels, preds)
        .join(labels, Seq("series"))
        .select(col("series"),
          element_at(col("labels"), groupByLabel).as("lv"))
        .filter(col("lv").isNotNull)
      val streamed = mrangeGroupByStream(
        Compaction.eventsStream(spark, dir), s2g, groupByLabel,
        agg, reducer, bucketMs, 0L, fromMs, toMs)
      val log = Compaction.runToLogSink(streamed, "update", sinkDir)
      // lazy guard wraps the RETURNED frame (same (series, ts) key set
      // as the log — resolution only drops superseded versions)
      Compaction.guardStreamedRange(
        Compaction.lastWriterWins(log)
          .select(col("series"), col("ts"),
            col("value").cast("double").as(Aggs.colName(agg))),
        TSModel.samples(spark, dir), bucketMs)
    }

  /** Multi-aggregator one-shot replay ([[mrangeGroupByStreamOnce]]'s
    * discipline); the log's array value rides [[Compaction.lastWriterWins]]
    * unchanged (max over struct(batch_id, array) — lexicographic, only
    * batch_id decides) and unpacks to one named column per
    * aggregator, the batch operator's output shape. */
  def mrangeGroupByStreamMultiOnce(
      spark: SparkSession, dir: String, preds: Seq[Multi.LabelPred],
      groupByLabel: String, aggs: Seq[String], reducer: String, bucketMs: Long,
      fromMs: Option[Long], toMs: Option[Long], sinkDir: String): DataFrame =
    Compaction.withStatePartitions(spark, 8) {
      val labels = TSModel.labels(spark, dir)
      val s2g = Multi.queryIndex(labels, preds)
        .join(labels, Seq("series"))
        .select(col("series"),
          element_at(col("labels"), groupByLabel).as("lv"))
        .filter(col("lv").isNotNull)
      val streamed = mrangeGroupByStreamMulti(
        Compaction.eventsStream(spark, dir), s2g, groupByLabel,
        aggs, reducer, bucketMs, 0L, fromMs, toMs)
      val log = Compaction.runToLogSink(streamed, "update", sinkDir)
      // lazy guard wraps the RETURNED frame (same (series, ts) key set
      // as the log — resolution only drops superseded versions)
      Compaction.guardStreamedRange(
        Compaction.lastWriterWins(log)
          .select(col("series") +: col("ts") +:
            aggs.zipWithIndex.map { case (a, i) =>
              element_at(col("value"), i + 1).cast("double").as(Aggs.colName(a))
            }: _*),
        TSModel.samples(spark, dir), bucketMs)
    }

  // ------------------------------------------------------------------
  // Per-series TWA as the AGGREGATION step (the reference forbids twa
  // only as the cross-series REDUCER, query_language.c:825-841; per-
  // series TWA before the reduce is legal — ts_glt_twa's live mirror).
  //
  // TWA's boundary interpolation reads NEIGHBOUR buckets, which no
  // (group, bucket)-keyed state can see — so, exactly like the
  // streaming compaction TWA path (Compaction.streamingDownsampleTwaOnce),
  // the stream emits per-(series, bucket) boundary-free PARTIALS
  // (first/last valid sample + interior trapezoid sum, all computable
  // from the bucket's own samples) to an update-mode log, and boundary
  // interpolation + the cross-series reduce resolve AT READ TIME from
  // the dest-sized partials table. Range edges keep the reference's
  // direct-lookup semantics (Twa.bucketTwa: a neighbour OUTSIDE
  // [from, to] still anchors the head/tail interpolation): samples
  // outside the range route to per-series ANCHOR keys that track just
  // the nearest out-of-range sample on each side.
  //
  // State per real (series, bucket) key is the bucket's own valid
  // samples (a late arrival can split an existing interior trapezoid,
  // so the trapezoid sum alone is not mergeable) — bounded by bucket
  // span × sample cadence, the same boundedness class as the
  // compaction path's per-batch bucket recompute; anchor keys hold ONE
  // sample. Output convention: round-9 (stacked float reductions).
  // ------------------------------------------------------------------

  private[ts] val PreAnchor = Long.MinValue
  private[ts] val PostAnchor = Long.MaxValue

  /** Update-mode partials stream: one row per touched key per batch —
    * `(series, bucket, first_ts, first_v, last_ts, last_v, interior)`;
    * anchor keys (bucket = ±Long.MaxValue sentinels) carry their single
    * nearest-out-of-range sample in the first/last slots. */
  def mrangeGroupByTwaPartialsStream(
      stream: DataFrame, seriesToGroup: DataFrame,
      bucketMs: Long, alignMs: Long = 0L,
      fromMs: Option[Long] = None, toMs: Option[Long] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val s = stream.filter(!isnan(col("value")))
    val base = TSModel.bucketStart(col("ts"), bucketMs, alignMs)
    val withFrom = fromMs.map(f =>
      when(col("ts") < f, lit(PreAnchor)).otherwise(base)).getOrElse(base)
    val key = toMs.map(t =>
      when(col("ts") > t, lit(PostAnchor)).otherwise(withFrom)).getOrElse(withFrom)
    s.join(broadcast(seriesToGroup.select(col("series"))), Seq("series"))
      .select(col("series"), key.as("bucket"), col("ts"), col("value"))
      .as[(String, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Long, Double)],
         state: GroupState[List[(Long, Double)]]) =>
          val incoming = rows.map(r => (r._3, r._4)).toList
          val prev = state.getOption.getOrElse(Nil)
          val merged = key._2 match {
            // pre-anchor: only the LATEST out-of-range-below sample can
            // ever anchor the head interpolation (max by (ts, v) — the
            // deduped-ingest model makes the v tie-break inert)
            case PreAnchor  => List((prev ++ incoming).max)
            case PostAnchor => List((prev ++ incoming).min)
            case _          => (prev ++ incoming).sorted
          }
          state.update(merged)
          val arr = merged.toArray
          var interior = 0.0
          var i = 1
          while (i < arr.length) {
            interior +=
              (arr(i - 1)._2 + arr(i)._2) * (arr(i)._1 - arr(i - 1)._1) / 2.0
            i += 1
          }
          Iterator.single((key._1, key._2,
            arr(0)._1.toDouble, arr(0)._2,
            arr(arr.length - 1)._1.toDouble, arr(arr.length - 1)._2, interior))
      }
      .toDF("series", "bucket", "first_ts", "first_v",
        "last_ts", "last_v", "interior")
  }

  /** Merge-on-read + boundary resolution + cross-series reduce for the
    * GROUPBY TWA partials log: last writer per (series, bucket) wins,
    * ONE lag/lead window by series supplies each bucket's nearest
    * occupied neighbours (coalesced with the range-edge anchors), the
    * head/tail trapezoids + covered-interval rules of [[Twa.bucketTwa]]
    * (with range-clipped bucket edges) finalize each series' value, and
    * the reducer folds the group — the exact two-level order of
    * [[Multi.mrangeGroupBy]]. */
  def mrangeGroupByTwaResolve(
      log: DataFrame, seriesToGroup: DataFrame, groupByLabel: String,
      reducer: String, bucketMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None): DataFrame = {
    require(SupportedReducers.contains(reducer),
      s"streaming GROUPBY reducer $reducer not in $SupportedReducers (the batch reducer contract)")
    import org.apache.spark.sql.expressions.Window
    val win = log.groupBy(col("series"), col("bucket"))
      .agg(max(struct(col("batch_id"), col("first_ts"), col("first_v"),
        col("last_ts"), col("last_v"), col("interior"))).as("s"))
      .select(col("series"), col("bucket"),
        col("s.first_ts").as("first_ts"), col("s.first_v").as("first_v"),
        col("s.last_ts").as("last_ts"), col("s.last_v").as("last_v"),
        col("s.interior").as("interior"))
    val pre = win.filter(col("bucket") === PreAnchor)
      .select(col("series"), col("last_ts").as("pre_ts"), col("last_v").as("pre_v"))
    val post = win.filter(col("bucket") === PostAnchor)
      .select(col("series"), col("first_ts").as("post_ts"), col("first_v").as("post_v"))
    val real = win.filter(col("bucket") =!= PreAnchor && col("bucket") =!= PostAnchor)
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val ta0 = col("bucket").cast("double")
    val tb0 = (col("bucket") + bucketMs).cast("double")
    val ta = fromMs.map(f => greatest(ta0, lit(f.toDouble))).getOrElse(ta0)
    val tb = toMs.map(t => least(tb0, lit((t + 1).toDouble))).getOrElse(tb0)
    // anchor frames are O(#series) — the always-broadcastable class
    val withNb = real
      .join(broadcast(pre), Seq("series"), "left")
      .join(broadcast(post), Seq("series"), "left")
      .withColumn("__p_ts", coalesce(lag(col("last_ts"), 1).over(w), col("pre_ts")))
      .withColumn("__p_v", coalesce(lag(col("last_v"), 1).over(w), col("pre_v")))
      .withColumn("__n_ts", coalesce(lead(col("first_ts"), 1).over(w), col("post_ts")))
      .withColumn("__n_v", coalesce(lead(col("first_v"), 1).over(w), col("post_v")))
    val hasPrev = col("__p_ts").isNotNull
    val hasNext = col("__n_ts").isNotNull
    val vHead = col("__p_v") + (ta - col("__p_ts")) *
      (col("first_v") - col("__p_v")) / (col("first_ts") - col("__p_ts"))
    val head = when(hasPrev, (vHead + col("first_v")) * (col("first_ts") - ta) / 2.0)
      .otherwise(0.0)
    val vTail = col("last_v") + (tb - col("last_ts")) *
      (col("__n_v") - col("last_v")) / (col("__n_ts") - col("last_ts"))
    val tail = when(hasNext, (col("last_v") + vTail) * (tb - col("last_ts")) / 2.0)
      .otherwise(0.0)
    val firstTs = when(hasPrev, ta).otherwise(col("first_ts"))
    val lastTs = when(hasNext, tb).otherwise(col("last_ts"))
    val value = when(lastTs === firstTs, col("last_v"))
      .otherwise((col("interior") + head + tail) / (lastTs - firstTs))
    val perSeries = withNb.select(col("series"), col("bucket").as("ts"),
      value.cast("double").as("twa_value"))
    val fill = if (Set("count", "countnan", "countall").contains(reducer)) lit(0.0)
               else lit(Double.NaN)
    perSeries.join(broadcast(seriesToGroup), Seq("series"))
      .filter(col("lv").isNotNull)
      .groupBy(col("lv"), col("ts"))
      .agg(Aggs.expr(reducer, col("twa_value"), col("ts")).as("__red"))
      .select(concat(lit(s"$groupByLabel="), col("lv")).as("series"),
        col("ts"),
        round(coalesce(col("__red").cast("double"), fill), 9).as("twa_value"))
  }

  /** One-shot replay against the events fixture — the per-series-TWA
    * twin of [[mrangeGroupByStreamOnce]]; shares the batch
    * [[Multi.mrangeGroupBy]](aggs = twa) oracle (round-9 both sides). */
  def mrangeGroupByTwaStreamOnce(
      spark: SparkSession, dir: String, preds: Seq[Multi.LabelPred],
      groupByLabel: String, reducer: String, bucketMs: Long,
      fromMs: Option[Long], toMs: Option[Long], sinkDir: String): DataFrame =
    Compaction.withStatePartitions(spark, 8) {
      val labels = TSModel.labels(spark, dir)
      val s2g = Multi.queryIndex(labels, preds)
        .join(labels, Seq("series"))
        .select(col("series"),
          element_at(col("labels"), groupByLabel).as("lv"))
        .filter(col("lv").isNotNull)
      val streamed = mrangeGroupByTwaPartialsStream(
        Compaction.eventsStream(spark, dir), s2g, bucketMs, 0L, fromMs, toMs)
      val log = Compaction.runToLogSink(streamed, "update", sinkDir)
      val resolved = mrangeGroupByTwaResolve(
        log, s2g, groupByLabel, reducer, bucketMs, fromMs, toMs)
      Compaction.guardStreamedRange(
        resolved, TSModel.samples(spark, dir), bucketMs)
    }

  /** Spec-facing chunked replay for the TWA aggregation path — stages
    * by `chunkCol` (by something other than ts to force OOO bucket
    * arrivals) and must equal the batch [[Multi.mrangeGroupBy]] with
    * aggs = twa (round-9) for any chunking. */
  def mrangeGroupByTwaStreamChunks(
      spark: SparkSession, samples: DataFrame, seriesToGroup: DataFrame,
      groupByLabel: String, reducer: String, bucketMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 4,
      chunkCol: org.apache.spark.sql.Column = col("ts")): DataFrame =
    Compaction.withStatePartitions(spark, 8) {
      val stream = graft.ReplayStage(
        samples.select(col("series"), col("ts"), col("value")),
        Seq(chunkCol), nChunks).stream
      val streamed = mrangeGroupByTwaPartialsStream(
        stream, seriesToGroup, bucketMs, 0L, fromMs, toMs)
      val sinkDir = graft.Scratch.dir("graft_sgbtwa_snk_").resolve("log").toString
      val log = Compaction.runToLogSink(streamed, "update", sinkDir)
      mrangeGroupByTwaResolve(
        log, seriesToGroup, groupByLabel, reducer, bucketMs, fromMs, toMs)
    }

  /** Spec-facing chunked replay: stage an arbitrary samples frame as
    * `nChunks` mtime-ordered files (partitioned by `chunkCol` —
    * by something OTHER than ts to force out-of-order bucket
    * arrivals), stream one file per trigger through the same
    * pipeline, resolve the log. Must equal the batch
    * [[Multi.mrangeGroupBy]] on the same inputs for any chunking. */
  def mrangeGroupByStreamChunks(
      spark: SparkSession, samples: DataFrame, seriesToGroup: DataFrame,
      groupByLabel: String, agg: String, reducer: String, bucketMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 4,
      chunkCol: org.apache.spark.sql.Column = col("ts")): DataFrame =
    mrangeGroupByStreamChunksMulti(spark, samples, seriesToGroup,
      groupByLabel, Seq(agg), reducer, bucketMs, fromMs, toMs,
      nChunks, chunkCol)

  /** Multi-aggregator chunked replay — the lockstep twin of
    * [[Multi.mrangeGroupBy]] with N value columns. */
  def mrangeGroupByStreamChunksMulti(
      spark: SparkSession, samples: DataFrame, seriesToGroup: DataFrame,
      groupByLabel: String, aggs: Seq[String], reducer: String, bucketMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 4,
      chunkCol: org.apache.spark.sql.Column = col("ts")): DataFrame =
    Compaction.withStatePartitions(spark, 8) {
      val stream = graft.ReplayStage(
        samples.select(col("series"), col("ts"), col("value")),
        Seq(chunkCol), nChunks).stream
      val streamed = mrangeGroupByStreamMulti(stream, seriesToGroup,
        groupByLabel, aggs, reducer, bucketMs, 0L, fromMs, toMs)
      val sinkDir = graft.Scratch.dir("graft_sgb_snk_").resolve("log").toString
      val log = Compaction.runToLogSink(streamed, "update", sinkDir)
      Compaction.lastWriterWins(log)
        .select(col("series") +: col("ts") +:
          aggs.zipWithIndex.map { case (a, i) =>
            element_at(col("value"), i + 1).cast("double").as(Aggs.colName(a))
          }: _*)
    }
}
