package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ts._

/** Write path and compaction (SURVEY §2.1, §2.2, §2.6): catalog
  * lifecycle, duplicate policies, IGNORE, retention, TS.DEL/INCRBY/MADD,
  * batch and streaming compaction rules, live ingest. */
object WritePathQueries {
  import Fixture._

  lazy val all: Seq[Q] = Seq(
    // ---- catalog surface (SURVEY §2.1 TS.CREATE/TS.ALTER) ----
    // scripted create→alter→policy→createrule→deleterule lifecycle
    // (reference: module.c:1216-1307, 1312-1464, parse_policies.c)
    Q("ts_catalog_lifecycle", (s, dir) => Catalog.lifecycle(s, dir),
      Catalog.lifecycleSql()),
    // ---- write-path semantics (SURVEY §2.2) ----
    // duplicate policies over hour-coarsened ts (creates real dups)
    dupPolicyQ("last"), dupPolicyQ("first"), dupPolicyQ("min"), dupPolicyQ("sum"),
    dupPolicyQ("max"),
    // BLOCK over raw samples (no (series,ts) dups at ms granularity in
    // the fixture): the batch passes the duplicate check unchanged
    Q("ts_dup_policy_block", (s, dir) =>
      WritePath.applyDupPolicy(TSModel.samplesWithSeq(s, dir), "BLOCK"),
      s"${TSModel.samplesCte} SELECT series, ts, value FROM samples"),
    // mixed per-series policies resolved in ONE pass: each series by
    // its catalog policy, absent -> global default (reference policy
    // chain: ON_DUPLICATE ?: series ?: global, module.c:1014-1016)
    Q("ts_dup_policy_per_series", (s, dir) => {
      val pol = TSModel.labels(s, dir).select(col("series"),
        when(element_at(col("labels"), "type") === "click", "min")
          .when(element_at(col("labels"), "type") === "view", "max")
          .when(element_at(col("labels"), "type") === "purchase", "sum")
          .when(element_at(col("labels"), "type") === "signup", "first")
          .as("dup_policy"))  // error series: null -> global default
      WritePath.applyDupPolicyPerSeries(dupSamples(s, dir), pol, globalPolicy = "LAST")
    },
      s"""$dupCte, ${Multi.labelsCte}
         |SELECT series, ts,
         |  CASE "type"
         |    WHEN 'click' THEN
         |      CASE WHEN isnan((min(struct_pack(s := seq, v := value))).v) THEN 'NaN'::DOUBLE
         |           ELSE min(value) FILTER (WHERE NOT isnan(value)) END
         |    WHEN 'view' THEN
         |      CASE WHEN isnan((min(struct_pack(s := seq, v := value))).v) THEN 'NaN'::DOUBLE
         |           ELSE max(value) FILTER (WHERE NOT isnan(value)) END
         |    WHEN 'purchase' THEN
         |      CASE WHEN isnan((min(struct_pack(s := seq, v := value))).v) THEN 'NaN'::DOUBLE
         |           ELSE sum(value) FILTER (WHERE NOT isnan(value)) END
         |    WHEN 'signup' THEN
         |      coalesce((min(struct_pack(s := seq, v := value)) FILTER (WHERE NOT isnan(value))).v,
         |               'NaN'::DOUBLE)
         |    ELSE
         |      coalesce((max(struct_pack(s := seq, v := value)) FILTER (WHERE NOT isnan(value))).v,
         |               'NaN'::DOUBLE)
         |  END AS value
         |FROM dsamples LEFT JOIN series_labels USING (series)
         |GROUP BY series, ts, "type"""".stripMargin),
    // IGNORE insert filter (sequential; recursive-CTE oracle)
    Q("ts_ignore_filter", (s, dir) =>
      WritePath.ignoreFilter(TSModel.samples(s, dir), maxTimeDiff = 12 * HOUR, maxValDiff = 50.0),
      // sequential IGNORE semantics as a recursive CTE: state
      // (last_ts, last_v) advances row by row exactly like the
      // executor-side streaming filter
      ignoreFilterOracle),
    // IGNORE with PER-SERIES catalog thresholds + policy gating
    // (reference: filter_close_samples module.c:986-998 reads the
    // series' own config; gate arms only under LAST)
    Q("ts_ignore_filter_per_series", (s, dir) => {
      val t = element_at(col("labels"), "type")
      val th = TSModel.labels(s, dir).select(col("series"),
        when(t === "signup", "first").otherwise("last").as("dup_policy"),
        when(t === "click", 12L * HOUR).when(t === "view", 6L * HOUR)
          .when(t === "signup", 12L * HOUR).otherwise(0L)
          .as("ignore_max_time_diff"),
        when(t === "click", 50.0).when(t === "view", 20.0)
          .when(t === "signup", 50.0).otherwise(0.0)
          .as("ignore_max_val_diff"))
      WritePath.ignoreFilterPerSeries(TSModel.samples(s, dir), th)
    }, {
      // the same recursive-CTE state machine with thresholds and the
      // LAST-policy gate resolved from the series name prefix (series =
      // event_type '_' user — signup series carry FIRST policy, so their
      // gate is off)
      val mtd = s"CASE WHEN o.series LIKE 'click%' THEN ${12 * HOUR} " +
        s"WHEN o.series LIKE 'view%' THEN ${6 * HOUR} " +
        s"WHEN o.series LIKE 'signup%' THEN ${12 * HOUR} ELSE 0 END"
      val mvd = "CASE WHEN o.series LIKE 'click%' THEN 50.0 " +
        "WHEN o.series LIKE 'view%' THEN 20.0 " +
        "WHEN o.series LIKE 'signup%' THEN 50.0 ELSE 0.0 END"
      val drop = s"(o.series NOT LIKE 'signup%' AND NOT isnan(o.value) " +
        s"AND NOT isnan(s.last_v) AND o.ts - s.last_ts <= ($mtd) " +
        s"AND abs(o.value - s.last_v) <= ($mvd))"
      s"""WITH RECURSIVE samples AS (
         |  SELECT event_type || '_' || CAST(user_id AS VARCHAR) AS series,
         |         epoch_ms(ts) AS ts, value
         |  FROM events
         |), ord AS (
         |  SELECT series, ts, value,
         |         row_number() OVER (PARTITION BY series ORDER BY ts, value) AS rn
         |  FROM samples
         |), step AS (
         |  SELECT series, rn, ts, value, TRUE AS kept, ts AS last_ts, value AS last_v
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.series, o.rn, o.ts, o.value,
         |         NOT $drop AS kept,
         |         CASE WHEN $drop THEN s.last_ts ELSE o.ts END AS last_ts,
         |         CASE WHEN $drop THEN s.last_v ELSE o.value END AS last_v
         |  FROM step s JOIN ord o ON o.series = s.series AND o.rn = s.rn + 1
         |)
         |SELECT series, ts, value FROM step WHERE kept""".stripMargin
    }),
    // retention clamp (reference: tsdb.c:1367-1374)
    Q("ts_retention", (s, dir) =>
      WritePath.retentionClamp(TSModel.samples(s, dir), retentionMs = 10 * DAY),
      s"""${TSModel.samplesCte}
         |SELECT series, ts, value FROM (
         |  SELECT series, ts, value, max(ts) OVER (PARTITION BY series) AS last_ts
         |  FROM samples
         |) WHERE ts >= last_ts - ${10 * DAY}""".stripMargin),
    // TS.DEL range (reference: tsdb.c:996-1084)
    Q("ts_del_range", (s, dir) =>
      WritePath.deleteRange(one(s, dir), oneSeries, T0 + 10 * DAY, T0 + 20 * DAY),
      s"""${TSModel.samplesCte}
         |SELECT series, ts, value FROM samples
         |WHERE series = '$oneSeries'
         |  AND NOT (ts BETWEEN ${T0 + 10 * DAY} AND ${T0 + 20 * DAY})""".stripMargin),
    // TS.INCRBY replay: running counter (reference: module.c:1469-1564)
    Q("ts_incrby_replay", (s, dir) =>
      WritePath.counterReplay(one(s, dir)),
      s"""${TSModel.samplesCte}, d AS (
         |  SELECT series, ts, sum(value) AS delta FROM samples
         |  WHERE series = '$oneSeries' GROUP BY series, ts
         |) SELECT series, ts,
         |    sum(delta) OVER (PARTITION BY series ORDER BY ts
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         |  FROM d""".stripMargin),
    // TS.MADD per-item outcome surface (reference: module.c:1115-1161
    // — each triple succeeds or errors independently): ok/err per
    // submitted item under BLOCK with a retention gate; the planted
    // ret_a rows exercise the retention error, the hour-coarsened
    // duplicates the BLOCK upsert error
    Q("ts_madd_status", (s, dir) => {
      import s.implicits._
      val plant = Seq(
        ("ret_a", 100 * DAY, 1.0, 1L), ("ret_a", 5 * DAY, 2.0, 2L),
        ("ret_a", 95 * DAY, 3.0, 3L)).toDF("series", "ts", "value", "seq")
      WritePath.maddStatus(dupSamples(s, dir).unionByName(plant), "BLOCK",
        retentionMs = 10 * DAY)
    },
      // maddStatus differential: the reference's sequential retention +
      // duplicate checks re-derived with the same two windows
      s"""$dupCte, msamples AS (
         |  SELECT * FROM dsamples
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    ('ret_a', ${100 * DAY}::BIGINT, 1.0::DOUBLE, 1::BIGINT),
         |    ('ret_a', ${5 * DAY}::BIGINT, 2.0::DOUBLE, 2::BIGINT),
         |    ('ret_a', ${95 * DAY}::BIGINT, 3.0::DOUBLE, 3::BIGINT)
         |  ) v(series, ts, value, seq)
         |), pm AS (
         |  SELECT series, ts, value, seq,
         |    max(ts) OVER (PARTITION BY series ORDER BY seq
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM msamples
         |), r1 AS (
         |  SELECT *, (prev_max IS NOT NULL AND ts < prev_max
         |             AND prev_max - ts > ${10 * DAY}) AS ret_rej
         |  FROM pm
         |), fs AS (
         |  SELECT *, min(CASE WHEN NOT ret_rej
         |                     THEN struct_pack(s := seq, v := value) END)
         |              OVER (PARTITION BY series, ts) AS f
         |  FROM r1
         |)
         |SELECT series, ts, value, seq,
         |  CASE WHEN ret_rej THEN FALSE
         |       WHEN seq = (f).s THEN TRUE ELSE FALSE END AS ok,
         |  CASE WHEN ret_rej THEN 'TSDB: Timestamp is older than retention'
         |       WHEN seq = (f).s THEN NULL
         |       ELSE '${WritePath.upsertErr}' END AS err
         |FROM fs""".stripMargin),
    // ---- compaction (SURVEY §2.6) ----
    // batch-materialized rule, in-flight bucket excluded
    Q("ts_compaction_batch", (s, dir) =>
      Compaction.materialize(TSModel.samples(s, dir), Compaction.Rule("avg", DAY)),
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         avg(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples GROUP BY 1, 2
         |) SELECT series || '_AVG_$DAY' AS series, bucket AS ts, value
         |  FROM (SELECT *, max(bucket) OVER (PARTITION BY series) AS maxb FROM agg)
         |  WHERE bucket < maxb""".stripMargin),
    // LATEST: in-flight bucket surfaced (reference: tsdb.c:1468-1501)
    Q("ts_compaction_latest", (s, dir) =>
      Compaction.latest(TSModel.samples(s, dir), Compaction.Rule("max", DAY)),
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         max(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples GROUP BY 1, 2
         |) SELECT series || '_MAX_$DAY' AS series,
         |         (max(struct_pack(t := bucket, v := value))).t AS ts,
         |         (max(struct_pack(t := bucket, v := value))).v AS value
         |  FROM agg GROUP BY 1""".stripMargin),
    // multi-rule fan-out in ONE source scan (reference walks every
    // attached rule per write, module.c:915-984)
    Q("ts_compaction_multirule", (s, dir) =>
      Compaction.materializeAll(TSModel.samples(s, dir), Seq(
        Compaction.Rule("avg", DAY), Compaction.Rule("max", 2 * DAY),
        Compaction.Rule("sum", DAY))),
      s"""${TSModel.samplesCte}
         |${flushedRuleOracleSql("avg", "avg(value) FILTER (WHERE NOT isnan(value))", DAY)}
         |UNION ALL
         |${flushedRuleOracleSql("max", "max(value) FILTER (WHERE NOT isnan(value))", 2 * DAY)}
         |UNION ALL
         |${flushedRuleOracleSql("sum", "sum(value) FILTER (WHERE NOT isnan(value))", DAY)}""".stripMargin),
    // TWA compaction rule: boundary carry across buckets
    // (reference: module.c:928-976)
    Q("ts_compaction_twa", (s, dir) =>
      Compaction.materialize(TSModel.samples(s, dir), Compaction.Rule("twa", DAY)),
      twaFlushedOracleSql),
    // mixed rule set WITH a TWA rule, still one source scan: the TWA
    // neighbour window and the grouped fan-out share the plan
    // (reference: module.c:915-984 walks all rules incl. TWA per write)
    Q("ts_compaction_multirule_twa", (s, dir) =>
      Compaction.materializeAll(TSModel.samples(s, dir), Seq(
        Compaction.Rule("avg", DAY), Compaction.Rule("twa", DAY),
        Compaction.Rule("max", 2 * DAY))),
      // the TWA leg IS the shared flushed-TWA oracle (review r04: a
      // third inline copy would drift from the val the other two TWA
      // queries check against)
      s"""${TSModel.samplesCte}
         |${flushedRuleOracleSql("avg", "avg(value) FILTER (WHERE NOT isnan(value))", DAY)}
         |UNION ALL
         |${flushedRuleOracleSql("max", "max(value) FILTER (WHERE NOT isnan(value))", 2 * DAY)}
         |UNION ALL
         |SELECT * FROM (
         |$twaFlushedOracleSql
         |)""".stripMargin),
    // Structured Streaming downsample, run to completion on the same
    // parquet — results must equal the batch oracle
    Q("ts_compaction_stream", (s, dir) =>
      Compaction.streamingDownsampleOnce(s, dir,
        Compaction.Rule("sum", DAY), queryName = "stream_sum_" + math.abs(dir.hashCode)),
      streamSumOracle),
    // update-mode + idempotent merge-on-read sink: the scale-safe
    // streaming shape — must converge to the same final state
    Q("ts_compaction_stream_update", (s, dir) =>
      Compaction.streamingDownsampleUpdateOnce(s, dir,
        Compaction.Rule("sum", DAY),
        sinkDir = graft.Scratch.dir("graft_upd_")
          .resolve("log").toString),
      streamSumOracle),
    // streaming TWA rule: per-batch boundary-free partials into a
    // merge-on-read log (own buckets only, O(batch) per batch);
    // neighbour interpolation resolves at read time — converges to
    // the batch materialization and shares its oracle
    Q("ts_compaction_stream_twa", (s, dir) =>
      Compaction.streamingDownsampleTwaOnce(s, dir, Compaction.Rule("twa", DAY),
        workDir = graft.Scratch.dir("graft_stwa_").toString,
        nChunks = 2), // cross-batch recompute exercised; 3-batch OOO in spec
      // streaming TWA converges to the batch materialization — same
      // flushed-TWA oracle by construction
      twaFlushedOracleSql),
    // MULTI-RULE streaming downsample: one stream, one stateful agg
    // for all rules (vs R queries × R state stores), update-mode
    // merge-on-read sink — must converge to the batch answer
    Q("ts_compaction_stream_multirule", (s, dir) =>
      Compaction.streamingDownsampleAllUpdateOnce(s, dir,
        Seq(Compaction.Rule("sum", DAY), Compaction.Rule("max", 2 * DAY)),
        sinkDir = graft.Scratch.dir("graft_updm_")
          .resolve("log").toString),
      s"""${TSModel.samplesCte}
         |SELECT series || '_SUM_$DAY' AS series,
         |       ${TSModel.bucketStartSql("ts", DAY)} AS ts,
         |       sum(value) FILTER (WHERE NOT isnan(value)) AS value
         |FROM samples GROUP BY 1, 2
         |UNION ALL
         |SELECT series || '_MAX_${2 * DAY}' AS series,
         |       ${TSModel.bucketStartSql("ts", 2 * DAY)} AS ts,
         |       max(value) FILTER (WHERE NOT isnan(value)) AS value
         |FROM samples GROUP BY 1, 2""".stripMargin),
    // TS.ADD live ingest: the events fixture replayed through the
    // stateful streaming ingest (per-series O(1) tail state, IGNORE
    // gate, merge-on-read upsert sink) — must equal the batch ignore
    // filter and its recursive-CTE oracle
    Q("ts_ingest_stream", (s, dir) =>
      Ingest.eventsIngestOnce(s, dir,
        sinkDir = graft.Scratch.dir("graft_ing_")
          .resolve("log").toString,
        maxTimeDiff = 12 * HOUR, maxValDiff = 50.0),
      // the streaming ingest replay has identical sequential semantics
      // (same state machine, fed by micro-batches instead of one pass)
      ignoreFilterOracle),

    // COMPACTION_POLICY end-to-end (VERDICT r04 missing #2): one
    // global policy string parsed (m/M duration units per
    // parse_policies.c:22-28 — '3600000m' is ms, '1M' is one MINUTE),
    // expanded to auto-rules with the reference dest naming + labels
    // + retention (tsdb.c:1109-1191; tests/flow/test_globalconfigs.py)
    // and materialized over every fixture series in ONE source scan;
    // the oracle re-derives the whole chain in SQL. Three rules on
    // purpose: a 2-rule policy can't catch a broken when-chain fold
    // (review r05 found exactly that crash)
    Q("ts_compaction_policy", (s, dir) =>
      policyCompaction(TSModel.samples(s, dir), "avg:3600000m:1d;max:1M:2d;sum:2h:1d"),
      s"""${TSModel.samplesCte}
         |SELECT *, 'AVG' AS label_aggregation, '3600000' AS label_time_bucket,
         |       ${86400000L} AS retention_ms FROM (
         |${flushedRuleOracleSql("avg", "avg(value) FILTER (WHERE NOT isnan(value))", 3600000L)})
         |UNION ALL
         |SELECT *, 'MAX', '60000', ${2 * 86400000L} FROM (
         |${flushedRuleOracleSql("max", "max(value) FILTER (WHERE NOT isnan(value))", 60000L)})
         |UNION ALL
         |SELECT *, 'SUM', '${2 * 3600000L}', ${86400000L} FROM (
         |${flushedRuleOracleSql("sum", "sum(value) FILTER (WHERE NOT isnan(value))", 2 * 3600000L)})""".stripMargin),
  )

  /** Hour-coarsened samples: collapses each series' samples into hourly
    * duplicate groups so duplicate policies have real work to do. The
    * fixture carries no NaN duplicate collisions, so three synthetic
    * series plant the reference NaN-fold cases (valid-wins under
    * FIRST/LAST, NaN-first poisoning under MIN/MAX/SUM — reference
    * generic_chunk.c:62-96); the oracle plants the identical rows. */
  private def dupSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nan = Double.NaN
    val plant = Seq(
      ("nan_a", 0L, nan, 1L), ("nan_a", 0L, 5.0, 2L), ("nan_a", 0L, 3.0, 3L),
      ("nan_b", 0L, 5.0, 1L), ("nan_b", 0L, nan, 2L), ("nan_b", 0L, 2.0, 3L),
      ("nan_c", 0L, nan, 1L), ("nan_c", 0L, nan, 2L))
      .toDF("series", "ts", "value", "seq")
    TSModel.samplesWithSeq(s, dir)
      .withColumn("ts", TSModel.bucketStart(col("ts"), HOUR))
      .unionByName(plant)
  }

  /** Duplicate policy `policy` over [[dupSamples]]. The oracle is the
    * reference NaN fold (handleDuplicateSample generic_chunk.c:62-96):
    * FIRST/LAST -> the first/last VALID value (NaN only when all are
    * NaN); MIN/MAX/SUM -> NaN when the first-arriving sample is NaN
    * (later valid writes are rejected), else the agg of valid values. */
  private def dupPolicyQ(policy: String): Q = {
    val fold = policy match {
      case "last" | "first" =>
        val pick = if (policy == "last") "max" else "min"
        s"""coalesce(($pick(struct_pack(s := seq, v := value)) FILTER (WHERE NOT isnan(value))).v,
           |           'NaN'::DOUBLE)"""
      case agg =>
        s"""CASE WHEN isnan((min(struct_pack(s := seq, v := value))).v) THEN 'NaN'::DOUBLE
           |       ELSE $agg(value) FILTER (WHERE NOT isnan(value)) END"""
    }
    Q(s"ts_dup_policy_$policy",
      (s, dir) => WritePath.applyDupPolicy(dupSamples(s, dir), policy.toUpperCase),
      s"""$dupCte SELECT series, ts,
         |  $fold AS value
         |FROM dsamples GROUP BY series, ts""".stripMargin)
  }

  private val dupCte: String =
    s"""WITH dsamples AS (
       |  SELECT event_type || '_' || CAST(user_id AS VARCHAR) AS series,
       |         ${TSModel.bucketStartSql("epoch_ms(ts)", HOUR)} AS ts,
       |         value, event_id AS seq
       |  FROM events
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ('nan_a', 0::BIGINT, 'NaN'::DOUBLE, 1::BIGINT),
       |    ('nan_a', 0::BIGINT, 5.0::DOUBLE, 2::BIGINT),
       |    ('nan_a', 0::BIGINT, 3.0::DOUBLE, 3::BIGINT),
       |    ('nan_b', 0::BIGINT, 5.0::DOUBLE, 1::BIGINT),
       |    ('nan_b', 0::BIGINT, 'NaN'::DOUBLE, 2::BIGINT),
       |    ('nan_b', 0::BIGINT, 2.0::DOUBLE, 3::BIGINT),
       |    ('nan_c', 0::BIGINT, 'NaN'::DOUBLE, 1::BIGINT),
       |    ('nan_c', 0::BIGINT, 'NaN'::DOUBLE, 2::BIGINT)
       |  ) v(series, ts, value, seq)
       |)""".stripMargin

  /** The unflushed daily SUM dest both single-rule streaming
    * downsamples converge to (every bucket, in-flight one included). */
  private val streamSumOracle: String =
    s"""${TSModel.samplesCte}
       |SELECT series || '_SUM_$DAY' AS series,
       |       ${TSModel.bucketStartSql("ts", DAY)} AS ts,
       |       sum(value) FILTER (WHERE NOT isnan(value)) AS value
       |FROM samples GROUP BY 1, 2""".stripMargin

  /** Flushed TWA dest (batch and streaming paths share it — the
    * streaming runner converges to the batch materialization). */
  private def twaFlushedOracleSql: String =
    s"""WITH twa AS (
       |${Twa.sql(DAY, 0L, None, None, None)}
       |), agg AS (
       |  SELECT series, bucket, twa_value AS value FROM twa
       |) SELECT series || '_TWA_$DAY' AS series, bucket AS ts, value
       |  FROM (SELECT *, max(bucket) OVER (PARTITION BY series) AS maxb FROM agg)
       |  WHERE bucket < maxb""".stripMargin

  /** Sequential IGNORE semantics as a recursive CTE: state
    * (last_ts, last_v) advances row by row exactly like the
    * executor-side streaming filter. Shared by the batch ignore filter
    * and the streaming ingest replay (same state machine). */
  private val ignoreFilterOracle: String =
    s"""WITH RECURSIVE samples AS (
       |  SELECT event_type || '_' || CAST(user_id AS VARCHAR) AS series,
       |         epoch_ms(ts) AS ts, value
       |  FROM events
       |), ord AS (
       |  SELECT series, ts, value,
       |         row_number() OVER (PARTITION BY series ORDER BY ts, value) AS rn
       |  FROM samples
       |), step AS (
       |  SELECT series, rn, ts, value, TRUE AS kept, ts AS last_ts, value AS last_v
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.series, o.rn, o.ts, o.value,
       |         NOT (NOT isnan(o.value) AND NOT isnan(s.last_v)
       |              AND o.ts - s.last_ts <= ${12 * HOUR}
       |              AND abs(o.value - s.last_v) <= 50.0) AS kept,
       |         CASE WHEN (NOT isnan(o.value) AND NOT isnan(s.last_v)
       |              AND o.ts - s.last_ts <= ${12 * HOUR}
       |              AND abs(o.value - s.last_v) <= 50.0)
       |              THEN s.last_ts ELSE o.ts END AS last_ts,
       |         CASE WHEN (NOT isnan(o.value) AND NOT isnan(s.last_v)
       |              AND o.ts - s.last_ts <= ${12 * HOUR}
       |              AND abs(o.value - s.last_v) <= 50.0)
       |              THEN s.last_v ELSE o.value END AS last_v
       |  FROM step s JOIN ord o ON o.series = s.series AND o.rn = s.rn + 1
       |)
       |SELECT series, ts, value FROM step WHERE kept""".stripMargin
}
