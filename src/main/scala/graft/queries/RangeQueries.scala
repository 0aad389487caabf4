package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ts._
import graft.ts.RangeQuery.RangeArgs

/** The TS.RANGE / TS.MRANGE family (SURVEY §2.3, §2.5, §2.7): single-
  * series range options, label-index reads (QUERYINDEX, MGET, MRANGE,
  * GROUPBY, NRANGE, QUERYLABELS, INFO) and their SQL-surface twins. */
object RangeQueries {
  import Fixture._

  lazy val all: Seq[Q] = Seq(
    // TS.RANGE raw scan (reference: module.c:690-722)
    rangeQ("ts_range_raw", RangeArgs(from = Some(T0 + 5 * DAY), to = Some(T0 + 10 * DAY))),
    // TS.RANGE AGGREGATION avg 1d (reference: filter_iterator.c:234-286)
    rangeQ("ts_range_agg_avg", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = DAY)),
    // multi-aggregator single pass (reference: reply.c:291-358)
    rangeQ("ts_range_agg_multi", RangeArgs(from = Some(T0), to = Some(T31),
      aggs = Seq("min", "max", "sum", "count", "first", "last", "range"),
      bucketMs = DAY)),
    // std/var family (reference: compaction.c:461-553)
    rangeQ("ts_range_agg_stats", RangeArgs(from = Some(T0), to = Some(T31),
      aggs = Seq("std.p", "std.s", "var.p", "var.s", "countall", "countnan"),
      bucketMs = 2 * DAY)),
    // ALIGN start sentinel: buckets anchored at the query start
    // (reference: query_language.c:531-560)
    rangeQ("ts_range_align", RangeArgs(from = Some(T0 + 7 * HOUR), to = Some(T31), aggs = Seq("sum"),
      bucketMs = DAY,
      alignMs = RangeQuery.resolveAlign("start", Some(T0 + 7 * HOUR), Some(T31)))),
    // BUCKETTIMESTAMP mid (reference: query_language.c:283-320)
    rangeQ("ts_range_bucketts_mid", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"),
      bucketMs = DAY, bucketTs = "~")),
    // FILTER_BY_VALUE (reference: filter_iterator.c:195-232)
    rangeQ("ts_range_filter_value", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("count", "avg"),
      bucketMs = DAY, filterByValue = Some((50.0, 200.0)))),
    // REVRANGE (reference: series_iterator.c reverse paths)
    rangeQ("ts_revrange_agg", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("max"),
      bucketMs = DAY, reverse = true)),
    // MRANGE-style: same pipeline over every series at once
    rangeQ("ts_mrange_all_avg", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg", "count"),
      bucketMs = 7 * DAY), None),
    // ALIGN end sentinel: buckets anchored at the query END
    // (reference: query_language.c:531-560 "end"/"+")
    rangeQ("ts_range_align_end", RangeArgs(from = Some(T0 + 7 * HOUR), to = Some(T31 - 5 * HOUR), aggs = Seq("sum"),
      bucketMs = DAY,
      alignMs = RangeQuery.resolveAlign("end", Some(T0 + 7 * HOUR), Some(T31 - 5 * HOUR)))),
    // ALIGN literal timestamp (reference: query_language.c:531-560 —
    // any explicit ts anchors the bucket grid)
    rangeQ("ts_range_align_literal", RangeArgs(from = Some(T0 + 3 * HOUR), to = Some(T31), aggs = Seq("sum"),
      bucketMs = DAY,
      alignMs = RangeQuery.resolveAlign((T0 + 5 * HOUR).toString, None, None))),
    // BUCKETTIMESTAMP + (bucket END reported; reference:
    // query_language.c:283-320 — `-` start is every other query's default)
    rangeQ("ts_range_bucketts_end", RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"),
      bucketMs = DAY, bucketTs = "+")),
    // FILTER_BY_TS: explicit ts list (reference: filter_iterator.c:26-188)
    Q("ts_range_filter_ts", (s, dir) => {
      RangeQuery.range(one(s, dir), RangeArgs(filterByTs = filterTsList(s, dir)))
    },
      s"""${TSModel.samplesCte} SELECT series, ts, value FROM samples
         |WHERE series = '$oneSeries' AND ts IN ($filterTsListSql)""".stripMargin),
    // COUNT n: limit after aggregation (reference: reply.c:180-212)
    Q("ts_range_count", (s, dir) => {
      RangeQuery.range(one(s, dir, Some(T0), Some(T31)), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("avg"), bucketMs = DAY, count = Some(7)))
    },
      s"""SELECT * FROM (${RangeQuery.rangeSql(RangeArgs(from = Some(T0), to = Some(T31),
           aggs = Seq("avg"), bucketMs = DAY), seriesPred(oneSeries))})
         |ORDER BY ts LIMIT 7""".stripMargin),
    // EMPTY + TWA interpolation (reference: filter_iterator.c:307-386).
    // No time pruning at the scan: twa boundary interpolation reads
    // the neighbouring samples beyond [from, to].
    Q("ts_range_twa_empty", (s, dir) => {
      RangeQuery.range(one(s, dir), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("twa"), bucketMs = 6 * HOUR, empty = true))
    },
      s"""SELECT series, bucket AS ts, twa_value FROM (
         |${Twa.emptySql(6 * HOUR, 0L, Some(T0), Some(T31), seriesPred(oneSeries))})""".stripMargin),
    // TWA (reference: compaction.c:302-459)
    Q("ts_range_twa", (s, dir) => {
      RangeQuery.range(one(s, dir), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("twa"), bucketMs = DAY))
    },
      s"""SELECT series, bucket AS ts, twa_value FROM (
         |${Twa.sql(DAY, 0L, Some(T0), Some(T31), seriesPred(oneSeries))})""".stripMargin),
    // EMPTY gap fill, sum -> 0 (reference: filter_iterator.c:389-966)
    emptySumQ("ts_range_empty_sum", filter = None),
    // EMPTY × FILTER_BY_VALUE: the spine derives from the FILTERED
    // samples, so buckets whose samples were all filtered out drop at
    // the edges and fill as empty in the interior (reference:
    // tests/flow/test_ts_range_empty_filter_stress.py edge-strip cases)
    emptySumQ("ts_range_empty_filter_value", filter = Some((50.0, 200.0))),
    // EMPTY with MIXED aggregators in one pass: each column fills by
    // its own class — sum/count -> 0, avg -> NaN, last -> LOCF
    // (reference finalizeEmpty per-class tables, compaction.c:73-84)
    Q("ts_range_empty_multi", (s, dir) => {
      RangeQuery.range(one(s, dir, Some(T0), Some(T31)), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("sum", "avg", "last", "count"), bucketMs = 6 * HOUR, empty = true))
    }, {
      // one spine, per-class fills (sum and count -> 0, avg -> NaN,
      // last -> LOCF)
      val b = TSModel.bucketStartSql("ts", 6 * HOUR)
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, $b AS bucket,
         |         sum(value) FILTER (WHERE NOT isnan(value)) AS sum_value,
         |         avg(value) FILTER (WHERE NOT isnan(value)) AS avg_value,
         |         (max(struct_pack(t := ts, v := value)) FILTER (WHERE NOT isnan(value))).v AS last_value,
         |         count(value) FILTER (WHERE NOT isnan(value)) AS count_value
         |  FROM samples WHERE series = '$oneSeries' AND ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |), spine AS (
         |  SELECT series, unnest(generate_series(min(bucket), max(bucket), ${6 * HOUR})) AS bucket
         |  FROM agg GROUP BY series
         |) SELECT spine.series, spine.bucket AS ts,
         |         coalesce(sum_value, 0.0) AS sum_value,
         |         coalesce(avg_value, 'NaN'::DOUBLE) AS avg_value,
         |         last_value(last_value IGNORE NULLS)
         |           OVER (PARTITION BY spine.series ORDER BY spine.bucket
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_value,
         |         coalesce(count_value, 0) AS count_value
         |  FROM spine LEFT JOIN agg USING (series, bucket)""".stripMargin
    }),
    // TWA × FILTER_BY_VALUE: filtered-out samples are invisible to the
    // boundary interpolation too (reference:
    // tests/flow/test_ts_range_empty_filter_stress.py twa equivalence)
    Q("ts_range_twa_filter_value", (s, dir) => {
      RangeQuery.range(one(s, dir), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("twa"), bucketMs = DAY, filterByValue = Some((50.0, 200.0))))
    },
      s"""SELECT series, bucket AS ts, twa_value FROM (
         |${Twa.sql(DAY, 0L, Some(T0), Some(T31), seriesPred(oneSeries),
                    Some("value >= 50.0 AND value <= 200.0"))})""".stripMargin),
    // EMPTY + last -> LOCF (reference: compaction.c:115-140)
    Q("ts_range_empty_locf", (s, dir) => {
      RangeQuery.range(one(s, dir, Some(T0), Some(T31)), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("last"), bucketMs = 6 * HOUR, empty = true))
    },
      locfOracle(TSModel.samplesCte, 6 * HOUR, T0, T31, s"series = '$oneSeries'")),
    // ---- multi-series surface (SURVEY §2.5/§2.7) ----
    // TS.QUERYINDEX (reference: module.c:299-337)
    Q("ts_queryindex", (s, dir) =>
      Multi.queryIndex(TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=click"), Multi.parsePred("user!=(1,2,3)"))),
      s"""WITH ${Multi.labelsCte}
         |SELECT series FROM series_labels
         |WHERE "type" = 'click' AND "user" NOT IN ('1', '2', '3')""".stripMargin),
    // TS.MGET with label filter (reference: module.c:2132-2265)
    Q("ts_mget", (s, dir) =>
      Multi.mget(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=purchase"))),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}
         |SELECT series, (max(struct_pack(t := ts, v := value))).t AS ts,
         |       (max(struct_pack(t := ts, v := value))).v AS value
         |FROM samples JOIN series_labels USING (series)
         |WHERE "type" = 'purchase' GROUP BY series""".stripMargin),
    // TS.GET (reference: module.c:1566-1607)
    Q("ts_get", (s, dir) =>
      Multi.get(one(s, dir), oneSeries),
      s"""${TSModel.samplesCte}
         |SELECT series, (max(struct_pack(t := ts, v := value))).t AS ts,
         |       (max(struct_pack(t := ts, v := value))).v AS value
         |FROM samples WHERE series = '$oneSeries' GROUP BY series""".stripMargin),
    // TS.MRANGE with label filter + per-series agg (reference: module.c:624-688)
    Q("ts_mrange_filtered", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view)"), Multi.parsePred("user=(1,2,3,4,5,6,7)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("max"), bucketMs = 2 * DAY)),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, matched AS (
         |  SELECT series FROM series_labels
         |  WHERE "type" IN ('click','view') AND "user" IN ('1','2','3','4','5','6','7')
         |), agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 2 * DAY)} AS bucket, ${Aggs.sql("max")}
         |  FROM samples JOIN matched USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT series, bucket AS ts, max_value FROM agg WHERE max_value IS NOT NULL""".stripMargin),
    // TS.MRANGE ... COUNT n: the limit applies PER SERIES
    // (reference: reply.c:180-212)
    Q("ts_mrange_count", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"),
          bucketMs = DAY, count = Some(5))),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket, ${Aggs.sql("avg")}
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" IN ('click','view') AND ts >= $T0 AND ts <= $T31
         |  GROUP BY 1, 2
         |) SELECT series, bucket AS ts, avg_value FROM agg
         |  WHERE avg_value IS NOT NULL
         |  QUALIFY row_number() OVER (PARTITION BY series ORDER BY bucket) <= 5""".stripMargin),
    // TS.MRANGE ... LATEST over compaction dests: in-flight bucket
    // visible (reference: query_language.c:646-651, tsdb.c:1468-1501)
    Q("ts_mrange_latest", (s, dir) =>
      Multi.mrangeDest(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=click")),
        Compaction.Rule("avg", DAY), RangeArgs(latest = true)),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         avg(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'click' GROUP BY 1, 2
         |) SELECT series || '_AVG_$DAY' AS series, bucket AS ts, value FROM agg""".stripMargin),
    // full option-stack interplay on a dest read: LATEST surfaces the
    // in-flight bucket, COUNT truncates per series, REVRANGE orders
    // descending — reference applies them in exactly that order
    // (tsdb.c:1468-1501 then reply.c:180-212)
    Q("ts_mrange_latest_count_rev", (s, dir) =>
      Multi.mrangeDest(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=click")),
        Compaction.Rule("avg", DAY),
        RangeArgs(latest = true, count = Some(3), reverse = true)),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         avg(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'click' GROUP BY 1, 2
         |) SELECT series || '_AVG_$DAY' AS series, bucket AS ts, value FROM agg
         |  QUALIFY row_number() OVER (PARTITION BY series ORDER BY bucket DESC) <= 3""".stripMargin),
    // same read WITHOUT the flag: the in-flight bucket must be absent
    Q("ts_mrange_nolatest", (s, dir) =>
      Multi.mrangeDest(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=click")),
        Compaction.Rule("avg", DAY), RangeArgs(latest = false)),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         avg(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'click' GROUP BY 1, 2
         |) SELECT series || '_AVG_$DAY' AS series, bucket AS ts, value
         |  FROM (SELECT *, max(bucket) OVER (PARTITION BY series) AS maxb FROM agg)
         |  WHERE bucket < maxb""".stripMargin),
    // TS.MGET ... LATEST (reference: module.c:2132-2265 latest path)
    Q("ts_mget_latest", (s, dir) =>
      Multi.mgetDest(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=purchase")),
        Compaction.Rule("max", DAY), latest = true),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         max(value) FILTER (WHERE NOT isnan(value)) AS value
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'purchase' GROUP BY 1, 2
         |) SELECT series || '_MAX_$DAY' AS series,
         |         (max(struct_pack(t := bucket, v := value))).t AS ts,
         |         (max(struct_pack(t := bucket, v := value))).v AS value
         |  FROM agg GROUP BY 1""".stripMargin),
    // TS.MRANGE GROUPBY label REDUCE (reference: module.c:467-526)
    Q("ts_mrange_groupby", (s, dir) =>
      Multi.mrangeGroupBy(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view,purchase,signup,error)"),
          Multi.parsePred("type!=")), // list match + CONTAINS
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = DAY),
        groupByLabel = "type", reducer = "sum"),
      groupByTypeSumOracle),
    // streaming GROUPBY REDUCE: the same two-level reduction as a
    // continuous stateful query over the staged event replay —
    // update-mode log sink, merge-on-read; final state hash-matches
    // the batch operator's oracle
    Q("ts_mrange_groupby_stream", (s, dir) =>
      graft.ts.StreamGroupBy.mrangeGroupByStreamOnce(s, dir,
        Seq(Multi.parsePred("type=(click,view,purchase,signup,error)"),
          Multi.parsePred("type!=")),
        groupByLabel = "type", agg = "avg", reducer = "sum",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31),
        sinkDir = graft.Scratch.dir("graft_sgb_")
          .resolve("log").toString),
      groupByTypeSumOracle),
    // GROUPBY with a statistics-family reducer (std.p): reducer set =
    // the aggregator classes minus first/last/twa (reference:
    // query_language.c:825-841)
    Q("ts_mrange_groupby_std", (s, dir) =>
      Multi.mrangeGroupBy(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = 2 * DAY),
        groupByLabel = "user", reducer = "std.p"),
      groupByUserStdOracle),
    // streaming twin of the std.p reducer: the widened composable
    // partial set ((Σv, Σv², n) per series, reference accumulator
    // compaction.c:461-553) run live; shares the batch oracle
    Q("ts_mrange_groupby_std_stream", (s, dir) =>
      graft.ts.StreamGroupBy.mrangeGroupByStreamOnce(s, dir,
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        groupByLabel = "user", agg = "avg", reducer = "std.p",
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31),
        sinkDir = graft.Scratch.dir("graft_sgbs_")
          .resolve("log").toString),
      groupByUserStdOracle),
    // GROUPBY with per-series TWA aggregation: legal per the
    // reference (twa is forbidden only as the cross-series REDUCER,
    // query_language.c:825-841); round-9 output (stacked float
    // reductions — trapezoid integral, then the reduce)
    Q("ts_mrange_groupby_twa", (s, dir) =>
      Multi.mrangeGroupBy(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("twa"), bucketMs = DAY),
        groupByLabel = "type", reducer = "avg")
        .select(col("series"), col("ts"),
          round(col("twa_value"), 9).as("twa_value")),
      // per-series TWA then cross-series reduce: Twa.sql (the full
      // boundary-interpolation oracle) as the per-series leg, the usual
      // label-join reduce on top; round-9 both sides. Batch query and
      // streaming twin share this verbatim.
      mrangeGroupByTwaOracle),
    // streaming twin of per-series TWA: boundary-free partials per
    // (series, bucket) in state, boundary interpolation + reduce at
    // read time (the streaming-compaction TWA decomposition applied
    // to GROUPBY); shares the batch oracle
    Q("ts_mrange_groupby_twa_stream", (s, dir) =>
      graft.ts.StreamGroupBy.mrangeGroupByTwaStreamOnce(s, dir,
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        groupByLabel = "type", reducer = "avg",
        bucketMs = DAY, fromMs = Some(T0), toMs = Some(T31),
        sinkDir = graft.Scratch.dir("graft_sgbt_")
          .resolve("log").toString),
      mrangeGroupByTwaOracle),
    // GROUPBY over EMPTY-filled per-series buckets: the reference
    // fills each series' gaps FIRST (per-series AGGREGATION pipeline
    // incl. EMPTY, module.c:467-526), then reduces across series —
    // so a filled 0-bucket participates in the cross-series sum
    Q("ts_mrange_groupby_empty", (s, dir) =>
      Multi.mrangeGroupBy(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("sum"),
          bucketMs = DAY, empty = true),
        groupByLabel = "type", reducer = "sum"),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket,
         |         sum(value) FILTER (WHERE NOT isnan(value)) AS v
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 AND "type" IN ('click','view')
         |  GROUP BY 1, 2
         |), bounds AS (
         |  SELECT series, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1
         |), spine AS (
         |  SELECT series, unnest(generate_series(lo, hi, $DAY)) AS bucket FROM bounds
         |), filled AS (
         |  SELECT spine.series, spine.bucket, coalesce(v, 0.0) AS v
         |  FROM spine LEFT JOIN agg USING (series, bucket)
         |)
         |SELECT 'type=' || "type" AS series, bucket AS ts,
         |       coalesce(sum(v) FILTER (WHERE NOT isnan(v)), 'NaN'::DOUBLE) AS sum_value
         |FROM filled JOIN series_labels USING (series)
         |GROUP BY 1, 2""".stripMargin),
    // GROUPBY with MULTIPLE per-series aggregators, each reduced in
    // lockstep across the group (reference: reply.c:291-358 replays N
    // aggregators through replyGroupedMultiRange module.c:467-526)
    Q("ts_mrange_groupby_multi", (s, dir) =>
      Multi.mrangeGroupBy(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("min", "max"), bucketMs = 2 * DAY),
        groupByLabel = "type", reducer = "sum"),
      groupByTypeMinMaxOracle),
    // streaming twin of the N-aggregator lockstep reduce: every agg
    // finalizes from the SAME per-series partials; shares the batch
    // oracle
    Q("ts_mrange_groupby_multi_stream", (s, dir) =>
      graft.ts.StreamGroupBy.mrangeGroupByStreamMultiOnce(s, dir,
        Seq(Multi.parsePred("type=(click,view,purchase)")),
        groupByLabel = "type", aggs = Seq("min", "max"), reducer = "sum",
        bucketMs = 2 * DAY, fromMs = Some(T0), toMs = Some(T31),
        sinkDir = graft.Scratch.dir("graft_sgbm_")
          .resolve("log").toString),
      groupByTypeMinMaxOracle),
    // WITHLABELS/SELECTED_LABELS (reference: reply.c:219-272)
    Q("ts_mrange_withlabels", (s, dir) => {
      val per = Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("user=(1,2,3)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = 7 * DAY))
      per.join(broadcast(TSModel.labels(s, dir)), Seq("series"))
        .select(col("series"), col("ts"), col("avg_value"),
          element_at(col("labels"), "type").as("label_type"),
          element_at(col("labels"), "user").as("label_user"))
    },
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, matched AS (
         |  SELECT series, "type", "user" FROM series_labels WHERE "user" IN ('1','2','3')
         |), agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 7 * DAY)} AS bucket, ${Aggs.sql("avg")}
         |  FROM samples JOIN matched USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT series, bucket AS ts, avg_value,
         |         "type" AS label_type, "user" AS label_user
         |  FROM agg JOIN matched USING (series) WHERE avg_value IS NOT NULL""".stripMargin),
    // SELECTED_LABELS with an ABSENT label (VERDICT r04 missing #3;
    // reference reply.c:219-272: a selected label missing on a series
    // replies null). The fixture's two labels are always present, so
    // an optional third label is planted on the user%3==0 subset —
    // the null label_tier rows discriminate.
    Q("ts_mrange_selected_labels", (s, dir) => {
      val tiered = tieredLabels(s, dir)
      val per = Multi.mrange(TSModel.samples(s, dir), tiered,
        Seq(Multi.parsePred("user=(1,2,3,4,5,6)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = 7 * DAY))
      per.join(broadcast(tiered), Seq("series"))
        .select(col("series"), col("ts"), col("avg_value"),
          element_at(col("labels"), "user").as("label_user"),
          element_at(col("labels"), "tier").as("label_tier"))
    },
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, matched AS (
         |  SELECT series, "user",
         |         CASE WHEN CAST("user" AS INT) % 3 = 0 THEN 'gold' END AS tier
         |  FROM series_labels WHERE "user" IN ('1','2','3','4','5','6')
         |), agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 7 * DAY)} AS bucket, ${Aggs.sql("avg")}
         |  FROM samples JOIN matched USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT series, bucket AS ts, avg_value,
         |         "user" AS label_user, tier AS label_tier
         |  FROM agg JOIN matched USING (series) WHERE avg_value IS NOT NULL""".stripMargin),
    // TS.NRANGE pivot (snapshot-specific; reference: module.c:724-906)
    Q("ts_nrange_pivot", (s, dir) =>
      Multi.nrange(TSModel.samples(s, dir), Seq("click_1", "click_2", "click_3"),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = DAY)),
      nrangePivotOracle),
    // TS.NRANGE with per-key aggregator specs (snapshot-specific;
    // reference: module.c:770-850)
    Q("ts_nrange_per_key_aggs", (s, dir) =>
      Multi.nrangeSpecs(TSModel.samples(s, dir),
        Seq("click_1" -> Seq("avg"), "click_2" -> Seq("max"), "click_3" -> Seq("count")),
        RangeArgs(from = Some(T0), to = Some(T31), bucketMs = 2 * DAY)),
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 2 * DAY)} AS bucket,
         |         ${Aggs.sql("avg")}, ${Aggs.sql("max")}, ${Aggs.sql("count")}
         |  FROM samples WHERE series IN ('click_1','click_2','click_3')
         |    AND ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT bucket AS ts,
         |    coalesce(max(avg_value) FILTER (WHERE series = 'click_1'), 'NaN'::DOUBLE) AS click_1_avg,
         |    coalesce(max(max_value) FILTER (WHERE series = 'click_2'), 'NaN'::DOUBLE) AS click_2_max,
         |    coalesce(max(CAST(count_value AS DOUBLE)) FILTER (WHERE series = 'click_3'), 'NaN'::DOUBLE) AS click_3_count
         |  FROM agg GROUP BY 1""".stripMargin),
    // TS.NREVRANGE: same pivot, descending ts (reference:
    // module.c:724-906 reverse flag) — row SET must equal the
    // ascending oracle's
    Q("ts_nrange_pivot_rev", (s, dir) =>
      Multi.nrange(TSModel.samples(s, dir), Seq("click_1", "click_2", "click_3"),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("avg"), bucketMs = DAY,
          reverse = true)),
      nrangePivotOracle),
    // TS.QUERYLABELS VALUES (snapshot-specific; reference: module.c:339-465)
    Q("ts_querylabels_values", (s, dir) =>
      Multi.queryLabelValues(TSModel.labels(s, dir), "type"),
      s"""WITH ${Multi.labelsCte}
         |SELECT DISTINCT "type" AS value FROM series_labels""".stripMargin),
    // TS.QUERYLABELS LABELS
    Q("ts_querylabels_names", (s, dir) =>
      Multi.queryLabelNames(TSModel.labels(s, dir)),
      "SELECT unnest(['type', 'user']) AS label"),
    // TS.QUERYLABELS VALUES with FILTER: values present among the
    // matched series only (reference: module.c:339-465)
    Q("ts_querylabels_values_filtered", (s, dir) =>
      Multi.queryLabelValues(TSModel.labels(s, dir), "user",
        Seq(Multi.parsePred("type=purchase"), Multi.parsePred("user=(1,2,3,4)"))),
      s"""WITH ${Multi.labelsCte}
         |SELECT DISTINCT "user" AS value FROM series_labels
         |WHERE "type" = 'purchase' AND "user" IN ('1','2','3','4')""".stripMargin),
    // TS.QUERYLABELS LABELS with FILTER (reference: module.c:339-465)
    Q("ts_querylabels_names_filtered", (s, dir) =>
      Multi.queryLabelNames(TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=click"), Multi.parsePred("user=(1,2,3)"))),
      // derived from series_labels under the SAME predicates (not the
      // hardcoded unfiltered answer — ADVICE r02)
      s"""WITH ${Multi.labelsCte}
         |SELECT DISTINCT label FROM (
         |  SELECT unnest(['type', 'user']) AS label FROM series_labels
         |  WHERE "type" = 'click' AND "user" IN ('1','2','3')
         |)""".stripMargin),
    // FILTER matching NO series must yield NO label names — the
    // discriminating case for the filter path (ADVICE r02: with every
    // fixture series carrying both labels, a positive match can't
    // tell a broken filter from a working one)
    Q("ts_querylabels_names_nomatch", (s, dir) =>
      Multi.queryLabelNames(TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=tombstone"))),
      s"""WITH ${Multi.labelsCte}
         |SELECT DISTINCT label FROM (
         |  SELECT unnest(['type', 'user']) AS label FROM series_labels
         |  WHERE "type" = 'tombstone'
         |)""".stripMargin),
    // TS.INFO (reference: module.c:156-280)
    Q("ts_info", (s, dir) =>
      Multi.info(TSModel.samples(s, dir)),
      s"""${TSModel.samplesCte}
         |SELECT series, count(value) AS total_samples,
         |       min(ts) AS first_timestamp, max(ts) AS last_timestamp,
         |       (max(struct_pack(t := ts, v := value))).v AS last_value
         |FROM samples GROUP BY series""".stripMargin),
    // TS.INFO full field set: retention-net counts, chunk/memory
    // model, config echo (reference: module.c:156-280)
    Q("ts_info_full", (s, dir) =>
      Multi.infoFull(TSModel.samples(s, dir), retentionMs = 10 * DAY,
        chunkSizeBytes = 4096L, duplicatePolicy = "last"),
      s"""${TSModel.samplesCte}, clamped AS (
         |  SELECT series, ts, value FROM (
         |    SELECT series, ts, value, max(ts) OVER (PARTITION BY series) AS last_ts
         |    FROM samples
         |  ) WHERE ts >= last_ts - ${10 * DAY}
         |), base AS (
         |  SELECT series, count(value) AS total_samples,
         |         min(ts) AS first_timestamp, max(ts) AS last_timestamp,
         |         (max(struct_pack(t := ts, v := value))).v AS last_value
         |  FROM clamped GROUP BY series
         |)
         |SELECT series, total_samples, first_timestamp, last_timestamp, last_value,
         |       CAST(${10 * DAY} AS BIGINT) AS retention_ms,
         |       (total_samples + 255) // 256 AS chunk_count,
         |       CAST(4096 AS BIGINT) AS chunk_size_bytes,
         |       ((total_samples + 255) // 256) * 4096 AS memory_usage_bytes,
         |       'last' AS duplicate_policy
         |FROM base""".stripMargin),
    // TS.INFO DEBUG per-chunk list (reference: module.c:244-276):
    // chunkSize 128 (legal: 48..1048576, multiple of 8) -> 8 samples
    // per chunk, so real series span multiple chunks
    Q("ts_info_debug", (s, dir) =>
      Multi.infoDebugChunks(TSModel.samples(s, dir), chunkSizeBytes = 128L),
      s"""${TSModel.samplesCte}, rn AS (
         |  SELECT series, ts,
         |         row_number() OVER (PARTITION BY series ORDER BY ts, value) AS rn
         |  FROM samples
         |)
         |SELECT series, CAST((rn - 1) // 8 AS BIGINT) AS chunk_idx,
         |       min(ts) AS start_ts, max(ts) AS end_ts,
         |       count(*) AS n_samples,
         |       CAST(128 AS BIGINT) AS size_bytes,
         |       128.0 / count(*) AS bytes_per_sample
         |FROM rn GROUP BY series, chunk_idx""".stripMargin),
    // TS.MRANGE without AGGREGATION: label-filtered raw samples
    Q("ts_mrange_raw", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=signup"), Multi.parsePred("user=(2,4,6)")),
        RangeArgs(from = Some(T0 + 3 * DAY), to = Some(T0 + 9 * DAY))),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}
         |SELECT series, ts, value FROM samples JOIN series_labels USING (series)
         |WHERE "type" = 'signup' AND "user" IN ('2','4','6')
         |  AND ts >= ${T0 + 3 * DAY} AND ts <= ${T0 + 9 * DAY}""".stripMargin),
    // TS.MRANGE ... EMPTY: the gap-fill spine is computed PER SERIES
    // (each series' lifetime ∩ query range)
    Q("ts_mrange_empty", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=signup"), Multi.parsePred("user=(1,3,5)")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("sum"),
          bucketMs = 12 * HOUR, empty = true)),
      {
        val b = TSModel.bucketStartSql("ts", 12 * HOUR)
        s"""${TSModel.samplesCte}, ${Multi.labelsCte}, matched AS (
           |  SELECT series FROM series_labels
           |  WHERE "type" = 'signup' AND "user" IN ('1','3','5')
           |), agg AS (
           |  SELECT series, $b AS bucket, sum(value) FILTER (WHERE NOT isnan(value)) AS sum_value
           |  FROM samples JOIN matched USING (series)
           |  WHERE ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
           |), spine AS (
           |  SELECT series, unnest(generate_series(min(bucket), max(bucket), ${12 * HOUR})) AS bucket
           |  FROM agg GROUP BY series
           |) SELECT spine.series, spine.bucket AS ts, coalesce(sum_value, 0.0) AS sum_value
           |  FROM spine LEFT JOIN agg USING (series, bucket)""".stripMargin
      }),
    // TS.MREVRANGE: descending multi-series aggregation
    Q("ts_mrevrange", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=error")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("count"),
          bucketMs = 7 * DAY, reverse = true)),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 7 * DAY)} AS bucket, ${Aggs.sql("count")}
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'error' AND ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT series, bucket AS ts, count_value FROM agg""".stripMargin),
    // EXCLUDEEMPTY (snapshot-specific; reference: query_language.c:998-1007):
    // series whose filtered range is empty produce no rows — the
    // value filter empties most series; inner aggregation drops them
    Q("ts_mrange_excludeempty", (s, dir) =>
      Multi.mrange(TSModel.samples(s, dir), TSModel.labels(s, dir),
        Seq(Multi.parsePred("type=view")),
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("max"),
          bucketMs = 31 * DAY, filterByValue = Some((250.0, 10000.0)))),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 31 * DAY)} AS bucket, ${Aggs.sql("max")}
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE "type" = 'view' AND ts >= $T0 AND ts <= $T31
         |    AND value >= 250.0 AND value <= 10000.0
         |  GROUP BY 1, 2
         |) SELECT series, bucket AS ts, max_value FROM agg WHERE max_value IS NOT NULL""".stripMargin),
    // Higher-cardinality series source: orders as (customer, order-date,
    // total) time series — same engine, different table (FIXTURES §2.2)
    Q("ts_orders_mrange_avg", (s, dir) => {
      val samples = ordersSamples(s, dir)
      RangeQuery.range(samples, RangeArgs(aggs = Seq("avg", "count"), bucketMs = 28 * DAY))
    },
      s"""$ordersCte, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 28 * DAY)} AS bucket,
         |         ${Aggs.sql("avg")}, ${Aggs.sql("count")}
         |  FROM samples GROUP BY 1, 2
         |) SELECT series, bucket AS ts, avg_value, count_value
         |  FROM agg WHERE avg_value IS NOT NULL OR count_value IS NOT NULL""".stripMargin),
    Q("ts_orders_mget", (s, dir) => {
      val samples = ordersSamples(s, dir)
      samples.groupBy(col("series"))
        .agg(max(struct(col("ts").as("t"), col("value").as("v"))).as("s"))
        .select(col("series"), col("s.t").as("ts"), col("s.v").as("value"))
    },
      s"""$ordersCte
         |SELECT series, (max(struct_pack(t := ts, v := value))).t AS ts,
         |       (max(struct_pack(t := ts, v := value))).v AS value
         |FROM samples GROUP BY series""".stripMargin),
    // TS.READ cursor read (snapshot-specific; reference: module.c:1609-2130)
    Q("ts_read_cursor", (s, dir) =>
      Read.cursor(one(s, dir, Some(T0 + 15 * DAY)), oneSeries,
        cursorTs = T0 + 15 * DAY, maxCount = 50),
      s"""${TSModel.samplesCte}
         |SELECT series, ts, value FROM samples
         |WHERE series = '$oneSeries' AND ts >= ${T0 + 15 * DAY}
         |ORDER BY ts LIMIT 50""".stripMargin),
    // TS.READ from the `-` sentinel bounded by MAX_COUNT
    // (reference: module.c:1609-2130 max_count clamp)
    Q("ts_read_max_count", (s, dir) => {
      val samples = one(s, dir)
      Read.cursor(samples, oneSeries,
        cursorTs = Read.resolveCursor(samples, oneSeries, "-"), maxCount = 25)
    },
      s"""${TSModel.samplesCte}
         |SELECT series, ts, value FROM samples
         |WHERE series = '$oneSeries' AND ts >= 0
         |ORDER BY ts LIMIT 25""".stripMargin),
    // whole-operator SQL: TS.RANGE itself as a registered
    // table-valued function (injectTableFunction) — the builder
    // splices the engine's own DataFrame plan into the calling SQL
    // statement at analysis time, so SQL users get the identical
    // code path (and Catalyst optimizes it like any subquery)
    Q("ts_sql_tvf_range",
      viaSql(Samples)(s"SELECT * FROM ts_range('$oneSeries', $T0, $T31, 'max', ${2 * DAY}, $HOUR)"),
      RangeQuery.rangeSql(
        RangeArgs(from = Some(T0), to = Some(T31), aggs = Seq("max"),
          bucketMs = 2 * DAY, alignMs = HOUR),
        Some(s"series = '$oneSeries'"))),
    // TS.MRANGE as a TVF: reference FILTER predicate syntax in the
    // first argument, label resolution + per-series aggregation by
    // the same Multi.mrange plan the Column API uses
    Q("ts_sql_tvf_mrange",
      viaSql(Samples, Labels)(
        s"SELECT * FROM ts_mrange('type=click user=(2,4,6)', $T0, $T31, 'max', ${3 * DAY})"),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, matched AS (
         |  SELECT series FROM series_labels
         |  WHERE "type" = 'click' AND "user" IN ('2','4','6')
         |), agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 3 * DAY)} AS bucket, ${Aggs.sql("max")}
         |  FROM samples JOIN matched USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT series, bucket AS ts, max_value FROM agg WHERE max_value IS NOT NULL""".stripMargin),
    // source adapter end-to-end: canonical samples dumped to CSV,
    // re-normalized by Sources.fromCsv (declared ms unit + epoch
    // guard), then run through the ordinary range pipeline — the
    // oracle reads the ORIGINAL parquet, so the whole round trip
    // (write, declared-schema read, unit dispatch) hash-checks
    Q("ts_source_csv_range", (s, dir) => {
      val tmp = graft.Scratch.dir("graft_src_q_").toString
      TSModel.samples(s, dir)
        .select(col("series").as("k"), col("ts").as("t"), col("value").as("v"))
        .write.option("header", "true").mode("overwrite").csv(tmp)
      val src = Sources.requireEpochWindow(
        Sources.fromCsv(s, tmp, "k", "t", "v", Sources.Millis),
        1600000000000L, 1800000000000L)
      RangeQuery.range(src.filter(col("series") === oneSeries),
        RangeArgs(from = Some(T0), to = Some(T31),
          aggs = Seq("avg", "count"), bucketMs = 3 * DAY))
    },
      RangeQuery.rangeSql(
        RangeArgs(from = Some(T0), to = Some(T31),
          aggs = Seq("avg", "count"), bucketMs = 3 * DAY),
        Some(s"series = '$oneSeries'"))),
    // TS.MGET through the TVF surface (left-join null-row contract
    // identical to ts_mget's Column route)
    Q("ts_sql_tvf_mget", viaSql(Samples, Labels)("SELECT * FROM ts_mget('user=(1,3,5)')"),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}
         |SELECT series, (max(struct_pack(t := ts, v := value))).t AS ts,
         |       (max(struct_pack(t := ts, v := value))).v AS value
         |FROM samples JOIN series_labels USING (series)
         |WHERE "user" IN ('1','3','5') GROUP BY series""".stripMargin),
    // TS.NRANGE through the TVF surface (explicit key list, pivot)
    Q("ts_sql_tvf_nrange",
      viaSql(Samples)(
        s"SELECT * FROM ts_nrange('click_2 click_4 view_1', $T0, $T31, 'sum', ${2 * DAY})"),
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 2 * DAY)} AS bucket, ${Aggs.sql("sum")}
         |  FROM samples WHERE series IN ('click_2','click_4','view_1')
         |    AND ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
         |) SELECT bucket AS ts,
         |    coalesce(max(sum_value) FILTER (WHERE series = 'click_2'), 'NaN'::DOUBLE) AS click_2,
         |    coalesce(max(sum_value) FILTER (WHERE series = 'click_4'), 'NaN'::DOUBLE) AS click_4,
         |    coalesce(max(sum_value) FILTER (WHERE series = 'view_1'), 'NaN'::DOUBLE) AS view_1
         |  FROM agg WHERE sum_value IS NOT NULL GROUP BY 1""".stripMargin),
    // 7-arg TVF form: TS.MRANGE ... GROUPBY label REDUCE reducer
    Q("ts_sql_tvf_mrange_groupby",
      viaSql(Samples, Labels)(
        s"SELECT * FROM ts_mrange('type=(click,view)', $T0, $T31, 'avg', ${7 * DAY}, 'type', 'max')"),
      s"""${TSModel.samplesCte}, ${Multi.labelsCte}, per AS (
         |  SELECT series, ${TSModel.bucketStartSql("ts", 7 * DAY)} AS bucket, ${Aggs.sql("avg")}
         |  FROM samples JOIN series_labels USING (series)
         |  WHERE ts >= $T0 AND ts <= $T31 AND "type" IN ('click','view')
         |  GROUP BY 1, 2
         |) SELECT 'type=' || "type" AS series, bucket AS ts,
         |         coalesce(max(avg_value) FILTER (WHERE NOT isnan(avg_value)), 'NaN'::DOUBLE) AS avg_value
         |  FROM per JOIN series_labels USING (series)
         |  WHERE avg_value IS NOT NULL GROUP BY 1, 2""".stripMargin),
    // the engine's bucket arithmetic (ts_bucket = the reference's
    // CalcBucketStart) registered as a SQL function and driven from
    // pure SQL text over the samples view — a user can express a
    // bucketed range aggregation without touching the Column API
    Q("ts_sql_range_agg", viaSql(View("graft_sql_samples", TSModel.samples))(
      s"""SELECT series, ts_bucket(ts, ${6 * HOUR}L, ${HOUR}L) AS bucket,
         |       avg(value) AS avg_value, max(value) AS max_value,
         |       count(value) AS cnt
         |FROM graft_sql_samples
         |WHERE NOT isnan(value) AND ts BETWEEN $T0 AND ${T0 + 7 * DAY}
         |  AND series LIKE 'click%'
         |GROUP BY series, bucket
         |ORDER BY series, bucket""".stripMargin),
      s"""${TSModel.samplesCte}
         |SELECT series, ${TSModel.bucketStartSql("ts", 6 * HOUR, HOUR)} AS bucket,
         |       avg(value) AS avg_value, max(value) AS max_value,
         |       count(value) AS cnt
         |FROM samples
         |WHERE NOT isnan(value) AND ts BETWEEN $T0 AND ${T0 + 7 * DAY}
         |  AND series LIKE 'click%'
         |GROUP BY series, bucket""".stripMargin),
    // GROUPBY with per-series TWA through the SQL surface: the
    // existing ts_mrange TVF 7-arg form takes any RangeArgs agg, so
    // the round-12 capability needs no new function — this query
    // pins the route end-to-end against the shared oracle
    Q("ts_sql_tvf_mrange_groupby_twa", viaSql(Samples, Labels)(
      s"""SELECT series, ts, round(twa_value, 9) AS twa_value
         |FROM ts_mrange('type=(click,view,purchase)', $T0, $T31,
         |               'twa', $DAY, 'type', 'avg')""".stripMargin),
      mrangeGroupByTwaOracle),
  )

  /** GROUPBY type REDUCE sum over per-series daily avg — the batch
    * operator and its streaming twin (whose final merged sink must land
    * on the exact same relation) share it verbatim. */
  private val groupByTypeSumOracle: String =
    s"""${TSModel.samplesCte}, ${Multi.labelsCte}, per AS (
       |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket, ${Aggs.sql("avg")}
       |  FROM samples JOIN series_labels USING (series)
       |  WHERE ts >= $T0 AND ts <= $T31
       |    AND "type" IN ('click','view','purchase','signup','error')
       |  GROUP BY 1, 2
       |) SELECT 'type=' || "type" AS series, bucket AS ts,
       |         coalesce(sum(avg_value) FILTER (WHERE NOT isnan(avg_value)), 'NaN'::DOUBLE) AS avg_value
       |  FROM per JOIN series_labels USING (series)
       |  WHERE avg_value IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** GROUPBY user REDUCE std.p over per-series 2-day avg, shared
    * verbatim by the batch operator and its streaming twin. */
  private val groupByUserStdOracle: String =
    s"""${TSModel.samplesCte}, ${Multi.labelsCte}, per AS (
       |  SELECT series, ${TSModel.bucketStartSql("ts", 2 * DAY)} AS bucket, ${Aggs.sql("avg")}
       |  FROM samples JOIN series_labels USING (series)
       |  WHERE ts >= $T0 AND ts <= $T31
       |    AND "type" IN ('click','view','purchase')
       |  GROUP BY 1, 2
       |) SELECT 'user=' || "user" AS series, bucket AS ts,
       |         coalesce(stddev_pop(avg_value) FILTER (WHERE NOT isnan(avg_value)), 'NaN'::DOUBLE) AS avg_value
       |  FROM per JOIN series_labels USING (series)
       |  WHERE avg_value IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** GROUPBY type REDUCE sum over per-series 2-day min and max in
    * lockstep, shared verbatim by the batch operator and its streaming
    * twin. */
  private val groupByTypeMinMaxOracle: String =
    s"""${TSModel.samplesCte}, ${Multi.labelsCte}, per AS (
       |  SELECT series, ${TSModel.bucketStartSql("ts", 2 * DAY)} AS bucket,
       |         ${Aggs.sql("min")}, ${Aggs.sql("max")}
       |  FROM samples JOIN series_labels USING (series)
       |  WHERE ts >= $T0 AND ts <= $T31
       |    AND "type" IN ('click','view','purchase')
       |  GROUP BY 1, 2
       |) SELECT 'type=' || "type" AS series, bucket AS ts,
       |         coalesce(sum(min_value) FILTER (WHERE NOT isnan(min_value)), 'NaN'::DOUBLE) AS min_value,
       |         coalesce(sum(max_value) FILTER (WHERE NOT isnan(max_value)), 'NaN'::DOUBLE) AS max_value
       |  FROM per JOIN series_labels USING (series)
       |  WHERE min_value IS NOT NULL OR max_value IS NOT NULL
       |  GROUP BY 1, 2""".stripMargin

  /** Daily-avg pivot of click_1..3. The driver compare is
    * order-insensitive, so the ascending oracle also pins the row SET of
    * the reverse (NREVRANGE) variant. */
  private val nrangePivotOracle: String =
    s"""${TSModel.samplesCte}, agg AS (
       |  SELECT series, ${TSModel.bucketStartSql("ts", DAY)} AS bucket, ${Aggs.sql("avg")}
       |  FROM samples WHERE series IN ('click_1','click_2','click_3')
       |    AND ts >= $T0 AND ts <= $T31 GROUP BY 1, 2
       |) SELECT bucket AS ts,
       |    coalesce(max(avg_value) FILTER (WHERE series = 'click_1'), 'NaN'::DOUBLE) AS click_1,
       |    coalesce(max(avg_value) FILTER (WHERE series = 'click_2'), 'NaN'::DOUBLE) AS click_2,
       |    coalesce(max(avg_value) FILTER (WHERE series = 'click_3'), 'NaN'::DOUBLE) AS click_3
       |  FROM agg WHERE avg_value IS NOT NULL GROUP BY 1""".stripMargin

  /** FILTER_BY_TS needs literal timestamps that exist in the data, which
    * differ per SF: derive the (<=128, reference: query_language.h:53)
    * list deterministically from the series' first samples. The collect
    * is bounded by the 128-literal contract, so it stays O(1) at any
    * scale. The oracle derives the identical list in SQL. */
  private def filterTsList(s: SparkSession, dir: String): Seq[Long] = {
    one(s, dir)
      .orderBy(col("ts")).limit(120)
      .select(col("ts")).collect().map(_.getLong(0)).toSeq
      .zipWithIndex.filter(_._2 % 3 == 0).map(_._1)
  }

  private val filterTsListSql: String =
    s"""SELECT ts FROM (
       |  SELECT ts, row_number() OVER (ORDER BY ts) - 1 AS rn
       |  FROM samples WHERE series = '$oneSeries' ORDER BY ts LIMIT 120
       |) WHERE rn % 3 = 0""".stripMargin

  /** Fixture labels plus an OPTIONAL `tier` label on the user%3==0
    * subset (ts_mrange_selected_labels: absent labels must reply
    * null). */
  private def tieredLabels(s: SparkSession, dir: String): DataFrame =
    TSModel.labels(s, dir).select(col("series"),
      when(element_at(col("labels"), "user").cast("int") % 3 === 0,
        map_concat(col("labels"), map(lit("tier"), lit("gold"))))
        .otherwise(col("labels")).as("labels"))

  /** Orders as a second samples source: one series per customer. */
  private def ordersSamples(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
      .select(
        concat(lit("cust_"), col("o_custkey")).as("series"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ts"), // NTZ -> UTC instant
        col("o_totalprice").as("value"))

  private val ordersCte: String =
    """WITH samples AS (
      |  SELECT 'cust_' || CAST(o_custkey AS VARCHAR) AS series,
      |         epoch_ms(o_orderdate) AS ts, o_totalprice AS value
      |  FROM orders
      |)""".stripMargin

  /** Shared oracle for the batch + streaming GROUPBY-with-per-series-TWA
    * queries: [[Twa.sql]] (full boundary-interpolation semantics, range
    * edges clipped, neighbours outside [from, to] visible) as the
    * per-series leg, then the standard label-join reduce; round-9 on
    * the output (trapezoid integral then reduce = stacked float
    * reductions). */
  private def mrangeGroupByTwaOracle: String = {
    val matched =
      """series IN (SELECT series FROM series_labels WHERE "type" IN ('click','view','purchase'))"""
    s"""WITH ${Multi.labelsCte}, per AS (
       |${Twa.sql(DAY, 0L, Some(T0), Some(T31), Some(matched),
                  cte = s"${TSModel.samplesCte}, ${Multi.labelsCte}")}
       |)
       |SELECT 'type=' || "type" AS series, bucket AS ts,
       |       round(coalesce(avg(twa_value) FILTER (WHERE NOT isnan(twa_value)), 'NaN'::DOUBLE), 9) AS twa_value
       |FROM per JOIN series_labels USING (series)
       |GROUP BY 1, 2""".stripMargin
  }

  /** EMPTY sum over 6 h buckets of the one series, optionally under
    * FILTER_BY_VALUE. The oracle's spine bounds come from the buckets
    * that still hold value-passing samples, so filtered-out edge
    * buckets are stripped (reference edge-strip semantics,
    * tests/flow/test_ts_range_empty_filter_stress.py). */
  private def emptySumQ(name: String, filter: Option[(Double, Double)]): Q = {
    val b = TSModel.bucketStartSql("ts", 6 * HOUR)
    val valuePred = filter.fold("") { case (lo, hi) => s"\n    AND value >= $lo AND value <= $hi" }
    Q(name, (s, dir) =>
      RangeQuery.range(one(s, dir, Some(T0), Some(T31)), RangeArgs(from = Some(T0), to = Some(T31),
        aggs = Seq("sum"), bucketMs = 6 * HOUR, empty = true, filterByValue = filter)),
      s"""${TSModel.samplesCte}, agg AS (
         |  SELECT series, $b AS bucket, sum(value) FILTER (WHERE NOT isnan(value)) AS sum_value
         |  FROM samples WHERE series = '$oneSeries' AND ts >= $T0 AND ts <= $T31$valuePred GROUP BY 1, 2
         |), spine AS (
         |  SELECT series, unnest(generate_series(min(bucket), max(bucket), ${6 * HOUR})) AS bucket
         |  FROM agg GROUP BY series
         |) SELECT spine.series, spine.bucket AS ts, coalesce(sum_value, 0.0) AS sum_value
         |  FROM spine LEFT JOIN agg USING (series, bucket)""".stripMargin)
  }
}
