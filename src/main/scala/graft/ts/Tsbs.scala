package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Q

/**
 * TSBS devops baseline queries — the reference's OWN benchmark
 * surface, re-expressed over this engine's operators so the
 * BASELINE.md rate targets become directly comparable wall-time
 * rows in the bench artifact instead of a carried anchor ratio.
 *
 * The reference's CI benches the TSBS "devops" suite at scale 100
 * (100 hosts × 10 cpu metrics, 10 s cadence) with target request
 * rates encoded in the spec filenames
 * (reference: tests/benchmarks/tsbs-scale100-*.yml, Readme.md:1-25).
 * The TSBS RedisTimeSeries adapter maps each query type onto the
 * module's own commands — single-groupby → TS.MRANGE AGGREGATION MAX
 * FILTER hostname/metric, the -N-host variants → GROUPBY ... REDUCE
 * max, double-groupby → per-series (= per-host) AGGREGATION AVG,
 * high-cpu → MRANGE FILTER_BY_VALUE, lastpoint → TS.MGET — and those
 * are EXACTLY the operators this file composes: every query below is
 * a thin parameterization of [[Multi.mrange]] / [[Multi.mrangeGroupBy]]
 * / [[Multi.mget]] / [[RangeQuery.range]], nothing new.
 *
 * Fixture mapping (deterministic, replicated identically in the
 * DuckDB oracle CTE):
 *  - hostname  = 'host_' || (user_id % 100)          → 100 hosts
 *  - metric    = cpu metric picked by (event_type, user_id DIV 100)
 *                parity → the 10 TSBS cpu metric names
 *  - usage     = fmod(value, 100.0)                  → 0..100 range
 *  - series    = hostname || ':' || metric (one series per
 *                host-metric pair — the reference's TSBS data model,
 *                one Redis key per (host, metric))
 * The fixture's cadence is ~3000× sparser than TSBS's 10 s interval,
 * so the TIME constants scale up (minute→day buckets, hour→day-to-
 * month windows); the query shapes, operator mappings, and label
 * topology (100 hosts × 10 metrics) are the scale100 ones.
 */
object Tsbs {

  /** The 10 TSBS devops cpu metrics, canonical order. */
  val Metrics: Seq[String] = Seq(
    "usage_user", "usage_system", "usage_idle", "usage_nice",
    "usage_iowait", "usage_irq", "usage_softirq", "usage_steal",
    "usage_guest", "usage_guest_nice")

  /** Fixture event types (alphabetical — the deterministic index both
    * engines agree on). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val DAY = 86400000L
  private val HOUR = 3600000L

  /** The 8-host set of the *-8 query variants. */
  val Hosts8: Seq[String] = Seq(5, 11, 23, 42, 57, 68, 83, 99).map(h => s"host_$h")

  /** Devops-shaped samples `(series, ts, value)` over the events
    * fixture: one series per (host, metric), usage in 0..100. The
    * derivation is pure projection — it fuses into the scan (no
    * shuffle, no UDF; at 100 TB this is the storage schema itself and
    * the projection disappears). */
  def cpuSamples(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = TSModel.events(spark, sfDir)
    val etypeIdx = EventTypes.zipWithIndex.tail.foldLeft(
      when(col("event_type") === EventTypes.head, 0)) {
        case (acc, (t, i)) => acc.when(col("event_type") === t, i)
      }
    val metricIdx = etypeIdx * 2 + pmod(expr("user_id DIV 100"), lit(2))
    ev.select(
      concat(lit("host_"), pmod(col("user_id"), lit(100)).cast("string"),
        lit(":"),
        element_at(array(Metrics.map(lit): _*), (metricIdx + 1).cast("int")))
        .as("series"),
      TSModel.tsMsFor(ev.schema("ts").dataType).as("ts"),
      (col("value") % 100.0).as("value"))
  }

  /** Labels frame for the devops view: hostname + metric per series —
    * O(#series) = ≤1000 rows, always broadcast by [[Multi]]. */
  def cpuLabels(spark: SparkSession, sfDir: String): DataFrame =
    cpuSamples(spark, sfDir).select(col("series")).distinct()
      .select(col("series"), map(
        lit("hostname"), substring_index(col("series"), ":", 1),
        lit("metric"), substring_index(col("series"), ":", -1)).as("labels"))

  /** DuckDB twin of the devops view (a CTE named `cpu` with the same
    * (series, hostname, metric, ts, value) columns). */
  val cpuCte: String = {
    val metricList = Metrics.map(m => s"'$m'").mkString("[", ", ", "]")
    val caseE = EventTypes.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN $i" }.mkString(" ")
    s"""WITH cpu AS (
       |  SELECT 'host_' || CAST(user_id % 100 AS VARCHAR) AS hostname,
       |         $metricList[(CASE event_type $caseE END) * 2
       |                     + ((user_id // 100) % 2) + 1] AS metric,
       |         epoch_ms(ts) AS ts, fmod(value, 100.0) AS value
       |  FROM events
       |), samples AS (
       |  SELECT hostname || ':' || metric AS series, hostname, metric, ts, value
       |  FROM cpu
       |)""".stripMargin
  }

  import Multi.{Eq, InSet, LabelPred}
  import RangeQuery.RangeArgs

  private def preds(host: Option[Seq[String]], metric: Seq[String]): Seq[LabelPred] =
    host.map(hs => if (hs.size == 1) Eq("hostname", hs.head)
                   else InSet("hostname", hs)).toSeq ++
    (if (metric.size == Metrics.size) Seq(InSet("metric", metric))
     else if (metric.size == 1) Seq(Eq("metric", metric.head))
     else Seq(InSet("metric", metric)))

  /** single-groupby-M-H-T: bucketed MAX of M metrics over H hosts —
    * per-series for H=1 ([[Multi.mrange]]), cross-host GROUPBY REDUCE
    * for H>1 ([[Multi.mrangeGroupBy]]), exactly the TSBS
    * RedisTimeSeries adapter's command choice. */
  def singleGroupby(
      spark: SparkSession, sfDir: String, nMetrics: Int, hosts: Seq[String],
      fromMs: Long, toMs: Long, bucketMs: Long): DataFrame = {
    val s = cpuSamples(spark, sfDir); val l = cpuLabels(spark, sfDir)
    val args = RangeArgs(from = Some(fromMs), to = Some(toMs),
      aggs = Seq("max"), bucketMs = bucketMs)
    val p = preds(Some(hosts), Metrics.take(nMetrics))
    if (hosts.size == 1) Multi.mrange(s, l, p, args)
    else Multi.mrangeGroupBy(s, l, p, args, groupByLabel = "metric", reducer = "max")
  }

  /** cpu-max-all-H: bucketed MAX of ALL 10 metrics per series. */
  def cpuMaxAll(
      spark: SparkSession, sfDir: String, hosts: Seq[String],
      fromMs: Long, toMs: Long, bucketMs: Long): DataFrame =
    Multi.mrange(cpuSamples(spark, sfDir), cpuLabels(spark, sfDir),
      preds(Some(hosts), Metrics),
      RangeArgs(from = Some(fromMs), to = Some(toMs),
        aggs = Seq("max"), bucketMs = bucketMs))

  /** double-groupby-M: bucketed AVG per (host, metric) series — the
    * per-series MRANGE aggregation IS the (time, host) double group
    * in the one-series-per-host-metric model. */
  def doubleGroupby(
      spark: SparkSession, sfDir: String, nMetrics: Int,
      fromMs: Long, toMs: Long, bucketMs: Long): DataFrame =
    Multi.mrange(cpuSamples(spark, sfDir), cpuLabels(spark, sfDir),
      preds(None, Metrics.take(nMetrics)),
      RangeArgs(from = Some(fromMs), to = Some(toMs),
        aggs = Seq("avg"), bucketMs = bucketMs))

  /** groupby-orderby-limit: last 5 bucketed MAX readings across all
    * hosts before a cutoff — the GROUPBY REDUCE composition plus an
    * ORDER BY bucket DESC LIMIT k tail (a bounded TopK tail, never a
    * full sort at scale: Spark compiles orderBy+limit to TakeOrdered). */
  def groupbyOrderbyLimit(
      spark: SparkSession, sfDir: String, toMs: Long, bucketMs: Long,
      k: Int): DataFrame =
    Multi.mrangeGroupBy(cpuSamples(spark, sfDir), cpuLabels(spark, sfDir),
      preds(None, Seq("usage_user")),
      RangeArgs(to = Some(toMs), aggs = Seq("max"), bucketMs = bucketMs),
      groupByLabel = "metric", reducer = "max")
      .orderBy(col("ts").desc).limit(k)

  /** high-cpu-H: raw samples of usage_user above a threshold — the
    * FILTER_BY_VALUE MRANGE (the TSBS RedisTimeSeries adapter's
    * mapping of this query). */
  def highCpu(
      spark: SparkSession, sfDir: String, hosts: Option[Seq[String]],
      threshold: Double, fromMs: Long, toMs: Long): DataFrame =
    Multi.mrange(cpuSamples(spark, sfDir), cpuLabels(spark, sfDir),
      preds(hosts, Seq("usage_user")),
      RangeArgs(from = Some(fromMs), to = Some(toMs),
        filterByValue = Some((threshold, 100.0))))

  /** lastpoint: latest sample per (host, metric) series — TS.MGET. */
  def lastpoint(spark: SparkSession, sfDir: String): DataFrame =
    Multi.mget(cpuSamples(spark, sfDir), cpuLabels(spark, sfDir),
      Seq(InSet("metric", Metrics)))

  // ---- the registered query set -----------------------------------

  /** The headline TSBS rows, each builder bound to its oracle by one
    * parameter set. Time constants per the sparse-fixture scaling
    * documented above. */
  lazy val registry: Seq[Q] = Seq(
    singleGroupbyQ("tsbs_single_groupby_1_1_1", 1, Seq("host_78"), 31, DAY),
    singleGroupbyQ("tsbs_single_groupby_1_1_12", 1, Seq("host_78"), 13, HOUR),
    singleGroupbyQ("tsbs_single_groupby_1_8_1", 1, Hosts8, 31, DAY),
    singleGroupbyQ("tsbs_single_groupby_5_1_1", 5, Seq("host_78"), 31, DAY),
    singleGroupbyQ("tsbs_single_groupby_5_8_1", 5, Hosts8, 31, DAY),
    cpuMaxAllQ("tsbs_cpu_max_all_1", Seq("host_78")),
    cpuMaxAllQ("tsbs_cpu_max_all_8", Hosts8),
    doubleGroupbyQ("tsbs_double_groupby_1", 1),
    doubleGroupbyQ("tsbs_double_groupby_5", 5),
    doubleGroupbyQ("tsbs_double_groupby_all", Metrics.size),
    Q("tsbs_groupby_orderby_limit",
      (s, d) => groupbyOrderbyLimit(s, d, T0 + 20 * DAY, DAY, 5),
      s"""${groupbyMaxSql(None, 1, None, T0 + 20 * DAY, DAY)}
         |ORDER BY ts DESC LIMIT 5""".stripMargin),
    highCpuQ("tsbs_high_cpu_1", Some("host_78")),
    highCpuQ("tsbs_high_cpu_all", None),
    Q("tsbs_lastpoint", lastpoint,
      s"""$cpuCte
         |SELECT series,
         |  (max(struct_pack(t := ts, v := value))).t AS ts,
         |  (max(struct_pack(t := ts, v := value))).v AS value
         |FROM samples GROUP BY series""".stripMargin),
    Q("tsbs_ingestion", (s, d) => ingestOnce(s, d), ingestSql))

  /** single-groupby over the first `days` of the month: one host is a
    * per-series MAX, several a cross-host GROUPBY REDUCE max. */
  private def singleGroupbyQ(name: String, nMetrics: Int, hosts: Seq[String],
      days: Int, bucketMs: Long): Q = {
    val toMs = T0 + days * DAY - 1
    Q(name, (s, d) => singleGroupby(s, d, nMetrics, hosts, T0, toMs, bucketMs),
      if (hosts.size == 1) maxAggSql(hosts, nMetrics, T0, toMs, bucketMs)
      else groupbyMaxSql(Some(hosts), nMetrics, Some(T0), toMs, bucketMs))
  }

  private def cpuMaxAllQ(name: String, hosts: Seq[String]): Q = {
    val toMs = T0 + 8 * DAY - 1
    Q(name, (s, d) => cpuMaxAll(s, d, hosts, T0, toMs, DAY),
      maxAggSql(hosts, Metrics.size, T0, toMs, DAY))
  }

  private def doubleGroupbyQ(name: String, nMetrics: Int): Q = {
    val toMs = T0 + 12 * DAY - 1
    Q(name, (s, d) => doubleGroupby(s, d, nMetrics, T0, toMs, DAY),
      doubleGroupbySql(nMetrics, T0, toMs, DAY))
  }

  /** high-cpu over one host (`Some`) or every host (`None`). */
  private def highCpuQ(name: String, host: Option[String]): Q = {
    val hostPred = host.map(h => s"hostname = '$h' AND ").getOrElse("")
    Q(name, (s, d) => highCpu(s, d, host.map(Seq(_)), 90.0, T0, T0 + 31 * DAY - 1),
      s"""$cpuCte
         |SELECT series, ts, value FROM samples
         |WHERE ${hostPred}metric = 'usage_user'
         |  AND value >= 90.0 AND value <= 100.0
         |  AND ts >= $T0 AND ts <= ${T0 + 31 * DAY - 1}""".stripMargin)
  }

  private def bkt(durMs: Long) = TSModel.bucketStartSql("ts", durMs)

  private def hostIn(hosts: Seq[String]) =
    hosts.map(h => s"'$h'").mkString("hostname IN (", ", ", ")")

  private[graft] def maxAggSql(hosts: Seq[String], nMetrics: Int,
      fromMs: Long, toMs: Long, bucketMs: Long): String = {
    val metricPred =
      if (nMetrics == 1) "metric = 'usage_user'"
      else Metrics.take(nMetrics).map(m => s"'$m'")
        .mkString("metric IN (", ", ", ")")
    s"""$cpuCte
       |SELECT series, ${bkt(bucketMs)} AS ts, max(value) AS max_value
       |FROM samples
       |WHERE ${hostIn(hosts)} AND $metricPred
       |  AND ts >= $fromMs AND ts <= $toMs AND NOT isnan(value)
       |GROUP BY series, ${bkt(bucketMs)}""".stripMargin
  }

  private[graft] def groupbyMaxSql(hosts: Option[Seq[String]], nMetrics: Int,
      fromMs: Option[Long], toMs: Long, bucketMs: Long): String = {
    val metricPred =
      if (nMetrics == 1) "metric = 'usage_user'"
      else Metrics.take(nMetrics).map(m => s"'$m'")
        .mkString("metric IN (", ", ", ")")
    val hostPred = hosts.map(hs => s"AND ${hostIn(hs)}").getOrElse("")
    val fromPred = fromMs.map(f => s"AND ts >= $f").getOrElse("")
    s"""$cpuCte
       |SELECT 'metric=' || metric AS series, ts, max(max_value) AS max_value
       |FROM (
       |  SELECT series, metric, ${bkt(bucketMs)} AS ts, max(value) AS max_value
       |  FROM samples
       |  WHERE $metricPred $hostPred $fromPred AND ts <= $toMs
       |    AND NOT isnan(value)
       |  GROUP BY series, metric, ${bkt(bucketMs)}
       |)
       |GROUP BY metric, ts""".stripMargin
  }

  /**
   * TSBS devops INGESTION parity (the reference's throughput-mode spec
   * tsbs-devops-ingestion-scale100devices-10metrics-31days.yml,
   * BASELINE.md): replay the whole devops sample stream through the
   * REAL streaming write path ([[Ingest.streamingIngestOnce]] — the
   * TS.ADD/TS.MADD semantics: per-series ordered fold, append log,
   * merge-on-read duplicate resolution) and return the resolved store.
   * The bench row's wall over the sample count is the engine's
   * ingest-rows/sec figure at that scale.
   *
   * Policy MAX is arrival-order independent ONLY when no (series, ts)
   * duplicate group mixes NaN and valid values: the write path's
   * reference fold poisons a NaN-FIRST group to NaN under the
   * combining policies (WritePath.applyDupPolicy), while the DuckDB
   * oracle (a plain grouped max over the devops view, no arrival
   * order to consult) takes the max valid value regardless. The
   * devops fixture satisfies that precondition — zero NaNs at every
   * SF — and TsbsSpec asserts it per-fixture so regeneration drift
   * fails a test instead of silently making this row
   * order-dependent. Source chunks are
   * range-partitioned by ts and replayed oldest-first, one file per
   * trigger — duplicates of one timestamp always share a chunk.
   */
  def ingestOnce(spark: SparkSession, sfDir: String, nChunks: Int = 4): DataFrame = {
    val staged = graft.ReplayStage(cpuSamples(spark, sfDir), Seq(col("ts")), nChunks)
    val sinkDir = graft.Scratch.dir("graft_tsbs_ingest_").resolve("sink").toString
    Ingest.streamingIngestOnce(spark, staged.dir, sinkDir, "MAX")
  }

  private[graft] def ingestSql: String =
    s"""$cpuCte
       |SELECT series, ts,
       |  coalesce(max(value) FILTER (WHERE NOT isnan(value)), 'NaN'::DOUBLE) AS value
       |FROM samples GROUP BY 1, 2""".stripMargin

  private[graft] def doubleGroupbySql(nMetrics: Int,
      fromMs: Long, toMs: Long, bucketMs: Long): String = {
    val metricPred =
      if (nMetrics == 1) "metric = 'usage_user'"
      else Metrics.take(nMetrics).map(m => s"'$m'")
        .mkString("metric IN (", ", ", ")")
    s"""$cpuCte
       |SELECT series, ${bkt(bucketMs)} AS ts, avg(value) AS avg_value
       |FROM samples
       |WHERE $metricPred AND ts >= $fromMs AND ts <= $toMs
       |  AND NOT isnan(value)
       |GROUP BY series, ${bkt(bucketMs)}""".stripMargin
  }
}
