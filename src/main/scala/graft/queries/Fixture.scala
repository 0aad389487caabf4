package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import graft.functions.GraftFunctions
import graft.pipeline.{Similarity, Text}
import graft.ts.{Catalog, Compaction, RangeQuery, TSModel}
import graft.ts.RangeQuery.RangeArgs

/** Fixture constants and build/oracle helpers shared by more than one
  * query family. */
private[queries] object Fixture {

  type Build = (SparkSession, String) => DataFrame

  // epoch-ms constants for the fixture window (events: Jan 2024, UTC)
  val T0 = 1704067200000L            // 2024-01-01T00:00:00Z
  val T31 = 1706745599999L           // 2024-01-31T23:59:59.999Z
  val HOUR = 3600000L
  val DAY = 86400000L

  val oneSeries = "click_7"
  def seriesPred(s: String) = Some(s"series = '$s'")

  /** The fixture-month samples with the [T0, T31] bounds pushed into
    * the parquet scan in the column's NATIVE type (samplesPruned), so
    * row groups outside the window are skipped at the source. The
    * operators re-apply the same bounds on the derived ms column — a
    * residual no-op filter, kept so their semantics never depend on
    * the caller pre-filtering. */
  def monthSamples(s: SparkSession, dir: String): DataFrame =
    TSModel.samplesPruned(s, dir, fromMs = Some(T0), toMs = Some(T31))

  /** Single-series loader with scan-level pruning. */
  def one(s: SparkSession, dir: String,
      from: Option[Long] = None, to: Option[Long] = None): DataFrame =
    TSModel.samplesPruned(s, dir, Seq(oneSeries), from, to)

  /** A TS.RANGE row: one [[RangeArgs]] drives both the pruned engine
    * read and the oracle (`series = None`: every series at once). */
  def rangeQ(name: String, args: RangeArgs, series: Option[String] = Some(oneSeries)): Q =
    Q(name,
      (s, dir) => RangeQuery.range(
        TSModel.samplesPruned(s, dir, series.toSeq, args.from, args.to), args),
      RangeQuery.rangeSql(args, series.map(k => s"series = '$k'")))

  /** A fixture relation registered under a SQL-surface view name. */
  final case class View(name: String, load: Build)
  val Samples = View(GraftFunctions.SamplesView, TSModel.samples)
  val Labels = View(GraftFunctions.LabelsView, TSModel.labels)
  val Documents = View(GraftFunctions.DocumentsView, Text.loadDocuments)
  val Embeddings = View(GraftFunctions.EmbeddingsView, Similarity.loadEmbeddings)

  /** A query issued as SQL text through the registered SQL surface
    * (`GraftFunctions.register`, idempotent) over `views`, each
    * recreated from the fixture directory on every call. */
  def viaSql(views: View*)(sql: String): Build = (s, dir) => {
    GraftFunctions.register(s)
    views.foreach(v => v.load(s, dir).createOrReplaceTempView(v.name))
    s.sql(sql)
  }

  /** COMPACTION_POLICY end-to-end: the global `policy` string's
    * auto-rules (reference dest naming, labels and retention)
    * materialized over `samples` in ONE source scan, each dest row
    * carrying its rule's aggregation/time_bucket labels and retention. */
  def policyCompaction(samples: DataFrame, policy: String): DataFrame = {
    val metas = Catalog.autoRules(policy, "")
    val rules = metas.map { case (_, rm) =>
      Compaction.Rule(rm.agg, rm.bucketMs, rm.alignMs) }
    // reduceRight: a left fold would call .otherwise on an
    // already-defaulted Column and throw for policies with 3+ rules
    def bySuffix(f: Catalog.SeriesMeta => String) = metas.map { case (meta, _) =>
      when(col("series").endsWith(meta.series), lit(f(meta)))
    }.reduceRight((a, b) => a.otherwise(b))
    Compaction.materializeAll(samples, rules)
      .select(col("series"), col("ts"), col("value"),
        bySuffix(_.labels("aggregation")).as("label_aggregation"),
        bySuffix(_.labels("time_bucket")).as("label_time_bucket"),
        bySuffix(_.retentionMs.toString).cast("long").as("retention_ms"))
  }

  /** One flushed compaction rule as SQL over the `samples` CTE —
    * shared by the compaction and real-data golden oracles. */
  def flushedRuleOracleSql(agg: String, aggSql: String, dur: Long): String =
    s"""SELECT series || '_${agg.toUpperCase}_$dur' AS series, bucket AS ts, value FROM (
       |  SELECT *, max(bucket) OVER (PARTITION BY series) AS maxb FROM (
       |    SELECT series, ${TSModel.bucketStartSql("ts", dur)} AS bucket,
       |           $aggSql AS value
       |    FROM samples GROUP BY 1, 2)
       |) WHERE bucket < maxb""".stripMargin

  /** ONE EMPTY+LOCF oracle shape (agg → per-series spine → LOCF
    * window) for every source — review r05: the lemire variant was a
    * near-verbatim copy that would silently go stale on a semantics
    * fix. `pred` is an optional extra WHERE conjunct ("" for none). */
  def locfOracle(
      cte: String, bucketMs: Long, from: Long, to: Long, pred: String): String = {
    val b = TSModel.bucketStartSql("ts", bucketMs)
    val extra = if (pred.isEmpty) "" else s"$pred AND "
    s"""$cte, agg AS (
       |  SELECT series, $b AS bucket,
       |         (max(struct_pack(t := ts, v := value)) FILTER (WHERE NOT isnan(value))).v AS last_value
       |  FROM samples WHERE ${extra}ts >= $from AND ts <= $to GROUP BY 1, 2
       |), spine AS (
       |  SELECT series, unnest(generate_series(min(bucket), max(bucket), $bucketMs)) AS bucket
       |  FROM agg GROUP BY series
       |) SELECT spine.series, spine.bucket AS ts,
       |         last_value(last_value IGNORE NULLS)
       |           OVER (PARTITION BY spine.series ORDER BY spine.bucket
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_value
       |  FROM spine LEFT JOIN agg USING (series, bucket)""".stripMargin
  }
}
