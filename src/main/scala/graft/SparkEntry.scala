package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract: every implemented operator from SURVEY.md §2 as one
  * registered query with its DuckDB oracle.
  *
  * A query is declared once, as a [[graft.queries.Q]] record holding its
  * name, its build function `(SparkSession, sfDir) => DataFrame` and the
  * oracle SQL that must reproduce that function's result. The records live in
  * per-family `Seq[Q]` values in `graft.queries` (range/multi, write
  * path and compaction, analytics, LLM pipeline, real-data and RDB
  * goldens) plus the TSBS rows of [[graft.ts.Tsbs.registry]];
  * [[registry]] merges them and fails on a name declared twice.
  * `queries` and `oracleSql` are maps derived once from that registry. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ts_range_agg_avg")(spark, "/root/testdata/sf0.001")

  lazy val registry: Seq[Q] = Q.merge(
    RangeQueries.all, WritePathQueries.all, AnalyticsQueries.all,
    PipelineQueries.all, GoldenQueries.all, graft.ts.Tsbs.registry)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The named queries in the given order, or every query sorted by
    * name when `names` is empty. An unknown name fails with the full
    * list of unknown names instead of silently selecting nothing. */
  def select(names: Seq[String]): Seq[Q] =
    if (names.isEmpty) registry.sortBy(_.name)
    else {
      val byName = registry.map(q => q.name -> q).toMap
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
      names.distinct.map(byName)
    }

  /** `SPARK_GRAFT_ONLY=q1,q2` (Bench and Verify) as a [[select]]
    * argument: empty when unset, i.e. every query. */
  def onlyNames: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
}
