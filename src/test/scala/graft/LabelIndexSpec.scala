package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSessionBridge}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions
import graft.ts.{GltData, TSModel}

/**
 * The label index lives in driver memory, like the reference's posting
 * dicts (indexer.c:132-170): label lookups are answered from driver
 * rows, and a label-filtered query reads its samples once.
 */
class LabelIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTest._

  private val T0 = 1704067200000L
  private val T31 = 1706745599999L

  private def registerViews(): Unit = {
    GraftFunctions.register(spark)
    TSModel.samples(spark, sf).createOrReplaceTempView(GraftFunctions.SamplesView)
    TSModel.labels(spark, sf).createOrReplaceTempView(GraftFunctions.LabelsView)
  }

  test("TSModel.labels and GltData.labels are LocalRelations holding the distinct plan's rows") {
    for (df <- Seq(TSModel.labels(spark, sf), GltData.labels(spark))) {
      val analyzed = df.queryExecution.analyzed
      assert(analyzed.isInstanceOf[LocalRelation], analyzed.treeString)
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val lazyPlan = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("user_id"))
      .distinct()
      .select(
        concat_ws("_", col("event_type"), col("user_id")).as("series"),
        map(lit("type"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
    // set operations reject MAP columns: compare the sorted entries
    def canon(d: DataFrame) =
      d.select(col("series"), array_sort(map_entries(col("labels"))).as("labels"))
    val got = canon(TSModel.labels(spark, sf))
    val want = canon(lazyPlan)
    assert(want.count() > 0)
    assert(got.exceptAll(want).isEmpty, "rows not in the distinct plan")
    assert(want.exceptAll(got).isEmpty, "rows missing from the label index")
  }

  test("ts_queryindex over the registered views fires no Spark job") {
    registerViews()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // drain earlier jobs' events so only the query's jobs are counted
    GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val r = spark.sql("SELECT * FROM ts_queryindex('type=(click,view) user!=3')").collect()
      GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.nonEmpty)
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs for a label-index lookup")
  }

  test("ts_mrange, ts_mget and GROUPBY REDUCE read the samples once") {
    registerViews()
    val queries = Seq(
      s"SELECT * FROM ts_mrange('type=click', $T0, $T31, 'AGGREGATION avg 86400000')",
      "SELECT * FROM ts_mget('type=(click,view)')",
      s"SELECT * FROM ts_mrange('type=(click,view)', $T0, $T31, " +
        "'AGGREGATION max 86400000 GROUPBY user REDUCE sum')")
    for (q <- queries) {
      val df = spark.sql(q)
      assert(df.collect().nonEmpty, q)
      val plan = df.queryExecution.executedPlan
      // one samples leaf: the parquet events scan or the cached series store
      val reads = collectWithSubqueries(plan) {
        case f: FileSourceScanExec => f
        case m: InMemoryTableScanExec => m
      }
      assert(reads.size == 1, s"$q\n$plan")
      // over the fixture's view, that leaf is the store, not the parquet
      assert(collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.isEmpty, s"$q\n$plan")
    }
  }
}
