package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSessionBridge}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions
import graft.ts.TSModel

/**
 * The samples table functions read one series-ordered, cached store of
 * the `graft_samples` view ([[TSModel.seriesStore]]), like the
 * reference's per-key chunks: a request scans cached batches, not the
 * parquet source, and the store is built once per source, not once per
 * view registration. The `samples` accessor is the only reader of the
 * view in `GraftFunctions`, so no table function keeps a path of its own.
 */
class SeriesStoreSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTest._

  private val T0 = 1704067200000L
  private val T31 = 1706745599999L

  private def registerViews(): Unit = {
    GraftFunctions.register(spark)
    TSModel.samples(spark, sf).createOrReplaceTempView(GraftFunctions.SamplesView)
    TSModel.labels(spark, sf).createOrReplaceTempView(GraftFunctions.LabelsView)
  }

  /** The executed plan of `q`, after it ran. */
  private def executed(q: String): SparkPlan = {
    val df = spark.sql(q)
    assert(df.collect().nonEmpty, q)
    df.queryExecution.executedPlan
  }

  /** Spark jobs started while `body` runs, with the listener bus
    * drained before and after so only `body`'s jobs count. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("ts_range, ts_get, ts_info and ts_rate scan the cached store, not the parquet source") {
    registerViews()
    for (q <- Seq(
        s"SELECT * FROM ts_range('click_7', $T0, $T31, 'AGGREGATION avg 86400000')",
        "SELECT * FROM ts_get('click_7')",
        "SELECT * FROM ts_info('click_7')",
        s"SELECT * FROM ts_rate($T0, $T31, 86400000)",
        s"SELECT * FROM ts_mrange('type=click', $T0, $T31, 'AGGREGATION avg 86400000')",
        s"SELECT * FROM ts_mrange('type=(click,view)', $T0, $T31, " +
          "'AGGREGATION max 86400000 GROUPBY user REDUCE sum')",
        s"SELECT * FROM ts_mrange('type=(click,view)', $T0, $T31, 'avg', 86400000, 'type', 'max')",
        "SELECT * FROM ts_mget('type=(click,view)')")) {
      val plan = executed(q)
      assert(collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m }.nonEmpty, s"$q\n$plan")
      assert(collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.isEmpty, s"$q\n$plan")
    }
  }

  test("ts_range over the store plans no shuffle") {
    registerViews()
    for (q <- Seq(
        s"SELECT * FROM ts_range('click_7', $T0, $T31)",
        s"SELECT * FROM ts_range('click_7', $T0, $T31, 'AGGREGATION avg 86400000')")) {
      val plan = executed(q)
      assert(collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }.isEmpty, s"$q\n$plan")
    }
  }

  test("re-registering the view over the same source builds no second store") {
    registerViews()
    executed(s"SELECT * FROM ts_range('click_7', $T0, $T31)")
    // a fresh read of the same parquet path, as every SQL-surface query does
    registerViews()
    val jobs = jobsDuring(TSModel.seriesStore(spark.table(GraftFunctions.SamplesView)))
    assert(jobs == 0, s"$jobs Spark jobs to look up an existing store")
  }

  test("a Spark write over the store's source path refreshes it") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("graft_series_store").resolve("samples").toString
    def write(df: DataFrame): Unit = df.write.mode("overwrite").parquet(dir)
    def values(): Seq[Double] =
      spark.sql(s"SELECT value FROM ts_range('k', 0, 100)").collect().map(_.getDouble(0)).toSeq
    write(Seq(("k", 1L, 1.0), ("k", 2L, 2.0), ("j", 1L, 9.0)).toDF("series", "ts", "value"))
    spark.read.parquet(dir).createOrReplaceTempView(GraftFunctions.SamplesView)
    try {
      assert(values() == Seq(1.0, 2.0))
      write(Seq(("k", 1L, 10.0), ("k", 3L, 30.0), ("k", 4L, 40.0)).toDF("series", "ts", "value"))
      assert(values() == Seq(10.0, 30.0, 40.0))
    } finally TSModel.seriesStore(spark.table(GraftFunctions.SamplesView)).unpersist()
  }

  private val SamplesRead = """table\((\w+\.)?SamplesView\)""".r

  /** `path:line` of every read of the samples view in a `.scala` file
    * under `root`, with the line. */
  private def samplesReads(root: Path): Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if SamplesRead.findFirstIn(line).nonEmpty => (s"$p:${i + 1}", line.trim)
        }
      }
    finally files.close()
  }

  test("the samples accessor is the one reader of the samples view in graft.functions") {
    val dir = Paths.get("src/main/scala/graft/functions")
    assume(Files.isDirectory(dir), "src/main not under the working directory")
    val reads = samplesReads(dir)
    assert(reads.size == 1 && reads.head._2.startsWith("private def samples("),
      s"read the samples view through GraftFunctions.samples:\n${reads.map(_._1).mkString("\n")}")
  }

  test("negative control: a second read of the samples view is caught") {
    val dir = Files.createTempDirectory("samples_lint_")
    val copy = dir.resolve("Copy.scala")
    Files.write(copy, Seq(
      "private def samples(spark: SparkSession): DataFrame = TSModel.seriesStore(spark.table(SamplesView))",
      "Multi.mget(s.table(SamplesView), s.table(LabelsView), preds)",
      "spark.table(GraftFunctions.SamplesView)",
      "s.table(LabelsView)").asJava)
    assert(samplesReads(dir).map(_._1) == Seq(s"$copy:1", s"$copy:2", s"$copy:3"))
  }
}
