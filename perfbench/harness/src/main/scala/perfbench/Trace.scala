package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSessionBridge, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's name ("" for an op's root span); every span of an op shares
  * the op id. */
final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side work attributed to one op. Listener callbacks run on the
  * bus thread while the client reads, so every counter is a LongAdder. */
final class OpCounters {
  val buildJobs, execJobs, streamJobs, stages, singleTaskStages, tasks, streamTasks,
      cpuNs, runMs, gcMs, bytesRead, recordsRead,
      shuffleBytes, shuffleRecords, spillBytes = new LongAdder
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
}

/**
 * The traced run's recorder of Spark work (spans stay with each op's
 * context and are written once at the end of the run). Jobs, stages and
 * tasks are attributed to an op through the local properties the client
 * sets around each call: `perfbench.op` (inherited by threads the call
 * starts, such as a stream's execution thread) and the job group
 * `<op>/build` or `<op>/exec`. A stream's own jobs carry its run id as
 * job group and count as stream jobs.
 */
final class Tracer(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageOwner = new ConcurrentHashMap[Integer, (OpCounters, String)]()
  private val runOwner = new ConcurrentHashMap[java.util.UUID, OpCounters]()
  @volatile private var current: OpCounters = null

  private def ownerOf(props: java.util.Properties): (OpCounters, String) = {
    val op = Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
    val c = op.flatMap(o => Option(counters.get(o))).getOrElse(current)
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val phase =
      if (group.endsWith("/build")) "build"
      else if (group.endsWith("/exec")) "exec"
      else "stream"
    (c, phase)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (c, phase) = ownerOf(e.properties)
      if (c != null) {
        phase match {
          case "build"  => c.buildJobs.increment()
          case "exec"   => c.execJobs.increment()
          case _        => c.streamJobs.increment()
        }
        e.stageIds.foreach(s => stageOwner.put(s, (c, phase)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (c, _) =>
        c.stages.increment()
        if (e.stageInfo.numTasks == 1) c.singleTaskStages.increment()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (c, phase) =>
        c.tasks.increment()
        if (phase == "stream") c.streamTasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs.add(m.executorCpuTime)
          c.runMs.add(m.executorRunTime)
          c.gcMs.add(m.jvmGCTime)
          c.bytesRead.add(m.inputMetrics.bytesRead)
          c.recordsRead.add(m.inputMetrics.recordsRead)
          c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
          c.spillBytes.add(m.diskBytesSpilled)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (current != null) runOwner.put(e.runId, current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runOwner.get(e.progress.runId)).orElse(Option(current))
        .foreach(_.progress.add(e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start attributing Spark work to `op`. */
  def begin(op: String): OpCounters = {
    val c = new OpCounters
    counters.put(op, c)
    current = c
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    c
  }

  /** Drain the listener bus so every event of the op is counted, then
    * stop listening. */
  def end(): Unit = {
    GraftSessionBridge.waitListenerBusEmpty(spark, Tracer.DrainTimeoutMs)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(jobListener)
    current = null
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  val DrainTimeoutMs = 60000L

  /** Layer figures of one traced op, from its spans and counters.
    * `cores` turns CPU time into a busy share of the execute wall. */
  def layers(spans: Seq[Span], c: OpCounters, cores: Int): Map[String, Any] = {
    val root = spans.find(_.parent == "").get
    val children = spans.filter(_.parent == root.name)
    def spanMs(name: String): Double = children.filter(_.name == name).map(_.ms).sum
    val executeMs = children.find(_.name == "exec.execute").map(_.ms).getOrElse(root.ms)
    val progress = c.progress.asScala.toSeq
    def phase(k: String): Double =
      progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val triggerMs = progress.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
    val cpuMs = c.cpuNs.sum / 1e6
    Map(
      "wall_ms" -> root.ms,
      "span_cover" -> children.map(_.ms).sum / root.ms,
      "functions.analyze_ms" -> spanMs("functions.analyze"),
      "catalyst.optimize_ms" -> spanMs("catalyst.optimize"),
      "catalyst.plan_ms" -> spanMs("catalyst.plan"),
      "exec.execute_ms" -> executeMs,
      "ingest.stream_ms" -> spanMs("ingest.stream"),
      "ingest.resolve_ms" -> spanMs("ingest.resolve"),
      "build.jobs" -> c.buildJobs.sum,
      "exec.jobs" -> (c.execJobs.sum + c.streamJobs.sum),
      "exec.stages" -> c.stages.sum,
      "exec.single_stages" -> c.singleTaskStages.sum,
      "exec.tasks" -> c.tasks.sum,
      "exec.cpu_ms" -> cpuMs,
      "exec.run_ms" -> c.runMs.sum,
      "exec.gc_ms" -> c.gcMs.sum,
      "exec.cpu_busy_share" -> cpuMs / (executeMs * cores),
      "scan.bytes_read" -> c.bytesRead.sum,
      "scan.records_read" -> c.recordsRead.sum,
      "shuffle.bytes_written" -> c.shuffleBytes.sum,
      "shuffle.records_written" -> c.shuffleRecords.sum,
      "spill.bytes" -> c.spillBytes.sum,
      "stream.triggers" -> progress.size,
      "stream.trigger_ms" -> triggerMs,
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.tasks" -> c.streamTasks.sum,
      "stream.state_rows" ->
        progress.map(_.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max),
      "stream.state_memory_bytes" ->
        progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max))
  }
}
