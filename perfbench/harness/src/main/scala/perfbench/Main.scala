package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One op as sent: its measured latency and outcome, and its counters
  * when it was traced. */
final case class Sent(op: Op, ctx: OpContext, latencyMs: Double,
    result: Either[Throwable, Done], counters: Option[OpCounters])

/** The client's handle on one op: the session, the op id, where check
  * files go, and the span recorder (a no-op on untraced ops). */
final class OpContext(val spark: SparkSession, val id: String, val outDir: File,
    traced: Boolean) {
  val spans = new ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = System.nanoTime
      try body finally spans += Span(id, name, "op", t0, System.nanoTime)
    }

  /** Tag the jobs that follow with the job group `<op>/<phase>`. */
  def phase(p: String): Unit = spark.sparkContext.setJobGroup(s"$id/$p", s"$id $p")
}

/**
 * Benchmark client: one JVM, one closed-loop client thread, one
 * workload. Usage:
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --cores C --out DIR [--mode run|inputs]
 *
 * `run` sets up (session start once; data generation and view
 * registration [[SetupReps]] times; warm-up), then sends the
 * workload's ops back to back for S seconds (and to the end of the op
 * cycle, for a workload that asks for whole cycles) and writes
 * `DIR/result.json`: per-op latency, work and a check for the oracle,
 * plus the run context. With `--trace 1` every other op (the first
 * included) records layer spans and Spark counters; the untraced ops
 * between them give the tracing overhead. `inputs` only generates the
 * inputs and writes the first ops' SQL to `DIR/requests.tsv`, for the
 * determinism self-test.
 */
object Main {
  val SetupReps = 3

  private def ms(t0: Long): Double = (System.nanoTime - t0) / 1e6

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val out = new File(opt("out"))
    val wl = Workload(name, seed)
    val loadBefore = loadAvg()

    val t0 = System.nanoTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartMs = ms(t0)

    try {
      if (opt.getOrElse("mode", "run") == "inputs") writeInputs(spark, wl, out)
      else runBench(spark, name, wl, opt("seconds").toDouble, trace, cores, out,
        sessionStartMs, loadBefore)
    } finally spark.stop()
  }

  private def writeInputs(spark: SparkSession, wl: Workload, out: File): Unit = {
    wl.prepare(spark, new File(out, "data0"))
    val w = new java.io.PrintWriter(new File(out, "requests.tsv"), "UTF-8")
    try {
      for (warm <- Seq(true, false); i <- 0 until 40) {
        val op = wl.op(i, warm)
        w.println(Seq(warm, i, op.kind, op.sql, op.oracle, op.requested, op.requestedSql)
          .mkString("\t").replace("\n", " "))
      }
    } finally w.close()
  }

  private def runBench(spark: SparkSession, name: String, wl: Workload, seconds: Double, trace: Boolean,
      cores: Int, out: File, sessionStartMs: Double, loadBefore: Double): Unit = {
    val sc = spark.sparkContext
    val genMs = ArrayBuffer[Double]()
    var data: Map[String, Any] = Map.empty
    var dataDir: File = null
    for (r <- 0 until SetupReps) {
      dataDir = new File(out, s"data$r")
      val t = System.nanoTime
      data = wl.prepare(spark, dataDir)
      genMs += ms(t)
    }

    def execute(op: Op, id: String, traced: Option[Tracer]): Sent = {
      val ctx = new OpContext(spark, id, out, traced.isDefined)
      val counters = traced.map(_.begin(id))
      sc.setLocalProperty(Tracer.OpProperty, id)
      val t = System.nanoTime
      val res = try Right(wl.run(op, ctx)) catch { case e: Throwable => Left(e) }
      val latency = ms(t)
      ctx.spans += Span(id, "op", "", t, t + (latency * 1e6).toLong)
      sc.setLocalProperty(Tracer.OpProperty, null)
      sc.clearJobGroup()
      traced.foreach(_.end())
      Sent(op, ctx, latency, res, counters)
    }

    val tw = System.nanoTime
    val warmup =
      (0 until wl.warmupOps).map(i => execute(wl.op(i, warm = true), s"warm$i", None).result)
        .collectFirst { case Left(e) => s"failed: $e" }.getOrElse("ok")
    val warmupMs = ms(tw)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runs = ArrayBuffer[Sent]()
    val loopStart = System.nanoTime
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime < deadline || wl.wholeCycles && i % wl.cycle != 0) {
      // every other op is traced; over an even kind cycle the parity
      // flips each round, so traced and untraced ops see every kind
      val round = if (wl.cycle % 2 == 0) i / wl.cycle else 0
      runs += execute(wl.op(i, warm = false), f"op$i%05d",
        tracer.filter(_ => (i + round) % 2 == 0))
      i += 1
    }
    val loopMs = ms(loopStart)
    val loadAfter = loadAvg()

    // checks and layer figures, after the clock has stopped
    val ops = runs.map { case Sent(op, ctx, latency, res, counters) =>
      val (error, items, check) = res match {
        case Left(e) => (Some(e.toString), 0L, Map.empty[String, Any])
        case Right(d) =>
          try (None, d.items, d.check())
          catch { case e: Throwable => (Some(s"check failed: $e"), d.items, Map.empty[String, Any]) }
      }
      val layers = counters.map(c =>
        Tracer.layers(ctx.spans.toSeq, c, cores) ++
          check.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Any]])
      Map("id" -> ctx.id, "kind" -> op.kind, "sql" -> op.sql, "latency_ms" -> latency,
        "error" -> error, "items" -> items, "traced" -> counters.isDefined,
        "check" -> (check - "layers"), "layers" -> layers)
    }

    val result = Map(
      "workload" -> name,
      "seed" -> wl.seed,
      "trace" -> trace,
      "context" -> Map(
        "nproc" -> cores,
        "load_avg_before" -> loadBefore,
        "load_avg_after" -> loadAfter,
        "data" -> (data - "views"),
        "warmup" -> warmup,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "load_shape" -> "closed loop, one client thread"),
      "views" -> data("views"),
      "data_dir" -> dataDir.getName,
      "setup" -> Map(
        "session.start_ms" -> sessionStartMs,
        "gen.data_ms" -> genMs.toSeq,
        "warmup_ms" -> warmupMs),
      "loop_ms" -> loopMs,
      "jvm.heap_used_peak_mb" -> heapPeakMb(),
      "ops" -> ops.toSeq,
      "spans" -> runs.flatMap(_.ctx.spans).filter(_ => trace).map(s =>
        Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(out, "result.json"), result)
  }
}
