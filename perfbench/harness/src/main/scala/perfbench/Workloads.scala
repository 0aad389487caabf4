package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ts.{Aggs, Multi, RangeQuery, TSModel, Tsbs}
import graft.ts.RangeQuery.RangeArgs

/** One request of a workload. `sql` is what the client sends (empty for
  * the write workload, whose every op is the same call);
  * `oracle` is the DuckDB SQL its answer must equal; `requested` counts
  * the generated samples inside the request's series × window (-1 when
  * the oracle side must count them with `requestedSql`). */
final case class Op(kind: String, sql: String = "", oracle: String = "",
    requested: Long = -1L, requestedSql: String = "")

/** What the timed part of an op hands back: the work it did, in the
  * workload's unit, and a check to run after the clock stops. */
final case class Done(items: Long, check: () => Map[String, Any])

/**
 * A seeded workload. The data and the op sequence depend on the seed
 * only: op `i` draws from its own generator, so the request list does
 * not depend on how many ops fit in a run.
 */
trait Workload {
  def seed: Long
  /** Ops run before the clock starts. */
  def warmupOps: Int
  /** Length of the cycle in which the op kinds repeat. */
  def cycle: Int
  /** Whether a run ends on a whole cycle: for a short cycle of unequal
    * kinds, so that every run measures the same mix. */
  def wholeCycles: Boolean = false
  /** Generate the inputs under `dir` and register what the ops read.
    * Returns the data sizes and the DuckDB views (name -> parquet path
    * under `dir`) the oracle needs. */
  def prepare(spark: SparkSession, dir: File): Map[String, Any]
  /** The `i`th op of the measured (`warm = false`) or warm-up sequence. */
  def op(i: Int, warm: Boolean): Op
  def run(op: Op, ctx: OpContext): Done

  protected def rng(i: Int, warm: Boolean): Random =
    new Random(seed * 1000003L + i * 7919L + (if (warm) 1L << 40 else 0L))
}

/** Cost-dimension draws of the `j`th op of one kind: `u(d)` in [0, 1)
  * is the `j`th point of an additive recurrence on dimension `d` (step
  * the fractional part of the square root of the `d`th prime, start
  * drawn from the seed). Any run's ops then cover each cost range
  * evenly, so runs with different seeds share one cost mix while every
  * parameter still depends on the seed. */
final class Strata(seed: Long, j: Int) {
  private val Primes = Seq(2, 3, 5, 7, 11, 13, 17, 19, 23, 29)
  def u(d: Int): Double = {
    val step = math.sqrt(Primes(d).toDouble) % 1.0
    (new Random(seed * 131L + d).nextDouble() + j * step) % 1.0
  }
}

object Workload {
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val Minute = 60000L
  val Hour = 3600000L
  val Day = 86400000L

  def apply(name: String, seed: Long): Workload = name match {
    case "point_reads"   => new PointReads(seed)
    case "devops_scan"   => new DevopsScan(seed)
    case "ingest_replay" => new IngestReplay(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The point `u` of [lo, hi] on a log scale, rounded down to a
    * multiple of `unit`. */
  def logUniform(u: Double, lo: Long, hi: Long, unit: Long): Long = {
    val v = math.exp(math.log(lo.toDouble) + u * math.log(hi.toDouble / lo))
    math.max(lo, (v.toLong / unit) * unit)
  }

  /** Integer division of non-negative operands. */
  def idiv(c: Column, n: Long): Column = (c / n).cast("long")

  /** Total bytes of the files under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Engine rows as TSV (header of column types, then one line per row;
    * null `\N`, doubles in round-trip form) for the oracle comparison. */
  def writeRows(df: DataFrame, rows: Array[Row], f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(df.schema.fields.map(_.dataType.simpleString).mkString("\t"))
      rows.foreach { r =>
        w.println((0 until r.length).map { i =>
          if (r.isNullAt(i)) "\\N" else r.get(i).toString
        }.mkString("\t"))
      }
    } finally w.close()
  }

  /** The GROUPBY label REDUCE reducer oracle: the per-series range SQL
    * reduced per (label value, report ts) with the engine's DuckDB
    * aggregator rendering, then the group fills (all-NaN -> NaN,
    * count family -> 0). `groups` maps each series to its label value. */
  def groupBySql(per: String, args: RangeArgs, label: String, reducer: String,
      groups: String): String = {
    val cols = if (args.aggs.isEmpty) Seq("value") else args.aggs.map(Aggs.colName)
    def reduceExpr(c: String): String =
      Aggs.sql(reducer, v = c, t = "ts").stripSuffix(s" AS ${Aggs.colName(reducer)}")
    val fill = if (Set("count", "countnan", "countall")(reducer)) "0.0" else "'NaN'::DOUBLE"
    val sel = cols.map(c => s"coalesce(CAST(${reduceExpr(c)} AS DOUBLE), $fill) AS $c")
      .mkString(", ")
    val castCols = cols.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")
    s"""SELECT '$label=' || g.lv AS series, per.ts, $sel
       |FROM (SELECT series, ts, $castCols FROM ($per)) per
       |JOIN ($groups) g USING (series)
       |GROUP BY g.lv, per.ts""".stripMargin
  }
}

import Workload._

/** A read request through the SQL table-function surface, timed layer
  * by layer: analysis (the TVF builder composing the engine's plan),
  * optimization, physical planning, then execution. */
trait SqlReads extends Workload {
  /** The op's work in the workload's unit. */
  def work(op: Op): Long

  def run(op: Op, ctx: OpContext): Done = {
    ctx.phase("build")
    val df = ctx.span("functions.analyze")(ctx.spark.sql(op.sql))
    ctx.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
    ctx.span("catalyst.plan")(df.queryExecution.executedPlan)
    ctx.phase("exec")
    val rows = ctx.span("exec.execute")(df.collect())
    Done(work(op), () => {
      val f = new File(ctx.outDir, s"${ctx.id}.tsv")
      writeRows(df, rows, f)
      Map("type" -> "sql", "oracle" -> op.oracle, "rows" -> f.getName,
        "requested" -> op.requested, "requested_sql" -> op.requestedSql)
    })
  }
}

/**
 * `point_reads`: the RedisTimeSeries query surface over a fixture-shaped
 * events table (7,500 series = 5 event types × 1,500 users, labels
 * `type`/`user`). Mix: 55% ts_range, 15% ts_mrange, 5% ts_mrange
 * GROUPBY/REDUCE, 5% ts_mget, 20% ts_queryindex. Single-series and
 * index requests cost about half of multi-series ones; the mix puts 75%
 * of requests on the cheap side so that the median falls inside that
 * group and the 90th percentile inside the other, not in the gap
 * between them, where one op more or less moves the estimate most.
 */
final class PointReads(val seed: Long) extends SqlReads {
  /** One whole cycle of the mix. */
  val warmupOps = 20
  /** The unit of work is the request: its fixed cost is what this
    * workload measures. */
  def work(op: Op): Long = 1L
  def cycle: Int = Kinds.size
  private val Types = Seq("click", "error", "purchase", "signup", "view")
  private val Users = 1500
  private val Samples = 100000L
  private val SpanMs = 30 * Day
  private val Step = SpanMs / Samples
  /** The mix as a fixed smooth weighted round-robin cycle, so that every
    * run's ops keep the mix's proportions however many fit in it; the
    * seed varies only the parameters. */
  private val Kinds: IndexedSeq[String] = {
    val w = Seq("ts_range" -> 11, "ts_mrange" -> 3, "ts_mrange_groupby" -> 1,
      "ts_mget" -> 1, "ts_queryindex" -> 4)
    val total = w.map(_._2).sum
    val credit = Array.fill(w.size)(0)
    (0 until total).map { _ =>
      w.indices.foreach(k => credit(k) += w(k)._2)
      val k = credit.indices.maxBy(i => credit(i))
      credit(k) -= total
      w(k)._1
    }
  }
  /** How many ops of its own kind precede each cycle position. */
  private val Occurrence: IndexedSeq[Int] =
    Kinds.indices.map(p => Kinds.take(p).count(_ == Kinds(p)))

  def prepare(spark: SparkSession, dir: File): Map[String, Any] = {
    val types = array(Types.map(lit): _*)
    // strictly increasing ts (one event per Step, jittered inside it),
    // so (series, ts) is unique; 0.5% NaN values
    spark.range(0, Samples, 1, 4).select(
      col("id").as("event_id"),
      expr(s"CAST(timestamp_millis($T0 + id * $Step + pmod(xxhash64($seed, id, 1), $Step)) AS TIMESTAMP_NTZ)").as("ts"),
      expr(s"pmod(xxhash64($seed, id, 2), $Users)").as("user_id"),
      element_at(types, expr(s"CAST(pmod(xxhash64($seed, id, 3), ${Types.size}) + 1 AS INT)")).as("event_type"),
      expr(s"CASE WHEN pmod(xxhash64($seed, id, 4), 200) = 0 THEN CAST('NaN' AS DOUBLE) " +
        s"ELSE CAST(pmod(xxhash64($seed, id, 5), 15000) AS DOUBLE) / 100 END").as("value"))
      .write.parquet(new File(dir, "events.parquet").toString)
    val d = dir.toString
    GraftFunctions.register(spark)
    TSModel.samples(spark, d).createOrReplaceTempView(GraftFunctions.SamplesView)
    TSModel.labels(spark, d).createOrReplaceTempView(GraftFunctions.LabelsView)
    Map("samples" -> Samples, "series" -> Types.size * Users,
      "bytes" -> bytesUnder(new File(dir, "events.parquet")),
      "views" -> Map("events" -> "events.parquet"))
  }

  private val cte = s"${TSModel.samplesCte},\n${Multi.labelsCte}"

  /** A label filter matching 1 to 1,500 series: its shape and size
    * from the strata, its types and users from `rnd`. */
  private def filter(st: Strata, rnd: Random): String = {
    def users(max: Int) = rnd.shuffle((0 until Users).toList)
      .take(1 + (st.u(3) * max).toInt).mkString("(", ",", ")")
    def tpe = Types(rnd.nextInt(Types.size))
    (st.u(2) * 5).toInt match {
      case 0 => s"type=$tpe"
      case 1 => s"user=${users(40)}"
      case 2 => s"type=$tpe user=${users(300)}"
      case 3 =>
        val two = rnd.shuffle(Types).take(2).mkString("(", ",", ")")
        s"type=$two user=${users(100)}"
      case _ => s"user=${rnd.nextInt(Users)} type!=$tpe"
    }
  }

  /** Aggregation options: the TVF's option-grammar text and the same
    * arguments for the oracle. */
  private def aggOptions(st: Strata, rnd: Random, from: Long, to: Long,
      single: Boolean): (String, RangeArgs) = {
    val agg = Aggs.names(rnd.nextInt(Aggs.names.size))
    val bucket = logUniform(st.u(1), Minute, Day, Minute)
    var args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq(agg), bucketMs = bucket)
    val clauses = scala.collection.mutable.ArrayBuffer(s"AGGREGATION $agg $bucket")
    if (single && st.u(4) < 0.15 && (to - from) / bucket <= 5000) {
      clauses += "EMPTY"; args = args.copy(empty = true)
    }
    if (st.u(5) < 0.2) {
      val align = from + rnd.nextInt(1000) * Minute
      clauses += s"ALIGN $align"; args = args.copy(alignMs = align)
    }
    if (st.u(6) < 0.1) {
      val lo = rnd.nextInt(100).toDouble
      val hi = lo + 10 + rnd.nextInt(50)
      clauses += s"FILTER_BY_VALUE $lo $hi"; args = args.copy(filterByValue = Some((lo, hi)))
    }
    if (st.u(7) < 0.1) {
      val ts = Seq("~", "+")(rnd.nextInt(2))
      clauses += s"BUCKETTIMESTAMP $ts"; args = args.copy(bucketTs = ts)
    }
    (clauses.mkString(" "), args)
  }

  def op(i: Int, warm: Boolean): Op = {
    val kind = Kinds(i % Kinds.size)
    val rnd = rng(i, warm)
    val st = new Strata(if (warm) ~seed else seed,
      i / Kinds.size * Kinds.count(_ == kind) + Occurrence(i % Kinds.size))
    val len = logUniform(st.u(0), Hour, SpanMs, 1L)
    val from = T0 + (rnd.nextDouble() * (SpanMs - len)).toLong
    val to = from + len
    def matched(f: String) =
      s"series IN (SELECT series FROM series_labels WHERE ${Multi.predsSql(preds(f))})"
    def countSql(where: String, window: Boolean) =
      s"$cte SELECT count(*) FROM samples WHERE $where" +
        (if (window) s" AND ts >= $from AND ts <= $to" else "")
    kind match {
      case "ts_range" =>
        val key = s"${Types(rnd.nextInt(Types.size))}_${rnd.nextInt(Users)}"
        val (opts, args) =
          if (st.u(8) < 0.15) ("", RangeArgs(from = Some(from), to = Some(to)))
          else aggOptions(st, rnd, from, to, single = true)
        val optArg = if (opts.isEmpty) "" else s", '$opts'"
        Op(kind, s"SELECT * FROM ts_range('$key', $from, $to$optArg)",
          RangeQuery.rangeSqlFull(args, Some(s"series = '$key'")),
          requestedSql = countSql(s"series = '$key'", window = true))
      case "ts_mrange" =>
        val f = filter(st, rnd)
        val (opts, args) = aggOptions(st, rnd, from, to, single = false)
        Op(kind, s"SELECT * FROM ts_mrange('$f', $from, $to, '$opts')",
          RangeQuery.rangeSqlFull(args, Some(matched(f)), cte),
          requestedSql = countSql(matched(f), window = true))
      case "ts_mrange_groupby" =>
        val f = filter(st, rnd)
        val agg = Aggs.names(rnd.nextInt(Aggs.names.size))
        val bucket = logUniform(st.u(1), Minute, Day, Minute)
        val reducers = Aggs.names.filterNot(Set("first", "last"))
        val red = reducers(rnd.nextInt(reducers.size))
        val label = Seq("type", "user")(rnd.nextInt(2))
        val args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq(agg), bucketMs = bucket)
        val lv = if (label == "type") "event_type" else "CAST(user_id AS VARCHAR)"
        val groups = s"SELECT DISTINCT event_type || '_' || CAST(user_id AS VARCHAR) AS series, $lv AS lv FROM events"
        Op(kind,
          s"SELECT * FROM ts_mrange('$f', $from, $to, 'AGGREGATION $agg $bucket GROUPBY $label REDUCE $red')",
          groupBySql(RangeQuery.rangeSqlFull(args, Some(matched(f)), cte), args, label, red, groups),
          requestedSql = countSql(matched(f), window = true))
      case "ts_mget" =>
        val f = filter(st, rnd)
        Op(kind, s"SELECT * FROM ts_mget('$f')",
          s"""$cte
             |SELECT m.series, (max(struct_pack(t := s.ts, v := s.value))).t AS ts,
             |       (max(struct_pack(t := s.ts, v := s.value))).v AS value
             |FROM (SELECT series FROM series_labels WHERE ${Multi.predsSql(preds(f))}) m
             |LEFT JOIN samples s USING (series) GROUP BY m.series""".stripMargin,
          requestedSql = countSql(matched(f), window = false))
      case _ =>
        val f = filter(st, rnd)
        Op(kind, s"SELECT * FROM ts_queryindex('$f')",
          s"$cte SELECT series FROM series_labels WHERE ${Multi.predsSql(preds(f))}",
          requested = 0L)
    }
  }

  private def preds(f: String): Seq[Multi.LabelPred] =
    f.split("\\s+").toSeq.map(Multi.parsePred)
}

/**
 * `devops_scan`: the TSBS devops query types over generated
 * scale100-shaped data (100 hosts × 10 cpu metrics, 10 s cadence),
 * sent round-robin with seeded hosts, metrics and windows.
 */
final class DevopsScan(val seed: Long) extends SqlReads {
  val warmupOps = 6
  /** The unit of work is a generated sample inside the request's
    * series × window. */
  def work(op: Op): Long = op.requested
  def cycle: Int = Kinds.size
  override def wholeCycles: Boolean = true
  private val Hosts = 100
  private val Metrics = Tsbs.Metrics
  private val Cadence = 10000L
  private val SpanMs = 4 * Hour
  private val Ticks = SpanMs / Cadence
  private val NSeries = Hosts * Metrics.size
  private val Kinds = Seq("single_groupby_1_8", "cpu_max_all_8", "double_groupby_all",
    "high_cpu_all", "groupby_orderby_limit", "lastpoint")

  def prepare(spark: SparkSession, dir: File): Map[String, Any] = {
    val metrics = array(Metrics.map(lit): _*)
    def seriesOf(i: Column) =
      concat(lit("host_"), idiv(i, Metrics.size).cast("string"), lit(":"),
        element_at(metrics, (i % Metrics.size + 1).cast("int")))
    // arrival order: every series' sample of one tick, tick by tick
    spark.range(0, Ticks * NSeries, 1, 8).select(
      seriesOf(col("id") % NSeries).as("series"),
      (lit(T0) + idiv(col("id"), NSeries) * Cadence).as("ts"),
      expr(s"CAST(pmod(xxhash64($seed, id), 10000) AS DOUBLE) / 100").as("value"))
      .write.parquet(new File(dir, "samples").toString)
    spark.range(0, NSeries, 1, 1).select(
      seriesOf(col("id")).as("series"),
      map(lit("hostname"), concat(lit("host_"), idiv(col("id"), Metrics.size).cast("string")),
        lit("metric"), element_at(metrics, (col("id") % Metrics.size + 1).cast("int"))).as("labels"))
      .write.parquet(new File(dir, "labels").toString)
    GraftFunctions.register(spark)
    spark.read.parquet(new File(dir, "samples").toString)
      .createOrReplaceTempView(GraftFunctions.SamplesView)
    spark.read.parquet(new File(dir, "labels").toString)
      .createOrReplaceTempView(GraftFunctions.LabelsView)
    Map("samples" -> Ticks * NSeries, "series" -> NSeries,
      "bytes" -> bytesUnder(new File(dir, "samples")),
      "views" -> Map("devops" -> "samples"))
  }

  private val cte =
    """WITH samples AS (
      |  SELECT series, ts, value, split_part(series, ':', 1) AS hostname,
      |         split_part(series, ':', 2) AS metric
      |  FROM devops)""".stripMargin
  private val metricGroups =
    "SELECT DISTINCT series, split_part(series, ':', 2) AS lv FROM devops"

  private def inList(vs: Seq[String]) = vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Samples of `nSeries` series inside [from, to]: the data is a full
    * grid, so this is exact. */
  private def requested(nSeries: Int, from: Long, to: Long): Long = {
    val lo = math.max(0L, math.ceil((from - T0).toDouble / Cadence).toLong)
    val hi = math.min(Ticks - 1, math.floorDiv(to - T0, Cadence))
    nSeries * math.max(0L, hi - lo + 1)
  }

  def op(i: Int, warm: Boolean): Op = {
    val kind = Kinds(i % Kinds.size)
    val rnd = rng(i, warm)
    def hosts(k: Int) = rnd.shuffle((0 until Hosts).toList).take(k).map(h => s"host_$h")
    def window(len: Long): (Long, Long) = {
      val l = math.min(len, SpanMs)
      val from = T0 + ((rnd.nextDouble() * (SpanMs - l)).toLong / Minute) * Minute
      (from, from + l - 1)
    }
    val allMetrics = Metrics.mkString("(", ",", ")")
    kind match {
      case "single_groupby_1_8" =>
        val hs = hosts(8); val m = Metrics(rnd.nextInt(Metrics.size))
        val (from, to) = window(Hour)
        val args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq("max"), bucketMs = Minute)
        val pred = s"hostname IN ${inList(hs)} AND metric = '$m'"
        Op(kind,
          s"SELECT * FROM ts_mrange('metric=$m hostname=${hs.mkString("(", ",", ")")}', $from, $to, " +
            s"'AGGREGATION max $Minute GROUPBY metric REDUCE max')",
          groupBySql(RangeQuery.rangeSqlFull(args, Some(pred), cte), args, "metric", "max",
            metricGroups),
          requested(hs.size, from, to))
      case "cpu_max_all_8" =>
        val hs = hosts(8)
        val (from, to) = window(8 * Hour)
        val args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq("max"), bucketMs = Hour)
        Op(kind,
          s"SELECT * FROM ts_mrange('hostname=${hs.mkString("(", ",", ")")} metric=$allMetrics', " +
            s"$from, $to, 'max', $Hour)",
          RangeQuery.rangeSqlFull(args, Some(s"hostname IN ${inList(hs)}"), cte),
          requested(hs.size * Metrics.size, from, to))
      case "double_groupby_all" =>
        val (from, to) = window(12 * Hour)
        val args = RangeArgs(from = Some(from), to = Some(to), aggs = Seq("avg"), bucketMs = Hour)
        Op(kind, s"SELECT * FROM ts_mrange('metric=$allMetrics', $from, $to, 'avg', $Hour)",
          RangeQuery.rangeSqlFull(args, None, cte),
          requested(NSeries, from, to))
      case "high_cpu_all" =>
        val (from, to) = window(12 * Hour)
        val args = RangeArgs(from = Some(from), to = Some(to), filterByValue = Some((90.0, 100.0)))
        Op(kind,
          s"SELECT * FROM ts_mrange('metric=usage_user', $from, $to, 'FILTER_BY_VALUE 90 100')",
          RangeQuery.rangeSqlFull(args, Some("metric = 'usage_user'"), cte),
          requested(Hosts, from, to))
      case "groupby_orderby_limit" =>
        val to = T0 + Hour + ((rnd.nextDouble() * (SpanMs - Hour)).toLong / Minute) * Minute
        val args = RangeArgs(from = Some(T0), to = Some(to), aggs = Seq("max"), bucketMs = Minute)
        val per = RangeQuery.rangeSqlFull(args, Some("metric = 'usage_user'"), cte)
        Op(kind,
          s"SELECT * FROM ts_mrange('metric=usage_user', $T0, $to, " +
            s"'AGGREGATION max $Minute GROUPBY metric REDUCE max') ORDER BY ts DESC LIMIT 5",
          s"SELECT * FROM (${groupBySql(per, args, "metric", "max", metricGroups)}) " +
            "ORDER BY ts DESC LIMIT 5",
          requested(Hosts, T0, to))
      case _ =>
        Op(kind, s"SELECT * FROM ts_mget('metric=$allMetrics')",
          s"""$cte
             |SELECT series, (max(struct_pack(t := ts, v := value))).t AS ts,
             |       (max(struct_pack(t := ts, v := value))).v AS value
             |FROM samples GROUP BY series""".stripMargin,
          requested(NSeries, T0, T0 + SpanMs))
    }
  }
}

/**
 * `ingest_replay`: the streaming write path. A devops-shaped stream in
 * four ts-ordered files, 5% of it late samples that rewrite an earlier
 * (series, ts) and arrive one or two files later, replayed oldest file
 * first through [[graft.ts.Ingest.streamingIngestOnce]] under policy
 * MAX (the resolved store does not depend on arrival order).
 */
final class IngestReplay(val seed: Long) extends Workload {
  val warmupOps = 2
  val cycle = 1
  private val Chunks = 4
  private val NSeries = 1000
  private val Cadence = 10000L
  private val Base = 190000L
  private val Late = 10000L
  private val Ticks = Base / NSeries
  private var src: File = _

  def prepare(spark: SparkSession, dir: File): Map[String, Any] = {
    def seriesOf(i: Column) =
      concat(lit("host_"), idiv(i, 10).cast("string"), lit(":"),
        element_at(array(Tsbs.Metrics.map(lit): _*), (i % 10 + 1).cast("int")))
    def chunkOf(tick: Column) = idiv(tick * Chunks, Ticks)
    val base = spark.range(0, Base, 1, 4).select(
      seriesOf(col("id") % NSeries).as("series"),
      (lit(T0) + idiv(col("id"), NSeries) * Cadence).as("ts"),
      expr(s"CAST(pmod(xxhash64($seed, id, 1), 10000) AS DOUBLE) / 100").as("value"),
      chunkOf(idiv(col("id"), NSeries)).as("chunk"))
    val late = spark.range(0, Late, 1, 4)
      .select(expr(s"pmod(xxhash64($seed, id, 2), $Base)").as("b"), col("id"))
      .select(
        seriesOf(col("b") % NSeries).as("series"),
        (lit(T0) + (idiv(col("b"), NSeries)) * Cadence).as("ts"),
        expr(s"CAST(pmod(xxhash64($seed, id, 3), 10000) AS DOUBLE) / 100").as("value"),
        least(lit(Chunks - 1),
          chunkOf(idiv(col("b"), NSeries)) + 1 + expr(s"pmod(xxhash64($seed, id, 4), 2)")).as("chunk"))
    val stage = new File(dir, "stage")
    base.unionByName(late).repartition(Chunks, col("chunk"))
      .sortWithinPartitions(col("ts"))
      .write.partitionBy("chunk").parquet(stage.toString)
    // one file per chunk, renamed in ts order and stamped with ascending
    // mtimes: the file source replays oldest first, one file a trigger
    src = new File(dir, "src")
    require(src.mkdirs(), s"cannot create $src")
    (0 until Chunks).foreach { k =>
      val parts = new File(stage, s"chunk=$k").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"chunk $k staged as ${parts.length} files")
      val f = new File(src, f"part-$k%05d.parquet")
      require(parts.head.renameTo(f), s"cannot move ${parts.head} to $f")
      require(f.setLastModified(1000000000000L + k * 60000L), s"cannot stamp mtime of $f")
    }
    Map("samples" -> (Base + Late), "late" -> Late, "files" -> Chunks,
      "bytes" -> bytesUnder(src), "views" -> Map("ingest_src" -> "src"))
  }

  def op(i: Int, warm: Boolean): Op = Op("ingest")

  def run(op: Op, ctx: OpContext): Done = {
    ctx.phase("exec")
    val sink = new File(ctx.outDir, s"${ctx.id}-sink")
    val store = ctx.span("ingest.stream")(
      graft.ts.Ingest.streamingIngestOnce(ctx.spark, src.toString, sink.toString, "MAX"))
    ctx.span("catalyst.optimize")(store.queryExecution.optimizedPlan)
    ctx.span("catalyst.plan")(store.queryExecution.executedPlan)
    ctx.span("ingest.resolve")(store.queryExecution.toRdd.count())
    Done(Base + Late, () => {
      val out = new File(ctx.outDir, s"${ctx.id}-store")
      store.write.parquet(out.toString)
      val sinkBytes = bytesUnder(sink)
      Map("type" -> "ingest", "store" -> out.getName, "requested" -> (Base + Late),
        "layers" -> Map("sink.bytes_written" -> sinkBytes,
          "sink.write_amplification" -> sinkBytes.toDouble / bytesUnder(src)))
    })
  }
}
