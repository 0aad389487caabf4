package graft.functions

import org.apache.spark.sql.{GraftSessionBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry.TableFunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/**
 * SQL surface for the engine's custom Catalyst kernels.
 *
 * Everything in `graft.functions` is a compiled Expression usable from
 * the Column API; this object additionally registers each one in a
 * session's FunctionRegistry so the SAME kernels are callable from
 * `spark.sql(...)` — the idiomatic Spark extension route
 * (SURVEY §7 preference order (b) + SparkSessionExtensions):
 *
 *  - `vec_dot(a, b)`        — codegen'd dot product ([[VecDot]])
 *  - `vec_norm(a)`          — codegen'd L2 norm ([[VecNorm]])
 *  - `vec_cosine(a, b)`     — vec_dot(a,b) / (vec_norm(a) * vec_norm(b)),
 *                             composed at plan time, so the whole score
 *                             stays inside one codegen'd projection
 *  - `ts_bucket(ts, dur[, align])` — the reference's floor-modulo
 *                             bucket start (reference src/tsdb.h:84-99),
 *                             composed from built-in arithmetic
 *                             (ts - pmod(ts - align, dur)) so Catalyst
 *                             folds/pushes it like any native expression
 *  - `nearest_centroid(v, matrix)`  — IVF coarse assignment
 *                             ([[NearestCentroid]]); matrix must be a
 *                             foldable array<array<double>> literal,
 *                             extracted at plan time into the compiled
 *                             kernel's reference object
 *  - `vector_signature(v, planes)`  — random-hyperplane LSH signature
 *                             ([[VectorSignature]]), same literal-matrix
 *                             contract (≤ 64 planes)
 *
 * Two registration routes, same builder list:
 *  - [[GraftExtensions]] for session build time
 *    (`spark.sql.extensions=graft.functions.GraftExtensions`);
 *  - [[GraftFunctions.register]] for a live session (the driver
 *    contract hands queries an already-built session).
 */
object GraftFunctions {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(GraftFunctions.getClass.getName, null, name)

  private def nargs(fn: String, allowed: Seq[Int], args: Seq[Expression]): Unit =
    require(allowed.contains(args.length),
      s"$fn expects ${allowed.mkString(" or ")} argument(s), got ${args.length}")

  /** Extract a foldable array<array<double>> argument into the plain
    * matrix the compiled kernels carry as a codegen reference object.
    * Plan-time: a non-literal matrix is a loud error, not a per-row
    * re-evaluation. */
  private def literalMatrix(fn: String, e: Expression): Array[Array[Double]] = {
    require(e.foldable,
      s"$fn: the matrix argument must be a literal (foldable) array<array<double>>")
    e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => ()
      case other => throw new IllegalArgumentException(
        s"$fn: the matrix argument must have type array<array<double>>, got ${other.sql}")
    }
    val ad = e.eval(null).asInstanceOf[ArrayData]
    require(ad != null, s"$fn: the matrix literal must not be null")
    Array.tabulate(ad.numElements()) { i =>
      val row = ad.getArray(i)
      require(row != null, s"$fn: matrix row $i is null")
      row.toDoubleArray()
    }
  }

  /** The full builder list — one entry per SQL-visible kernel. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("vec_dot"), info("vec_dot"), { args: Seq[Expression] =>
      nargs("vec_dot", Seq(2), args)
      VecDot(args(0), args(1))
    }),
    (FunctionIdentifier("vec_norm"), info("vec_norm"), { args: Seq[Expression] =>
      nargs("vec_norm", Seq(1), args)
      VecNorm(args.head)
    }),
    (FunctionIdentifier("vec_cosine"), info("vec_cosine"), { args: Seq[Expression] =>
      nargs("vec_cosine", Seq(2), args)
      // dot / (norm(a) * norm(b)) — same association as the Column-API
      // scorers (Similarity.bruteForceTopK), so results hash-match.
      Divide(VecDot(args(0), args(1)),
        Multiply(VecNorm(args(0)), VecNorm(args(1))))
    }),
    (FunctionIdentifier("ts_bucket"), info("ts_bucket"), { args: Seq[Expression] =>
      nargs("ts_bucket", Seq(2, 3), args)
      val ts = args(0)
      val dur = args(1)
      val align = if (args.length == 3) args(2) else Literal(0L)
      // bucket(ts) = ts - pmod(ts - align, dur): floor-modulo bucket
      // start, negative-safe — identical to TSModel.bucketStart.
      Subtract(ts, Pmod(Subtract(ts, align), dur))
    }),
    (FunctionIdentifier("nearest_centroid"), info("nearest_centroid"), { args: Seq[Expression] =>
      nargs("nearest_centroid", Seq(2), args)
      NearestCentroid(args(0), literalMatrix("nearest_centroid", args(1)))
    }),
    (FunctionIdentifier("vector_signature"), info("vector_signature"), { args: Seq[Expression] =>
      nargs("vector_signature", Seq(2), args)
      VectorSignature(args(0), literalMatrix("vector_signature", args(1)))
    })
  )

  // -----------------------------------------------------------------
  // Table-valued functions: the engine's WHOLE range operators as SQL
  // TVFs. The builder runs at analysis time, composes the engine's own
  // DataFrame plan (RangeQuery/Multi — identical code path to the
  // Column API), and splices its logical plan into the calling SQL
  // statement's tree, where Catalyst optimizes it like any subquery.
  //
  // Data contract: the session temp views `graft_samples`
  // (series STRING, ts BIGINT-ms, value DOUBLE) and — for the label
  // functions — `graft_labels` (series, labels MAP<STRING,STRING>) must
  // exist; a missing view is a loud analysis error. `graft_labels` is
  // expected to be driver-resident (TSModel.labels / Multi.labelIndex),
  // so label filters are evaluated on the driver and ts_queryindex runs
  // no Spark job. All arguments must be literals (they select the plan,
  // not row values).
  // -----------------------------------------------------------------

  /** The samples / labels views the ts_* TVFs read. */
  val SamplesView = "graft_samples"
  val LabelsView = "graft_labels"

  /** The corpus views the pipeline TVFs read: `graft_documents`
    * (doc_id BIGINT, text STRING[, source, lang, …]) and
    * `graft_embeddings` (vec_id BIGINT, embedding ARRAY<FLOAT/DOUBLE>).
    * Same contract as the samples views: a missing view is a loud
    * analysis error; every argument is a literal (it selects the
    * plan, not row values). */
  val DocumentsView = "graft_documents"
  val EmbeddingsView = "graft_embeddings"

  private def literalString(fn: String, e: Expression, what: String): String = {
    require(e.foldable, s"$fn: $what must be a literal string")
    val v = e.eval(null)
    require(v != null, s"$fn: $what must not be null")
    v.toString
  }

  private def literalLong(fn: String, e: Expression, what: String): Long = {
    require(e.foldable, s"$fn: $what must be an integral literal")
    e.eval(null) match {
      case l: java.lang.Long    => l.longValue
      case i: java.lang.Integer => i.longValue
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integral literal, got $other")
    }
  }

  private def literalDouble(fn: String, e: Expression, what: String): Double = {
    require(e.foldable, s"$fn: $what must be a numeric literal")
    e.eval(null) match {
      case d: java.lang.Double  => d.doubleValue
      case f: java.lang.Float   => f.doubleValue
      case l: java.lang.Long    => l.doubleValue
      case i: java.lang.Integer => i.doubleValue
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a numeric literal, got $other")
    }
  }

  private def activeSession(fn: String): SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException(s"$fn: no active SparkSession"))

  /** Whitespace-separated reference FILTER predicates
    * (l=v l!=v l=(a,b) l!=(a,b) l= l!=). */
  private def parsePreds(fn: String, e: Expression): Seq[graft.ts.Multi.LabelPred] =
    literalString(fn, e, "label filter")
      .split("\\s+").filter(_.nonEmpty).toSeq.map(graft.ts.Multi.parsePred)

  /** Shared RangeArgs assembly for both TVFs:
    * (from, to[, agg, bucket_ms[, align_ms]]), or — when the 4th
    * positional argument is a STRING — (from, to, 'options...') with
    * the reference's own TS.RANGE option grammar
    * (RangeQuery.parseOptions: AGGREGATION/ALIGN/BUCKETTIMESTAMP/
    * EMPTY/COUNT/LATEST/REV/FILTER_BY_TS/FILTER_BY_VALUE). */
  private def tvfRangeArgs(fn: String, args: Seq[Expression], off: Int): graft.ts.RangeQuery.RangeArgs = {
    val from = literalLong(fn, args(off), "from")
    val to = literalLong(fn, args(off + 1), "to")
    if (args.length == off + 2)
      graft.ts.RangeQuery.RangeArgs(from = Some(from), to = Some(to))
    else if (args.length == off + 3 && args(off + 2).dataType == StringType)
      graft.ts.RangeQuery.parseOptions(
        literalString(fn, args(off + 2), "options"), Some(from), Some(to))
    else
      graft.ts.RangeQuery.RangeArgs(from = Some(from), to = Some(to),
        aggs = Seq(literalString(fn, args(off + 2), "aggregator")),
        bucketMs = literalLong(fn, args(off + 3), "bucket_ms"),
        alignMs = if (args.length > off + 4) literalLong(fn, args(off + 4), "align_ms") else 0L)
  }

  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, TableFunctionBuilder)] = Seq(
    // ts_range('series', from, to[, 'agg', bucket_ms[, align_ms]])
    // or ts_range('series', from, to, '<reference option grammar>')
    (FunctionIdentifier("ts_range"), info("ts_range"), { args: Seq[Expression] =>
      nargs("ts_range", Seq(3, 4, 5, 6), args)
      val series = literalString("ts_range", args.head, "series key")
      val spark = activeSession("ts_range")
      val samples = spark.table(SamplesView).filter(col("series") === series)
      GraftSessionBridge.logicalPlan(
        graft.ts.RangeQuery.range(samples, tvfRangeArgs("ts_range", args, 1)))
    }),
    // ts_mrange('label_filter ...', from, to[, 'agg', bucket_ms
    //           [, 'groupby_label', 'reducer']])
    // filter syntax = the reference's FILTER predicates, whitespace-
    // separated (l=v l!=v l=(a,b) l!=(a,b) l= l!=); the 7-arg form is
    // TS.MRANGE ... GROUPBY label REDUCE reducer
    // the 4-arg form takes the reference option grammar, optionally
    // including its GROUPBY label REDUCE reducer clause
    (FunctionIdentifier("ts_mrange"), info("ts_mrange"), { args: Seq[Expression] =>
      nargs("ts_mrange", Seq(3, 4, 5, 6, 7), args)
      val preds = parsePreds("ts_mrange", args.head)
      require(preds.nonEmpty, "ts_mrange: at least one label predicate is required")
      val spark = activeSession("ts_mrange")
      val samples = spark.table(SamplesView)
      val labels = spark.table(LabelsView)
      // GROUPBY/REDUCE arrives either positionally (7-arg form) or as
      // a clause inside the option string (reference grammar)
      val optGroupBy: Option[(String, String, graft.ts.RangeQuery.RangeArgs)] =
        if (args.length == 7)
          Some((literalString("ts_mrange", args(5), "GROUPBY label"),
            literalString("ts_mrange", args(6), "reducer"),
            tvfRangeArgs("ts_mrange", args.take(5), 1)))
        else if (args.length == 4 && args(3).dataType == StringType) {
          val raw = literalString("ts_mrange", args(3), "options")
          val from = literalLong("ts_mrange", args(1), "from")
          val to = literalLong("ts_mrange", args(2), "to")
          "(?i)\\bGROUPBY\\s+(\\S+)\\s+REDUCE\\s+(\\S+)".r.findFirstMatchIn(raw).map { g =>
            (g.group(1), g.group(2), graft.ts.RangeQuery.parseOptions(
              raw.substring(0, g.start) + " " + raw.substring(g.end), Some(from), Some(to)))
          }
        } else None
      val df = optGroupBy match {
        case Some((gl, red, ra)) =>
          graft.ts.Multi.mrangeGroupBy(samples, labels, preds, ra,
            groupByLabel = gl, reducer = red)
        case None =>
          graft.ts.Multi.mrange(samples, labels, preds,
            tvfRangeArgs("ts_mrange", args, 1))
      }
      GraftSessionBridge.logicalPlan(df)
    }),
    // ts_get('key') — TS.GET: last sample of one series
    (FunctionIdentifier("ts_get"), info("ts_get"), { args: Seq[Expression] =>
      nargs("ts_get", Seq(1), args)
      val spark = activeSession("ts_get")
      GraftSessionBridge.logicalPlan(graft.ts.Multi.get(
        spark.table(SamplesView), literalString("ts_get", args.head, "series key")))
    }),
    // ts_mget('<FILTER preds>') — TS.MGET over the label index
    (FunctionIdentifier("ts_mget"), info("ts_mget"), { args: Seq[Expression] =>
      nargs("ts_mget", Seq(1), args)
      val spark = activeSession("ts_mget")
      GraftSessionBridge.logicalPlan(graft.ts.Multi.mget(
        spark.table(SamplesView), spark.table(LabelsView),
        parsePreds("ts_mget", args.head)))
    }),
    // ts_queryindex('<FILTER preds>') — TS.QUERYINDEX
    (FunctionIdentifier("ts_queryindex"), info("ts_queryindex"), { args: Seq[Expression] =>
      nargs("ts_queryindex", Seq(1), args)
      val spark = activeSession("ts_queryindex")
      GraftSessionBridge.logicalPlan(graft.ts.Multi.queryIndex(
        spark.table(LabelsView), parsePreds("ts_queryindex", args.head)))
    }),
    // ts_querylabels('label'[, '<FILTER preds>']) — TS.QUERYLABELS
    // (distinct values of one label, optionally over a filtered set)
    (FunctionIdentifier("ts_querylabels"), info("ts_querylabels"), { args: Seq[Expression] =>
      nargs("ts_querylabels", Seq(1, 2), args)
      val spark = activeSession("ts_querylabels")
      val preds = if (args.length == 2) parsePreds("ts_querylabels", args(1)) else Nil
      GraftSessionBridge.logicalPlan(graft.ts.Multi.queryLabelValues(
        spark.table(LabelsView),
        literalString("ts_querylabels", args.head, "label name"), preds))
    }),
    // ts_info(['key']) — TS.INFO core stats; the 0-arg form surveys
    // every series (engine extension: INFO is per-key in the text
    // protocol only because RESP replies are per-key)
    (FunctionIdentifier("ts_info"), info("ts_info"), { args: Seq[Expression] =>
      nargs("ts_info", Seq(0, 1), args)
      val spark = activeSession("ts_info")
      val samples = spark.table(SamplesView)
      val scoped = if (args.isEmpty) samples
        else samples.filter(col("series") === literalString("ts_info", args.head, "series key"))
      GraftSessionBridge.logicalPlan(graft.ts.Multi.info(scoped))
    }),
    // ts_nrange('k1 k2 ...', from, to[, 'agg', bucket_ms[, align_ms]])
    // or ('k1 k2 ...', from, to, '<option grammar>') — TS.NRANGE pivot
    (FunctionIdentifier("ts_nrange"), info("ts_nrange"), { args: Seq[Expression] =>
      nargs("ts_nrange", Seq(3, 4, 5, 6), args)
      val keys = literalString("ts_nrange", args.head, "key list")
        .split("\\s+").filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, "ts_nrange: at least one series key is required")
      val spark = activeSession("ts_nrange")
      GraftSessionBridge.logicalPlan(graft.ts.Multi.nrange(
        spark.table(SamplesView), keys, tvfRangeArgs("ts_nrange", args, 1)))
    }),
    // ---- beyond-reference window extensions as TVFs (round 9) ----
    // ts_sliding(from, to, 'agg', window_ms, hop_ms[, align_ms])
    (FunctionIdentifier("ts_sliding"), info("ts_sliding"), { args: Seq[Expression] =>
      nargs("ts_sliding", Seq(5, 6), args)
      val spark = activeSession("ts_sliding")
      GraftSessionBridge.logicalPlan(graft.ts.Sliding.slidingRange(
        spark.table(SamplesView),
        literalString("ts_sliding", args(2), "aggregator"),
        literalLong("ts_sliding", args(3), "window_ms"),
        literalLong("ts_sliding", args(4), "hop_ms"),
        if (args.length > 5) literalLong("ts_sliding", args(5), "align_ms") else 0L,
        Some(literalLong("ts_sliding", args(0), "from")),
        Some(literalLong("ts_sliding", args(1), "to"))))
    }),
    // ts_session(from, to, 'agg', gap_ms)
    (FunctionIdentifier("ts_session"), info("ts_session"), { args: Seq[Expression] =>
      nargs("ts_session", Seq(4), args)
      val spark = activeSession("ts_session")
      GraftSessionBridge.logicalPlan(graft.ts.Sessions.sessionRange(
        spark.table(SamplesView),
        literalString("ts_session", args(2), "aggregator"),
        literalLong("ts_session", args(3), "gap_ms"),
        Some(literalLong("ts_session", args(0), "from")),
        Some(literalLong("ts_session", args(1), "to"))))
    }),
    // ts_rate(from, to, bucket_ms[, align_ms]) — delta + per-second rate
    (FunctionIdentifier("ts_rate"), info("ts_rate"), { args: Seq[Expression] =>
      nargs("ts_rate", Seq(3, 4), args)
      val spark = activeSession("ts_rate")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.deltaRate(
        spark.table(SamplesView),
        literalLong("ts_rate", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_rate", args(3), "align_ms") else 0L,
        Some(literalLong("ts_rate", args(0), "from")),
        Some(literalLong("ts_rate", args(1), "to"))))
    }),
    // ts_increase(from, to, bucket_ms[, align_ms]) — reset-aware growth
    (FunctionIdentifier("ts_increase"), info("ts_increase"), { args: Seq[Expression] =>
      nargs("ts_increase", Seq(3, 4), args)
      val spark = activeSession("ts_increase")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.increase(
        spark.table(SamplesView),
        literalLong("ts_increase", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_increase", args(3), "align_ms") else 0L,
        Some(literalLong("ts_increase", args(0), "from")),
        Some(literalLong("ts_increase", args(1), "to"))))
    }),
    // ts_irate(from, to, bucket_ms[, align_ms]) — instant rate family
    (FunctionIdentifier("ts_irate"), info("ts_irate"), { args: Seq[Expression] =>
      nargs("ts_irate", Seq(3, 4), args)
      val spark = activeSession("ts_irate")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.instant(
        spark.table(SamplesView),
        literalLong("ts_irate", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_irate", args(3), "align_ms") else 0L,
        Some(literalLong("ts_irate", args(0), "from")),
        Some(literalLong("ts_irate", args(1), "to"))))
    }),
    // ts_hampel(from, to, span, k) — rolling-median/MAD outlier filter
    (FunctionIdentifier("ts_hampel"), info("ts_hampel"),
        { args: Seq[Expression] =>
      nargs("ts_hampel", Seq(4), args)
      val spark = activeSession("ts_hampel")
      GraftSessionBridge.logicalPlan(graft.ts.Rolling.hampel(
        spark.table(SamplesView),
        literalLong("ts_hampel", args(2), "span").toInt,
        literalDouble("ts_hampel", args(3), "k"),
        fromMs = Some(literalLong("ts_hampel", args(0), "from")),
        toMs = Some(literalLong("ts_hampel", args(1), "to"))))
    }),
    // ts_burn_rate(from, to, short_ms, long_ms, hop_ms, budget_per_sec,
    // threshold) — multi-window SLO burn-rate alerts (SRE rule)
    (FunctionIdentifier("ts_burn_rate"), info("ts_burn_rate"),
        { args: Seq[Expression] =>
      nargs("ts_burn_rate", Seq(7), args)
      val spark = activeSession("ts_burn_rate")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.burnRate(
        spark.table(SamplesView),
        literalLong("ts_burn_rate", args(2), "short_ms"),
        literalLong("ts_burn_rate", args(3), "long_ms"),
        literalLong("ts_burn_rate", args(4), "hop_ms"),
        literalDouble("ts_burn_rate", args(5), "budget_per_sec"),
        literalDouble("ts_burn_rate", args(6), "threshold"),
        fromMs = Some(literalLong("ts_burn_rate", args(0), "from")),
        toMs = Some(literalLong("ts_burn_rate", args(1), "to"))))
    }),
    // ts_gaps(from, to, threshold_ms) — inter-arrival gap report
    (FunctionIdentifier("ts_gaps"), info("ts_gaps"), { args: Seq[Expression] =>
      nargs("ts_gaps", Seq(3), args)
      val spark = activeSession("ts_gaps")
      GraftSessionBridge.logicalPlan(graft.ts.Sessions.gaps(
        spark.table(SamplesView),
        literalLong("ts_gaps", args(2), "threshold_ms"),
        Some(literalLong("ts_gaps", args(0), "from")),
        Some(literalLong("ts_gaps", args(1), "to"))))
    }),
    // ts_decompose(from, to, bucket_ms, period) — trend/seasonal/remainder
    (FunctionIdentifier("ts_decompose"), info("ts_decompose"), { args: Seq[Expression] =>
      nargs("ts_decompose", Seq(4), args)
      val spark = activeSession("ts_decompose")
      GraftSessionBridge.logicalPlan(graft.ts.Seasonal.decompose(
        spark.table(SamplesView),
        literalLong("ts_decompose", args(2), "bucket_ms"),
        literalLong("ts_decompose", args(3), "period").toInt,
        Some(literalLong("ts_decompose", args(0), "from")),
        Some(literalLong("ts_decompose", args(1), "to"))))
    }),
    // ts_forecast(from, to, sf, tf, horizon, step_ms) — Holt projection
    (FunctionIdentifier("ts_forecast"), info("ts_forecast"), { args: Seq[Expression] =>
      nargs("ts_forecast", Seq(6), args)
      val spark = activeSession("ts_forecast")
      GraftSessionBridge.logicalPlan(graft.ts.Smoothing.holtForecast(
        spark.table(SamplesView),
        literalDouble("ts_forecast", args(2), "sf"),
        literalDouble("ts_forecast", args(3), "tf"),
        literalLong("ts_forecast", args(4), "horizon").toInt,
        literalLong("ts_forecast", args(5), "step_ms"),
        Some(literalLong("ts_forecast", args(0), "from")),
        Some(literalLong("ts_forecast", args(1), "to"))))
    }),
    // ts_ccf('a', 'b', from, to, bucket_ms, max_lag) — cross-correlation
    (FunctionIdentifier("ts_ccf"), info("ts_ccf"), { args: Seq[Expression] =>
      nargs("ts_ccf", Seq(6), args)
      val spark = activeSession("ts_ccf")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.ccf(
        spark.table(SamplesView),
        literalString("ts_ccf", args(0), "series a"),
        literalString("ts_ccf", args(1), "series b"),
        literalLong("ts_ccf", args(4), "bucket_ms"),
        literalLong("ts_ccf", args(5), "max_lag").toInt,
        fromMs = Some(literalLong("ts_ccf", args(2), "from")),
        toMs = Some(literalLong("ts_ccf", args(3), "to"))))
    }),
    // ts_dtw('s1 s2 s3', from, to, bucket_ms) — DTW pair distances
    (FunctionIdentifier("ts_dtw"), info("ts_dtw"), { args: Seq[Expression] =>
      nargs("ts_dtw", Seq(4), args)
      val spark = activeSession("ts_dtw")
      val keys = literalString("ts_dtw", args(0), "series list")
        .split("\\s+").filter(_.nonEmpty).toSeq
      GraftSessionBridge.logicalPlan(graft.ts.Dtw.pairwise(
        spark.table(SamplesView),
        literalLong("ts_dtw", args(3), "bucket_ms"), keys,
        Some(literalLong("ts_dtw", args(1), "from")),
        Some(literalLong("ts_dtw", args(2), "to"))))
    }),
    // ts_dtw_nearest('probe', from, to, bucket_ms, k) — profile search
    (FunctionIdentifier("ts_dtw_nearest"), info("ts_dtw_nearest"), { args: Seq[Expression] =>
      nargs("ts_dtw_nearest", Seq(5), args)
      val spark = activeSession("ts_dtw_nearest")
      GraftSessionBridge.logicalPlan(graft.ts.Dtw.nearest(
        spark.table(SamplesView),
        literalLong("ts_dtw_nearest", args(3), "bucket_ms"),
        literalString("ts_dtw_nearest", args(0), "probe series"),
        literalLong("ts_dtw_nearest", args(4), "k").toInt,
        Some(literalLong("ts_dtw_nearest", args(1), "from")),
        Some(literalLong("ts_dtw_nearest", args(2), "to"))))
    }),
    // ts_resets(from, to, bucket_ms[, align_ms]) — counter-reset count
    (FunctionIdentifier("ts_resets"), info("ts_resets"), { args: Seq[Expression] =>
      nargs("ts_resets", Seq(3, 4), args)
      val spark = activeSession("ts_resets")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.resets(
        spark.table(SamplesView),
        literalLong("ts_resets", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_resets", args(3), "align_ms") else 0L,
        Some(literalLong("ts_resets", args(0), "from")),
        Some(literalLong("ts_resets", args(1), "to"))))
    }),
    // ts_quantiles(from, to, bucket_ms, 'q1,q2,...') — exact quantiles
    (FunctionIdentifier("ts_quantiles"), info("ts_quantiles"), { args: Seq[Expression] =>
      nargs("ts_quantiles", Seq(4, 5), args)
      val qs = literalString("ts_quantiles", args(3), "quantile list")
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      val spark = activeSession("ts_quantiles")
      GraftSessionBridge.logicalPlan(graft.ts.Quantiles.bucketQuantiles(
        spark.table(SamplesView), qs,
        literalLong("ts_quantiles", args(2), "bucket_ms"),
        if (args.length > 4) literalLong("ts_quantiles", args(4), "align_ms") else 0L,
        Some(literalLong("ts_quantiles", args(0), "from")),
        Some(literalLong("ts_quantiles", args(1), "to"))))
    }),
    // ---- round-10 analytics extensions as TVFs ----
    // ts_zscore(from, to, threshold) — per-series z-score outliers
    (FunctionIdentifier("ts_zscore"), info("ts_zscore"), { args: Seq[Expression] =>
      nargs("ts_zscore", Seq(3), args)
      val spark = activeSession("ts_zscore")
      GraftSessionBridge.logicalPlan(graft.ts.Anomaly.zscore(
        spark.table(SamplesView),
        literalDouble("ts_zscore", args(2), "threshold"),
        Some(literalLong("ts_zscore", args(0), "from")),
        Some(literalLong("ts_zscore", args(1), "to"))))
    }),
    // ts_mad(from, to, threshold) — robust modified-z outliers
    (FunctionIdentifier("ts_mad"), info("ts_mad"), { args: Seq[Expression] =>
      nargs("ts_mad", Seq(3), args)
      val spark = activeSession("ts_mad")
      GraftSessionBridge.logicalPlan(graft.ts.Anomaly.mad(
        spark.table(SamplesView),
        literalDouble("ts_mad", args(2), "threshold"),
        Some(literalLong("ts_mad", args(0), "from")),
        Some(literalLong("ts_mad", args(1), "to"))))
    }),
    // ts_trend(from, to, predict_at_ms) — per-series OLS + forecast
    (FunctionIdentifier("ts_trend"), info("ts_trend"), { args: Seq[Expression] =>
      nargs("ts_trend", Seq(3), args)
      val spark = activeSession("ts_trend")
      GraftSessionBridge.logicalPlan(graft.ts.Trend.fit(
        spark.table(SamplesView),
        literalLong("ts_trend", args(2), "predict_at_ms"),
        Some(literalLong("ts_trend", args(0), "from")),
        Some(literalLong("ts_trend", args(1), "to"))))
    }),
    // ts_histogram(from, to, lo, hi, nbins) — fixed-width value bins
    (FunctionIdentifier("ts_histogram"), info("ts_histogram"), { args: Seq[Expression] =>
      nargs("ts_histogram", Seq(5), args)
      val spark = activeSession("ts_histogram")
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.valueHistogram(
        spark.table(SamplesView),
        literalDouble("ts_histogram", args(2), "lo"),
        literalDouble("ts_histogram", args(3), "hi"),
        literalLong("ts_histogram", args(4), "nbins").toInt,
        Some(literalLong("ts_histogram", args(0), "from")),
        Some(literalLong("ts_histogram", args(1), "to"))))
    }),
    // ts_histogram_quantile(from, to, lo, hi, nbins, q) — quantile
    // estimate interpolated from the bounded histogram (PromQL shape)
    (FunctionIdentifier("ts_histogram_quantile"),
        info("ts_histogram_quantile"), { args: Seq[Expression] =>
      nargs("ts_histogram_quantile", Seq(6), args)
      val spark = activeSession("ts_histogram_quantile")
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.histogramQuantile(
        spark.table(SamplesView),
        literalDouble("ts_histogram_quantile", args(2), "lo"),
        literalDouble("ts_histogram_quantile", args(3), "hi"),
        literalLong("ts_histogram_quantile", args(4), "nbins").toInt,
        literalDouble("ts_histogram_quantile", args(5), "q"),
        Some(literalLong("ts_histogram_quantile", args(0), "from")),
        Some(literalLong("ts_histogram_quantile", args(1), "to"))))
    }),
    // ts_ddsketch_quantile(from, to, gamma, q) — the DDSketch
    // log-bucketed relative-error quantile (integer moments + the
    // [gamma^b, gamma^(b+1)) bracket)
    (FunctionIdentifier("ts_ddsketch_quantile"),
        info("ts_ddsketch_quantile"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_quantile", Seq(4), args)
      val spark = activeSession("ts_ddsketch_quantile")
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchQuantile(
        spark.table(SamplesView),
        literalDouble("ts_ddsketch_quantile", args(2), "gamma"),
        literalDouble("ts_ddsketch_quantile", args(3), "q"),
        Some(literalLong("ts_ddsketch_quantile", args(0), "from")),
        Some(literalLong("ts_ddsketch_quantile", args(1), "to"))))
    }),
    // ts_ddsketch_windowed(from, to, gamma, window_ms) — one DDSketch
    // per (series, tumbling window): the materialized per-interval
    // quantile-sketch table
    (FunctionIdentifier("ts_ddsketch_windowed"),
        info("ts_ddsketch_windowed"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_windowed", Seq(4), args)
      val spark = activeSession("ts_ddsketch_windowed")
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchWindowed(
        spark.table(SamplesView),
        literalDouble("ts_ddsketch_windowed", args(2), "gamma"),
        literalLong("ts_ddsketch_windowed", args(3), "window_ms"),
        Some(literalLong("ts_ddsketch_windowed", args(0), "from")),
        Some(literalLong("ts_ddsketch_windowed", args(1), "to"))))
    }),
    // ts_ddsketch_signed(from, to, gamma[, center]) — the THREE-STORE
    // signed DDSketch (VLDB'19 §2.2: negative/zero/positive stores).
    // The optional `center` sketches (value − center): the natural
    // form for telemetry distributed around a setpoint, and what lets
    // an all-positive fixture drive all three stores.
    (FunctionIdentifier("ts_ddsketch_signed"),
        info("ts_ddsketch_signed"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_signed", Seq(3, 4), args)
      val spark = activeSession("ts_ddsketch_signed")
      val center = if (args.length > 3)
        literalDouble("ts_ddsketch_signed", args(3), "center") else 0.0
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchHistogramSigned(
        spark.table(SamplesView)
          .withColumn("value", col("value") - center),
        literalDouble("ts_ddsketch_signed", args(2), "gamma"),
        Some(literalLong("ts_ddsketch_signed", args(0), "from")),
        Some(literalLong("ts_ddsketch_signed", args(1), "to"))))
    }),
    // ts_ddsketch_signed_quantile(from, to, gamma, q[, center]) — the
    // value-ordered three-store walk (negatives by descending
    // magnitude, zeros, positives ascending)
    (FunctionIdentifier("ts_ddsketch_signed_quantile"),
        info("ts_ddsketch_signed_quantile"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_signed_quantile", Seq(4, 5), args)
      val spark = activeSession("ts_ddsketch_signed_quantile")
      val center = if (args.length > 4)
        literalDouble("ts_ddsketch_signed_quantile", args(4), "center") else 0.0
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchQuantileSigned(
        spark.table(SamplesView)
          .withColumn("value", col("value") - center),
        literalDouble("ts_ddsketch_signed_quantile", args(2), "gamma"),
        literalDouble("ts_ddsketch_signed_quantile", args(3), "q"),
        Some(literalLong("ts_ddsketch_signed_quantile", args(0), "from")),
        Some(literalLong("ts_ddsketch_signed_quantile", args(1), "to"))))
    }),
    // ts_ddsketch_collapsed(from, to, gamma, max_buckets) — the
    // bounded-size collapsing store (VLDB'19 §2.4): at most
    // max_buckets buckets per series, lower buckets deterministically
    // folded into the floor bucket (the TVF is the collapsing form;
    // the strict loud-reject form is Column-API-only since its only
    // observable is an error)
    (FunctionIdentifier("ts_ddsketch_collapsed"),
        info("ts_ddsketch_collapsed"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_collapsed", Seq(4), args)
      val spark = activeSession("ts_ddsketch_collapsed")
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchHistogramCollapsed(
        spark.table(SamplesView),
        literalDouble("ts_ddsketch_collapsed", args(2), "gamma"),
        literalLong("ts_ddsketch_collapsed", args(3), "max_buckets").toInt,
        strict = false,
        Some(literalLong("ts_ddsketch_collapsed", args(0), "from")),
        Some(literalLong("ts_ddsketch_collapsed", args(1), "to"))))
    }),
    // ts_ddsketch_signed_windowed(from, to, gamma, window_ms[, center])
    // — one three-store sketch per (series, tumbling window)
    (FunctionIdentifier("ts_ddsketch_signed_windowed"),
        info("ts_ddsketch_signed_windowed"), { args: Seq[Expression] =>
      nargs("ts_ddsketch_signed_windowed", Seq(4, 5), args)
      val spark = activeSession("ts_ddsketch_signed_windowed")
      val center = if (args.length > 4)
        literalDouble("ts_ddsketch_signed_windowed", args(4), "center") else 0.0
      GraftSessionBridge.logicalPlan(graft.ts.Histogram.ddsketchWindowedSigned(
        spark.table(SamplesView)
          .withColumn("value", col("value") - center),
        literalDouble("ts_ddsketch_signed_windowed", args(2), "gamma"),
        literalLong("ts_ddsketch_signed_windowed", args(3), "window_ms"),
        Some(literalLong("ts_ddsketch_signed_windowed", args(0), "from")),
        Some(literalLong("ts_ddsketch_signed_windowed", args(1), "to"))))
    }),
    // ts_lttb(from, to, bucket_ms[, align_ms]) — parallel LTTB pick
    (FunctionIdentifier("ts_lttb"), info("ts_lttb"), { args: Seq[Expression] =>
      nargs("ts_lttb", Seq(3, 4), args)
      val spark = activeSession("ts_lttb")
      GraftSessionBridge.logicalPlan(graft.ts.Lttb.downsample(
        spark.table(SamplesView),
        literalLong("ts_lttb", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_lttb", args(3), "align_ms") else 0L,
        Some(literalLong("ts_lttb", args(0), "from")),
        Some(literalLong("ts_lttb", args(1), "to"))))
    }),
    // ts_ewma(from, to, alpha[, span]) — windowed EWM smoothing
    (FunctionIdentifier("ts_ewma"), info("ts_ewma"), { args: Seq[Expression] =>
      nargs("ts_ewma", Seq(3, 4), args)
      val spark = activeSession("ts_ewma")
      GraftSessionBridge.logicalPlan(graft.ts.Smoothing.ewma(
        spark.table(SamplesView),
        literalDouble("ts_ewma", args(2), "alpha"),
        if (args.length > 3) literalLong("ts_ewma", args(3), "span").toInt else 32,
        Some(literalLong("ts_ewma", args(0), "from")),
        Some(literalLong("ts_ewma", args(1), "to"))))
    }),
    // ts_cusum(from, to, threshold) — CUSUM change detection
    (FunctionIdentifier("ts_cusum"), info("ts_cusum"), { args: Seq[Expression] =>
      nargs("ts_cusum", Seq(3), args)
      val spark = activeSession("ts_cusum")
      GraftSessionBridge.logicalPlan(graft.ts.Changepoint.cusum(
        spark.table(SamplesView),
        literalDouble("ts_cusum", args(2), "threshold"),
        Some(literalLong("ts_cusum", args(0), "from")),
        Some(literalLong("ts_cusum", args(1), "to"))))
    }),
    // ts_changepoint(from, to, bucket_ms, levels, min_size) — offline
    // changepoint localization by binary segmentation of the bucket grid
    (FunctionIdentifier("ts_changepoint"), info("ts_changepoint"),
        { args: Seq[Expression] =>
      nargs("ts_changepoint", Seq(5), args)
      val spark = activeSession("ts_changepoint")
      GraftSessionBridge.logicalPlan(graft.ts.Changepoint.binseg(
        spark.table(SamplesView),
        literalLong("ts_changepoint", args(2), "bucket_ms"),
        literalLong("ts_changepoint", args(3), "levels").toInt,
        literalLong("ts_changepoint", args(4), "min_size").toInt,
        fromMs = Some(literalLong("ts_changepoint", args(0), "from")),
        toMs = Some(literalLong("ts_changepoint", args(1), "to"))))
    }),
    // ts_theilsen(from, to, bucket_ms) — Theil-Sen robust trend
    // (median pairwise slope + median-residual intercept) per series
    (FunctionIdentifier("ts_theilsen"), info("ts_theilsen"),
        { args: Seq[Expression] =>
      nargs("ts_theilsen", Seq(3), args)
      val spark = activeSession("ts_theilsen")
      GraftSessionBridge.logicalPlan(graft.ts.Trend.theilSen(
        spark.table(SamplesView),
        literalLong("ts_theilsen", args(2), "bucket_ms"),
        fromMs = Some(literalLong("ts_theilsen", args(0), "from")),
        toMs = Some(literalLong("ts_theilsen", args(1), "to"))))
    }),
    // ts_asof('left', 'right', from, to[, tolerance_ms]) — as-of join
    (FunctionIdentifier("ts_asof"), info("ts_asof"), { args: Seq[Expression] =>
      nargs("ts_asof", Seq(4, 5), args)
      val spark = activeSession("ts_asof")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.asofJoin(
        spark.table(SamplesView),
        literalString("ts_asof", args(0), "left series key"),
        literalString("ts_asof", args(1), "right series key"),
        if (args.length > 4) Some(literalLong("ts_asof", args(4), "tolerance_ms")) else None,
        Some(literalLong("ts_asof", args(2), "from")),
        Some(literalLong("ts_asof", args(3), "to"))))
    }),
    // ts_seasonal(from, to, 'hod'|'dow'[, threshold]) — profile when
    // no threshold is given, cohort anomaly otherwise
    (FunctionIdentifier("ts_seasonal"), info("ts_seasonal"), { args: Seq[Expression] =>
      nargs("ts_seasonal", Seq(3, 4), args)
      val spark = activeSession("ts_seasonal")
      val mode = literalString("ts_seasonal", args(2), "mode")
      GraftSessionBridge.logicalPlan(
        if (args.length > 3)
          graft.ts.Seasonal.anomaly(spark.table(SamplesView),
            literalDouble("ts_seasonal", args(3), "threshold"), mode,
            fromMs = Some(literalLong("ts_seasonal", args(0), "from")),
            toMs = Some(literalLong("ts_seasonal", args(1), "to")))
        else
          graft.ts.Seasonal.profile(spark.table(SamplesView), mode,
            Some(literalLong("ts_seasonal", args(0), "from")),
            Some(literalLong("ts_seasonal", args(1), "to"))))
    }),
    // ts_rolling_quantile(from, to, q, span)
    (FunctionIdentifier("ts_rolling_quantile"), info("ts_rolling_quantile"), { args: Seq[Expression] =>
      nargs("ts_rolling_quantile", Seq(4), args)
      val spark = activeSession("ts_rolling_quantile")
      GraftSessionBridge.logicalPlan(graft.ts.Rolling.rollingQuantile(
        spark.table(SamplesView),
        literalDouble("ts_rolling_quantile", args(2), "quantile"),
        literalLong("ts_rolling_quantile", args(3), "span").toInt,
        Some(literalLong("ts_rolling_quantile", args(0), "from")),
        Some(literalLong("ts_rolling_quantile", args(1), "to"))))
    }),
    // ts_winsorize(from, to, q_lo, q_hi)
    (FunctionIdentifier("ts_winsorize"), info("ts_winsorize"), { args: Seq[Expression] =>
      nargs("ts_winsorize", Seq(4), args)
      val spark = activeSession("ts_winsorize")
      GraftSessionBridge.logicalPlan(graft.ts.Rolling.winsorize(
        spark.table(SamplesView),
        literalDouble("ts_winsorize", args(2), "q_lo"),
        literalDouble("ts_winsorize", args(3), "q_hi"),
        Some(literalLong("ts_winsorize", args(0), "from")),
        Some(literalLong("ts_winsorize", args(1), "to"))))
    }),
    // ts_resample(from, to, step_ms[, align_ms]) — linear interpolation
    // onto the step grid (the Resample.linear operator's SQL form)
    (FunctionIdentifier("ts_resample"), info("ts_resample"), { args: Seq[Expression] =>
      nargs("ts_resample", Seq(3, 4), args)
      val spark = activeSession("ts_resample")
      GraftSessionBridge.logicalPlan(graft.ts.Resample.linear(
        spark.table(SamplesView),
        literalLong("ts_resample", args(2), "step_ms"),
        if (args.length > 3) literalLong("ts_resample", args(3), "align_ms") else 0L,
        Some(literalLong("ts_resample", args(0), "from")),
        Some(literalLong("ts_resample", args(1), "to"))))
    }),
    // ts_corr('a', 'b', from, to, bucket_ms[, align_ms]) —
    // bucket-aligned Pearson correlation of two series
    (FunctionIdentifier("ts_corr"), info("ts_corr"), { args: Seq[Expression] =>
      nargs("ts_corr", Seq(5, 6), args)
      val spark = activeSession("ts_corr")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.pearson(
        spark.table(SamplesView),
        literalString("ts_corr", args(0), "left series key"),
        literalString("ts_corr", args(1), "right series key"),
        literalLong("ts_corr", args(4), "bucket_ms"),
        if (args.length > 5) literalLong("ts_corr", args(5), "align_ms") else 0L,
        Some(literalLong("ts_corr", args(2), "from")),
        Some(literalLong("ts_corr", args(3), "to"))))
    }),
    // ts_delta_rate(from, to, bucket_ms[, align_ms]) — alias of
    // ts_rate under the operator's API name (deltaRate)
    (FunctionIdentifier("ts_delta_rate"), info("ts_delta_rate"), { args: Seq[Expression] =>
      nargs("ts_delta_rate", Seq(3, 4), args)
      val spark = activeSession("ts_delta_rate")
      GraftSessionBridge.logicalPlan(graft.ts.Rates.deltaRate(
        spark.table(SamplesView),
        literalLong("ts_delta_rate", args(2), "bucket_ms"),
        if (args.length > 3) literalLong("ts_delta_rate", args(3), "align_ms") else 0L,
        Some(literalLong("ts_delta_rate", args(0), "from")),
        Some(literalLong("ts_delta_rate", args(1), "to"))))
    }),
    // ts_acf(from, to, max_lag) — per-series autocorrelation
    (FunctionIdentifier("ts_acf"), info("ts_acf"), { args: Seq[Expression] =>
      nargs("ts_acf", Seq(3), args)
      val spark = activeSession("ts_acf")
      GraftSessionBridge.logicalPlan(graft.ts.Trend.acf(
        spark.table(SamplesView),
        literalLong("ts_acf", args(2), "max_lag").toInt,
        Some(literalLong("ts_acf", args(0), "from")),
        Some(literalLong("ts_acf", args(1), "to"))))
    }),
    // ts_holt(from, to, sf, tf) — Holt double-exponential smoothing
    (FunctionIdentifier("ts_holt"), info("ts_holt"), { args: Seq[Expression] =>
      nargs("ts_holt", Seq(4), args)
      val spark = activeSession("ts_holt")
      GraftSessionBridge.logicalPlan(graft.ts.Smoothing.holt(
        spark.table(SamplesView),
        literalDouble("ts_holt", args(2), "sf"),
        literalDouble("ts_holt", args(3), "tf"),
        Some(literalLong("ts_holt", args(0), "from")),
        Some(literalLong("ts_holt", args(1), "to"))))
    }),
    // ts_holt_winters(from, to, alpha, beta, gamma, m) — additive
    // triple exponential smoothing (holt + m-slot seasonal state)
    (FunctionIdentifier("ts_holt_winters"), info("ts_holt_winters"),
      { args: Seq[Expression] =>
      nargs("ts_holt_winters", Seq(6), args)
      val spark = activeSession("ts_holt_winters")
      GraftSessionBridge.logicalPlan(graft.ts.Smoothing.holtWinters(
        spark.table(SamplesView),
        literalDouble("ts_holt_winters", args(2), "alpha"),
        literalDouble("ts_holt_winters", args(3), "beta"),
        literalDouble("ts_holt_winters", args(4), "gamma"),
        literalLong("ts_holt_winters", args(5), "m").toInt,
        Some(literalLong("ts_holt_winters", args(0), "from")),
        Some(literalLong("ts_holt_winters", args(1), "to"))))
    }),
    // ts_topk(from, to, k, 'agg', bucket_ms[, 'bottom']) — per-bucket
    // cross-series top-k (bottom-k with the 6th flag argument)
    (FunctionIdentifier("ts_topk"), info("ts_topk"), { args: Seq[Expression] =>
      nargs("ts_topk", Seq(5, 6), args)
      val spark = activeSession("ts_topk")
      GraftSessionBridge.logicalPlan(graft.ts.TopK.topkSeries(
        spark.table(SamplesView),
        literalLong("ts_topk", args(2), "k").toInt,
        literalString("ts_topk", args(3), "agg"),
        literalLong("ts_topk", args(4), "bucket_ms"),
        bottom = args.length > 5 &&
          literalString("ts_topk", args(5), "direction") == "bottom",
        fromMs = Some(literalLong("ts_topk", args(0), "from")),
        toMs = Some(literalLong("ts_topk", args(1), "to"))))
    }),
    // ts_sax(from, to, bucket_ms) — SAX word per series
    (FunctionIdentifier("ts_sax"), info("ts_sax"), { args: Seq[Expression] =>
      nargs("ts_sax", Seq(3), args)
      val spark = activeSession("ts_sax")
      GraftSessionBridge.logicalPlan(graft.ts.Sax.saxWords(
        spark.table(SamplesView),
        literalLong("ts_sax", args(2), "bucket_ms"),
        fromMs = Some(literalLong("ts_sax", args(0), "from")),
        toMs = Some(literalLong("ts_sax", args(1), "to"))))
    }),
    // ts_motifs(from, to, bucket_ms, m, k) — top-k recurring SAX
    // m-grams across the corpus
    (FunctionIdentifier("ts_motifs"), info("ts_motifs"), { args: Seq[Expression] =>
      nargs("ts_motifs", Seq(5), args)
      val spark = activeSession("ts_motifs")
      GraftSessionBridge.logicalPlan(graft.ts.Sax.motifs(
        spark.table(SamplesView),
        literalLong("ts_motifs", args(2), "bucket_ms"),
        literalLong("ts_motifs", args(3), "m").toInt,
        literalLong("ts_motifs", args(4), "k").toInt,
        fromMs = Some(literalLong("ts_motifs", args(0), "from")),
        toMs = Some(literalLong("ts_motifs", args(1), "to"))))
    }),
    // ts_hw_forecast(from, to, alpha, beta, gamma, m, horizon, step_ms)
    // — Holt-Winters h-step projection past each series' last sample
    (FunctionIdentifier("ts_hw_forecast"), info("ts_hw_forecast"),
      { args: Seq[Expression] =>
      nargs("ts_hw_forecast", Seq(8), args)
      val spark = activeSession("ts_hw_forecast")
      GraftSessionBridge.logicalPlan(graft.ts.Smoothing.holtWintersForecast(
        spark.table(SamplesView),
        literalDouble("ts_hw_forecast", args(2), "alpha"),
        literalDouble("ts_hw_forecast", args(3), "beta"),
        literalDouble("ts_hw_forecast", args(4), "gamma"),
        literalLong("ts_hw_forecast", args(5), "m").toInt,
        literalLong("ts_hw_forecast", args(6), "horizon").toInt,
        literalLong("ts_hw_forecast", args(7), "step_ms"),
        Some(literalLong("ts_hw_forecast", args(0), "from")),
        Some(literalLong("ts_hw_forecast", args(1), "to"))))
    }),
    // ts_rolling_corr('a', 'b', from, to, bucket_ms, span) — trailing
    // Pearson r over the two series' aligned bucket grid
    (FunctionIdentifier("ts_rolling_corr"), info("ts_rolling_corr"),
      { args: Seq[Expression] =>
      nargs("ts_rolling_corr", Seq(6), args)
      val spark = activeSession("ts_rolling_corr")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.rollingCorr(
        spark.table(SamplesView),
        literalString("ts_rolling_corr", args(0), "series a"),
        literalString("ts_rolling_corr", args(1), "series b"),
        literalLong("ts_rolling_corr", args(4), "bucket_ms"),
        literalLong("ts_rolling_corr", args(5), "span").toInt,
        fromMs = Some(literalLong("ts_rolling_corr", args(2), "from")),
        toMs = Some(literalLong("ts_rolling_corr", args(3), "to"))))
    }),
    // ts_backtest(from, to, split, sf, tf, horizon, bucket_ms) —
    // rolling-origin holt forecast evaluation (per-series mae/rmse)
    (FunctionIdentifier("ts_backtest"), info("ts_backtest"),
      { args: Seq[Expression] =>
      nargs("ts_backtest", Seq(7), args)
      val spark = activeSession("ts_backtest")
      GraftSessionBridge.logicalPlan(graft.ts.Backtest.holtBacktest(
        spark.table(SamplesView),
        literalDouble("ts_backtest", args(3), "sf"),
        literalDouble("ts_backtest", args(4), "tf"),
        literalLong("ts_backtest", args(2), "split"),
        literalLong("ts_backtest", args(5), "horizon").toInt,
        literalLong("ts_backtest", args(6), "bucket_ms"),
        Some(literalLong("ts_backtest", args(0), "from")),
        Some(literalLong("ts_backtest", args(1), "to"))))
    }),
    // ts_backtest_rolling(from, to, 'o1,o2,...', sf, tf, horizon,
    // bucket_ms) — multi-origin sweep: per (series, origin) + the
    // pooled per-series row (origin NULL)
    (FunctionIdentifier("ts_backtest_rolling"), info("ts_backtest_rolling"),
      { args: Seq[Expression] =>
      nargs("ts_backtest_rolling", Seq(7), args)
      val origins = literalString("ts_backtest_rolling", args(2), "origin list")
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      val spark = activeSession("ts_backtest_rolling")
      GraftSessionBridge.logicalPlan(graft.ts.Backtest.holtBacktestRolling(
        spark.table(SamplesView),
        literalDouble("ts_backtest_rolling", args(3), "sf"),
        literalDouble("ts_backtest_rolling", args(4), "tf"),
        origins,
        literalLong("ts_backtest_rolling", args(5), "horizon").toInt,
        literalLong("ts_backtest_rolling", args(6), "bucket_ms"),
        Some(literalLong("ts_backtest_rolling", args(0), "from")),
        Some(literalLong("ts_backtest_rolling", args(1), "to"))))
    }),
    // ts_matrix_profile(from, to, bucket_ms, m) — per-window
    // z-normalized nearest-neighbor distance profile per series
    (FunctionIdentifier("ts_matrix_profile"), info("ts_matrix_profile"),
      { args: Seq[Expression] =>
      nargs("ts_matrix_profile", Seq(4, 5), args)
      val spark = activeSession("ts_matrix_profile")
      // optional 5th arg: max_windows — a value past MaxPairWindows is
      // the explicit opt-in that routes through the STOMP long path
      GraftSessionBridge.logicalPlan(graft.ts.MatrixProfile.profileAuto(
        spark.table(SamplesView),
        literalLong("ts_matrix_profile", args(2), "bucket_ms"),
        literalLong("ts_matrix_profile", args(3), "m").toInt,
        Some(literalLong("ts_matrix_profile", args(0), "from")),
        Some(literalLong("ts_matrix_profile", args(1), "to")),
        if (args.length > 4)
          literalLong("ts_matrix_profile", args(4), "max_windows").toInt
        else graft.ts.MatrixProfile.MaxPairWindows))
    }),
    // ts_decompose_anomaly(from, to, bucket_ms, period, threshold) —
    // seasonal-adjusted anomaly: z-score on the decomposition remainder
    (FunctionIdentifier("ts_decompose_anomaly"), info("ts_decompose_anomaly"),
      { args: Seq[Expression] =>
      nargs("ts_decompose_anomaly", Seq(5), args)
      val spark = activeSession("ts_decompose_anomaly")
      GraftSessionBridge.logicalPlan(graft.ts.Seasonal.remainderAnomaly(
        spark.table(SamplesView),
        literalLong("ts_decompose_anomaly", args(2), "bucket_ms"),
        literalLong("ts_decompose_anomaly", args(3), "period").toInt,
        literalDouble("ts_decompose_anomaly", args(4), "threshold"),
        Some(literalLong("ts_decompose_anomaly", args(0), "from")),
        Some(literalLong("ts_decompose_anomaly", args(1), "to"))))
    }),
    // ts_corr_matrix('k1 k2 ...', from, to, bucket_ms[, align_ms]) —
    // pairwise Pearson over the bounded series list (numkeys-guarded)
    (FunctionIdentifier("ts_corr_matrix"), info("ts_corr_matrix"),
      { args: Seq[Expression] =>
      nargs("ts_corr_matrix", Seq(4, 5), args)
      val keys = literalString("ts_corr_matrix", args(0), "series list")
        .split("\\s+").filter(_.nonEmpty).toSeq
      val spark = activeSession("ts_corr_matrix")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.pearsonMatrix(
        spark.table(SamplesView), keys,
        literalLong("ts_corr_matrix", args(3), "bucket_ms"),
        if (args.length > 4) literalLong("ts_corr_matrix", args(4), "align_ms") else 0L,
        Some(literalLong("ts_corr_matrix", args(1), "from")),
        Some(literalLong("ts_corr_matrix", args(2), "to"))))
    }),
    // ts_corr_matrix_filter('<FILTER preds>', from, to, bucket_ms
    //                       [, align_ms]) — the matrix over a
    // label-resolved set; the numkeys guard is IN the plan (lazy
    // assert on the matched count — no analysis-time driver action)
    (FunctionIdentifier("ts_corr_matrix_filter"), info("ts_corr_matrix_filter"),
      { args: Seq[Expression] =>
      nargs("ts_corr_matrix_filter", Seq(4, 5), args)
      val preds = parsePreds("ts_corr_matrix_filter", args.head)
      require(preds.nonEmpty,
        "ts_corr_matrix_filter: at least one label predicate is required")
      val spark = activeSession("ts_corr_matrix_filter")
      GraftSessionBridge.logicalPlan(graft.ts.AsOf.pearsonMatrixByFilter(
        spark.table(SamplesView), spark.table(LabelsView), preds,
        literalLong("ts_corr_matrix_filter", args(3), "bucket_ms"),
        if (args.length > 4) literalLong("ts_corr_matrix_filter", args(4), "align_ms") else 0L,
        Some(literalLong("ts_corr_matrix_filter", args(1), "from")),
        Some(literalLong("ts_corr_matrix_filter", args(2), "to"))))
    }),
    // ts_mp_discords(from, to, bucket_ms, m, k) — per-series top-k
    // largest-nn-distance windows (the anomalies)
    (FunctionIdentifier("ts_mp_discords"), info("ts_mp_discords"),
      { args: Seq[Expression] =>
      nargs("ts_mp_discords", Seq(5, 6), args)
      val spark = activeSession("ts_mp_discords")
      GraftSessionBridge.logicalPlan(graft.ts.MatrixProfile.discords(
        spark.table(SamplesView),
        literalLong("ts_mp_discords", args(2), "bucket_ms"),
        literalLong("ts_mp_discords", args(3), "m").toInt,
        literalLong("ts_mp_discords", args(4), "k").toInt,
        Some(literalLong("ts_mp_discords", args(0), "from")),
        Some(literalLong("ts_mp_discords", args(1), "to")),
        if (args.length > 5) // past MaxPairWindows → STOMP long route
          literalLong("ts_mp_discords", args(5), "max_windows").toInt
        else graft.ts.MatrixProfile.MaxPairWindows))
    }),
    // ts_mp_motifs(from, to, bucket_ms, m, k) — the dual: smallest
    // nn-distance windows (the repeated shapes)
    (FunctionIdentifier("ts_mp_motifs"), info("ts_mp_motifs"),
      { args: Seq[Expression] =>
      nargs("ts_mp_motifs", Seq(5, 6), args)
      val spark = activeSession("ts_mp_motifs")
      GraftSessionBridge.logicalPlan(graft.ts.MatrixProfile.motifWindows(
        spark.table(SamplesView),
        literalLong("ts_mp_motifs", args(2), "bucket_ms"),
        literalLong("ts_mp_motifs", args(3), "m").toInt,
        literalLong("ts_mp_motifs", args(4), "k").toInt,
        Some(literalLong("ts_mp_motifs", args(0), "from")),
        Some(literalLong("ts_mp_motifs", args(1), "to")),
        if (args.length > 5) // past MaxPairWindows → STOMP long route
          literalLong("ts_mp_motifs", args(5), "max_windows").toInt
        else graft.ts.MatrixProfile.MaxPairWindows))
    }),
    // ts_mp_join('a', 'b', from, to, bucket_ms, m) — AB-join profile
    (FunctionIdentifier("ts_mp_join"), info("ts_mp_join"),
      { args: Seq[Expression] =>
      nargs("ts_mp_join", Seq(6, 7), args)
      val spark = activeSession("ts_mp_join")
      GraftSessionBridge.logicalPlan(graft.ts.MatrixProfile.joinProfile(
        spark.table(SamplesView),
        literalLong("ts_mp_join", args(4), "bucket_ms"),
        literalLong("ts_mp_join", args(5), "m").toInt,
        literalString("ts_mp_join", args(0), "series a"),
        literalString("ts_mp_join", args(1), "series b"),
        Some(literalLong("ts_mp_join", args(2), "from")),
        Some(literalLong("ts_mp_join", args(3), "to")),
        if (args.length > 6) // past MaxPairWindows → STOMP AB-join
          literalLong("ts_mp_join", args(6), "max_windows").toInt
        else graft.ts.MatrixProfile.MaxPairWindows))
    }),
    // ts_matrix_profile_stomp(from, to, bucket_ms, m) — the STOMP
    // long-profile path (same distances, O(1) per cell, no pair join;
    // the route past the pairs path's maxWindows guard)
    (FunctionIdentifier("ts_matrix_profile_stomp"), info("ts_matrix_profile_stomp"),
      { args: Seq[Expression] =>
      nargs("ts_matrix_profile_stomp", Seq(4), args)
      val spark = activeSession("ts_matrix_profile_stomp")
      GraftSessionBridge.logicalPlan(graft.ts.MatrixProfile.profileStomp(
        spark.table(SamplesView),
        literalLong("ts_matrix_profile_stomp", args(2), "bucket_ms"),
        literalLong("ts_matrix_profile_stomp", args(3), "m").toInt,
        Some(literalLong("ts_matrix_profile_stomp", args(0), "from")),
        Some(literalLong("ts_matrix_profile_stomp", args(1), "to"))))
    }),
    // ---- corpus-pipeline TVFs (round 13): the LLM-data half of the
    // engine becomes SQL-reachable like the ts_* family. Bench/eval
    // predicates arrive as SQL predicate strings over the documents
    // view — the same contract the DuckDB oracles already use. ----
    // corpus_source_cap(cap) — per-source quality cap (domain
    // balancing); the plan must keep compiling to WindowGroupLimit
    // through the SQL route (ExtensionsSpec pins it)
    (FunctionIdentifier("corpus_source_cap"), info("corpus_source_cap"),
      { args: Seq[Expression] =>
      nargs("corpus_source_cap", Seq(1), args)
      val spark = activeSession("corpus_source_cap")
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.sourceCap(
        spark.table(DocumentsView),
        literalLong("corpus_source_cap", args(0), "cap").toInt))
    }),
    // corpus_contamination('bench_pred'[, min_shared]) — exact n-gram
    // decontamination: the benchmark side is the documents-view rows
    // matching the SQL predicate, the train side is the whole view
    (FunctionIdentifier("corpus_contamination"), info("corpus_contamination"),
      { args: Seq[Expression] =>
      nargs("corpus_contamination", Seq(1, 2), args)
      val spark = activeSession("corpus_contamination")
      val docs = spark.table(DocumentsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.contamination(
        docs,
        docs.filter(expr(literalString("corpus_contamination", args(0), "bench predicate"))),
        if (args.length > 1) literalLong("corpus_contamination", args(1), "min_shared") else 5L))
    }),
    // corpus_contamination_frac('bench_pred'[, n]) — the graded
    // (fraction-of-shingles) variant
    (FunctionIdentifier("corpus_contamination_frac"), info("corpus_contamination_frac"),
      { args: Seq[Expression] =>
      nargs("corpus_contamination_frac", Seq(1, 2), args)
      val spark = activeSession("corpus_contamination_frac")
      val docs = spark.table(DocumentsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.contaminationFraction(
        docs,
        docs.filter(expr(literalString("corpus_contamination_frac", args(0), "bench predicate"))),
        if (args.length > 1) literalLong("corpus_contamination_frac", args(1), "n").toInt else 5))
    }),
    // corpus_contamination_fuzzy('bench_pred', 'train_pred'
    //                            [, num_hashes, band_rows]) — MinHash
    // band-bucket collision decontamination (paraphrased leakage)
    (FunctionIdentifier("corpus_contamination_fuzzy"), info("corpus_contamination_fuzzy"),
      { args: Seq[Expression] =>
      nargs("corpus_contamination_fuzzy", Seq(2, 4), args)
      val spark = activeSession("corpus_contamination_fuzzy")
      val docs = spark.table(DocumentsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.contaminationFuzzy(
        docs.filter(expr(literalString("corpus_contamination_fuzzy", args(1), "train predicate"))),
        docs.filter(expr(literalString("corpus_contamination_fuzzy", args(0), "bench predicate"))),
        if (args.length > 2) literalLong("corpus_contamination_fuzzy", args(2), "num_hashes").toInt else 16,
        if (args.length > 3) literalLong("corpus_contamination_fuzzy", args(3), "band_rows").toInt else 4))
    }),
    // ann_recall('q1 q2 ...', k, n_centroids, n_probe[, dim]) —
    // recall@k of the probe-limited IVF path (deterministic synthetic
    // quantizer) vs brute-force ground truth over the embeddings view.
    // Splices the PLAN-ONLY ivfTopKQuantizedLazy: an analysis-time
    // builder must not run driver actions (the banded-DTW discipline),
    // and the lazy probe ranking is provably the eager one.
    (FunctionIdentifier("ann_recall"), info("ann_recall"),
      { args: Seq[Expression] =>
      nargs("ann_recall", Seq(4, 5), args)
      val spark = activeSession("ann_recall")
      val qids = literalString("ann_recall", args(0), "query id list")
        .split("\\s+").filter(_.nonEmpty).map(_.toLong).toSeq
      require(qids.nonEmpty, "ann_recall: at least one query id is required")
      val k = literalLong("ann_recall", args(1), "k").toInt
      val nc = literalLong("ann_recall", args(2), "n_centroids").toInt
      val np = literalLong("ann_recall", args(3), "n_probe").toInt
      val dim = if (args.length > 4) literalLong("ann_recall", args(4), "dim").toInt else 64
      val embs = spark.table(EmbeddingsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.Similarity.recallAtK(
        graft.pipeline.Similarity.ivfTopKQuantizedLazy(embs, qids, k,
          graft.pipeline.Similarity.syntheticCentroids(nc, dim), np),
        graft.pipeline.Similarity.bruteForceTopK(embs, qids, k)))
    }),
    // corpus_decontaminate('bench_pred'[, min_shared]) — the
    // flag→DROP end product: the corpus minus flagged docs
    (FunctionIdentifier("corpus_decontaminate"), info("corpus_decontaminate"),
      { args: Seq[Expression] =>
      nargs("corpus_decontaminate", Seq(1, 2), args)
      val spark = activeSession("corpus_decontaminate")
      val docs = spark.table(DocumentsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.decontaminatedCorpus(
        docs,
        docs.filter(expr(literalString("corpus_decontaminate", args(0), "bench predicate"))),
        if (args.length > 1) literalLong("corpus_decontaminate", args(1), "min_shared") else 5L))
    }),
    // corpus_langid() / corpus_text_quality() / corpus_tokens() — the
    // per-row text gates as TVFs (pure projections over the view)
    (FunctionIdentifier("corpus_langid"), info("corpus_langid"),
      { args: Seq[Expression] =>
      nargs("corpus_langid", Seq(0), args)
      val spark = activeSession("corpus_langid")
      GraftSessionBridge.logicalPlan(
        graft.pipeline.Text.languageId(spark.table(DocumentsView)))
    }),
    // corpus_source_divergence(top_n, alpha) — per-source KL/JS
    // divergence vs the corpus unigram distribution (mix health)
    (FunctionIdentifier("corpus_source_divergence"),
        info("corpus_source_divergence"), { args: Seq[Expression] =>
      nargs("corpus_source_divergence", Seq(2), args)
      val spark = activeSession("corpus_source_divergence")
      GraftSessionBridge.logicalPlan(graft.pipeline.Text.sourceDivergence(
        spark.table(DocumentsView),
        literalLong("corpus_source_divergence", args(0), "top_n").toInt,
        literalDouble("corpus_source_divergence", args(1), "alpha")))
    }),
    // corpus_source_moments(top_n) — the exact integer moments grid
    // behind corpus_source_divergence (source, word, n_sw, n_w, n_s,
    // n_tot): the bit-stable, driver-hashable carrier of the operator
    // (the smoothed log-sum scores can't be — explicit-moments
    // convention, see Text.sourceDivergenceMoments)
    (FunctionIdentifier("corpus_source_moments"),
        info("corpus_source_moments"), { args: Seq[Expression] =>
      nargs("corpus_source_moments", Seq(1), args)
      val spark = activeSession("corpus_source_moments")
      GraftSessionBridge.logicalPlan(graft.pipeline.Text.sourceDivergenceMoments(
        spark.table(DocumentsView),
        literalLong("corpus_source_moments", args(0), "top_n").toInt))
    }),
    (FunctionIdentifier("corpus_text_quality"), info("corpus_text_quality"),
      { args: Seq[Expression] =>
      nargs("corpus_text_quality", Seq(0), args)
      val spark = activeSession("corpus_text_quality")
      GraftSessionBridge.logicalPlan(
        graft.pipeline.Text.qualityMetrics(spark.table(DocumentsView)))
    }),
    (FunctionIdentifier("corpus_tokens"), info("corpus_tokens"),
      { args: Seq[Expression] =>
      nargs("corpus_tokens", Seq(0), args)
      val spark = activeSession("corpus_tokens")
      GraftSessionBridge.logicalPlan(
        graft.pipeline.Text.tokenCounts(spark.table(DocumentsView)))
    }),
    // corpus_stratified_sample('lang=rate lang=rate', default_rate
    //                          [, val_fraction]) — deterministic
    // md5-threshold sampling + train/val split
    (FunctionIdentifier("corpus_stratified_sample"), info("corpus_stratified_sample"),
      { args: Seq[Expression] =>
      nargs("corpus_stratified_sample", Seq(2, 3), args)
      val spark = activeSession("corpus_stratified_sample")
      val rates = literalString("corpus_stratified_sample", args(0), "rate list")
        .split("\\s+").filter(_.nonEmpty).map { kv =>
          val Array(l, r) = kv.split("=", 2)
          l -> r.toDouble
        }.toMap
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.stratifiedSample(
        spark.table(DocumentsView), rates,
        literalDouble("corpus_stratified_sample", args(1), "default_rate"),
        if (args.length > 2)
          literalDouble("corpus_stratified_sample", args(2), "val_fraction")
        else 0.1))
    }),
    // corpus_pack_sequences(budget_tokens, n_shards) — fixed-budget
    // training-sequence packing (concat-then-chunk semantics)
    (FunctionIdentifier("corpus_pack_sequences"), info("corpus_pack_sequences"),
      { args: Seq[Expression] =>
      nargs("corpus_pack_sequences", Seq(2), args)
      val spark = activeSession("corpus_pack_sequences")
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.packSequences(
        spark.table(DocumentsView),
        literalLong("corpus_pack_sequences", args(0), "budget_tokens"),
        literalLong("corpus_pack_sequences", args(1), "n_shards").toInt))
    }),
    // corpus_chunk(chunk_tokens, overlap_tokens) — sliding-window
    // document chunking (zero-shuffle scan → project → generate)
    (FunctionIdentifier("corpus_chunk"), info("corpus_chunk"),
      { args: Seq[Expression] =>
      nargs("corpus_chunk", Seq(2), args)
      val spark = activeSession("corpus_chunk")
      GraftSessionBridge.logicalPlan(graft.pipeline.Chunking.chunk(
        spark.table(DocumentsView),
        literalLong("corpus_chunk", args(0), "chunk_tokens").toInt,
        literalLong("corpus_chunk", args(1), "overlap_tokens").toInt))
    }),
    // corpus_dedup_pairs(threshold, max_doc_id) — exact pairwise
    // n-gram Jaccard over a bounded id range (the LSH paths' ground
    // truth; the bound is the quadratic-contract guard)
    (FunctionIdentifier("corpus_dedup_pairs"), info("corpus_dedup_pairs"),
      { args: Seq[Expression] =>
      nargs("corpus_dedup_pairs", Seq(2), args)
      val spark = activeSession("corpus_dedup_pairs")
      GraftSessionBridge.logicalPlan(graft.pipeline.Dedup.ngramJaccardPairs(
        spark.table(DocumentsView),
        literalDouble("corpus_dedup_pairs", args(0), "threshold"),
        literalLong("corpus_dedup_pairs", args(1), "max_doc_id")))
    }),
    // corpus_dsir('target_pred', n_buckets, keep_frac) — DSIR
    // importance resampling against the predicate-selected target set
    (FunctionIdentifier("corpus_dsir"), info("corpus_dsir"),
      { args: Seq[Expression] =>
      nargs("corpus_dsir", Seq(3), args)
      val spark = activeSession("corpus_dsir")
      GraftSessionBridge.logicalPlan(graft.pipeline.Dsir.select(
        spark.table(DocumentsView),
        expr(literalString("corpus_dsir", args(0), "target predicate")),
        literalLong("corpus_dsir", args(1), "n_buckets").toInt,
        literalDouble("corpus_dsir", args(2), "keep_frac")))
    }),
    // corpus_quality_percentile(drop_frac) — the no-global-sort
    // percentile gate; splices the PLAN-ONLY lazy variant (scalar
    // subqueries instead of driver-side heads), provably equal
    (FunctionIdentifier("corpus_quality_percentile"), info("corpus_quality_percentile"),
      { args: Seq[Expression] =>
      nargs("corpus_quality_percentile", Seq(1), args)
      val spark = activeSession("corpus_quality_percentile")
      GraftSessionBridge.logicalPlan(
        graft.pipeline.CorpusPipeline.qualityPercentileKeepLazy(
          spark.table(DocumentsView),
          literalDouble("corpus_quality_percentile", args(0), "drop_frac")))
    }),
    // ann_topk('q1 q2 ...', k) — exact brute-force cosine top-k
    (FunctionIdentifier("ann_topk"), info("ann_topk"),
      { args: Seq[Expression] =>
      nargs("ann_topk", Seq(2), args)
      val spark = activeSession("ann_topk")
      val qids = literalString("ann_topk", args(0), "query id list")
        .split("\\s+").filter(_.nonEmpty).map(_.toLong).toSeq
      require(qids.nonEmpty, "ann_topk: at least one query id is required")
      GraftSessionBridge.logicalPlan(graft.pipeline.Similarity.bruteForceTopK(
        spark.table(EmbeddingsView), qids,
        literalLong("ann_topk", args(1), "k").toInt))
    }),
    // emb_label_drift() — per-label centroid cosine vs the global
    // corpus centroid (embedding-space mix health)
    (FunctionIdentifier("emb_label_drift"), info("emb_label_drift"),
      { args: Seq[Expression] =>
      nargs("emb_label_drift", Seq(0), args)
      val spark = activeSession("emb_label_drift")
      GraftSessionBridge.logicalPlan(
        graft.pipeline.Similarity.labelCentroidDrift(
          spark.table(EmbeddingsView)))
    }),
    // ann_ivf_topk('q1 q2 ...', k, n_centroids, n_probe[, dim]) —
    // probe-limited IVF top-k (plan-only probe ranking, deterministic
    // synthetic quantizer — the same literals the oracle re-derives)
    (FunctionIdentifier("ann_ivf_topk"), info("ann_ivf_topk"),
      { args: Seq[Expression] =>
      nargs("ann_ivf_topk", Seq(4, 5), args)
      val spark = activeSession("ann_ivf_topk")
      val qids = literalString("ann_ivf_topk", args(0), "query id list")
        .split("\\s+").filter(_.nonEmpty).map(_.toLong).toSeq
      require(qids.nonEmpty, "ann_ivf_topk: at least one query id is required")
      val dim = if (args.length > 4) literalLong("ann_ivf_topk", args(4), "dim").toInt else 64
      GraftSessionBridge.logicalPlan(graft.pipeline.Similarity.ivfTopKQuantizedLazy(
        spark.table(EmbeddingsView), qids,
        literalLong("ann_ivf_topk", args(1), "k").toInt,
        graft.pipeline.Similarity.syntheticCentroids(
          literalLong("ann_ivf_topk", args(2), "n_centroids").toInt, dim),
        literalLong("ann_ivf_topk", args(3), "n_probe").toInt))
    }),
    // corpus_admit('state_dir'[, num_hashes, band_rows]) — incremental
    // corpus admission: the documents VIEW is the new batch, verdicts
    // against the materialized state under state_dir (either layout;
    // the versioned manifest resolves per query)
    (FunctionIdentifier("corpus_admit"), info("corpus_admit"),
      { args: Seq[Expression] =>
      nargs("corpus_admit", Seq(1, 3), args)
      val spark = activeSession("corpus_admit")
      GraftSessionBridge.logicalPlan(graft.pipeline.IncrementalAdmit.admit(
        spark, spark.table(DocumentsView),
        literalString("corpus_admit", args(0), "state_dir"),
        if (args.length > 1) literalLong("corpus_admit", args(1), "num_hashes").toInt else 16,
        if (args.length > 2) literalLong("corpus_admit", args(2), "band_rows").toInt else 4))
    }),
    // ts_dtw_nearest_banded('probe', from, to, bucket_ms, k, band) —
    // Sakoe-Chiba banded profile search. Splices the PURE banded plan
    // (nearestBanded): the LB_Keogh-pruned variant is driver-eager
    // (envelope + seed-cutoff actions), which an analysis-time splice
    // must not be — and its result is provably identical.
    (FunctionIdentifier("ts_dtw_nearest_banded"), info("ts_dtw_nearest_banded"),
      { args: Seq[Expression] =>
      nargs("ts_dtw_nearest_banded", Seq(6), args)
      val spark = activeSession("ts_dtw_nearest_banded")
      GraftSessionBridge.logicalPlan(graft.ts.Dtw.nearestBanded(
        spark.table(SamplesView),
        literalLong("ts_dtw_nearest_banded", args(3), "bucket_ms"),
        literalString("ts_dtw_nearest_banded", args(0), "probe series"),
        literalLong("ts_dtw_nearest_banded", args(4), "k").toInt,
        literalLong("ts_dtw_nearest_banded", args(5), "band").toInt,
        Some(literalLong("ts_dtw_nearest_banded", args(1), "from")),
        Some(literalLong("ts_dtw_nearest_banded", args(2), "to"))))
    }),
    // ---- round-14 corpus TVFs: the non-iterative stragglers. What
    // stays DELIBERATELY excluded from the SQL surface: classifier
    // TRAINING (corpus_classifier_*train*) and connected-component
    // contraction — both are driver-side ITERATIVE loops (per-step
    // collect/convergence actions), which an analysis-time TVF splice
    // must never take. Their serving halves are here instead:
    // corpus_classifier_score takes a trained model's literal weights.
    // corpus_mix_temperature(target) — sqrt-temperature source quotas;
    // splices the PLAN-ONLY lazy variant (full per-source rank, no
    // pre-filter checkpoint/starvation count — result identical)
    (FunctionIdentifier("corpus_mix_temperature"), info("corpus_mix_temperature"),
      { args: Seq[Expression] =>
      nargs("corpus_mix_temperature", Seq(1), args)
      val spark = activeSession("corpus_mix_temperature")
      GraftSessionBridge.logicalPlan(graft.pipeline.CorpusPipeline.mixByTemperatureLazy(
        spark.table(DocumentsView),
        literalLong("corpus_mix_temperature", args(0), "target")))
    }),
    // corpus_boilerplate(w, min_docs) — the repeated-segment vocabulary
    (FunctionIdentifier("corpus_boilerplate"), info("corpus_boilerplate"),
      { args: Seq[Expression] =>
      nargs("corpus_boilerplate", Seq(2), args)
      val spark = activeSession("corpus_boilerplate")
      GraftSessionBridge.logicalPlan(graft.pipeline.Dedup.boilerplateSegments(
        spark.table(DocumentsView),
        literalLong("corpus_boilerplate", args(0), "w").toInt,
        literalLong("corpus_boilerplate", args(1), "min_docs").toInt))
    }),
    // corpus_boilerplate_clean(w, min_docs) — the stripped corpus
    // (lazy route: AQE sizes the vocabulary side, no counted gate)
    (FunctionIdentifier("corpus_boilerplate_clean"), info("corpus_boilerplate_clean"),
      { args: Seq[Expression] =>
      nargs("corpus_boilerplate_clean", Seq(2), args)
      val spark = activeSession("corpus_boilerplate_clean")
      GraftSessionBridge.logicalPlan(graft.pipeline.Dedup.removeBoilerplate(
        spark.table(DocumentsView),
        literalLong("corpus_boilerplate_clean", args(0), "w").toInt,
        literalLong("corpus_boilerplate_clean", args(1), "min_docs").toInt,
        lazyPlan = true))
    }),
    // corpus_keep(threshold, max_doc_id) — the MinHash+LSH dedup
    // verdict: the corpus slice minus every near-dup pair's j side
    // (lazy route: no signature checkpoint, no counted broadcasts)
    (FunctionIdentifier("corpus_keep"), info("corpus_keep"),
      { args: Seq[Expression] =>
      nargs("corpus_keep", Seq(2), args)
      val spark = activeSession("corpus_keep")
      val maxId = literalLong("corpus_keep", args(1), "max_doc_id")
      val docs = spark.table(DocumentsView)
      GraftSessionBridge.logicalPlan(graft.pipeline.Dedup.dedupedCorpus(
        docs.filter(col("doc_id") < maxId),
        graft.pipeline.Dedup.minhashLshPairs(docs,
          literalDouble("corpus_keep", args(0), "threshold"),
          maxDocId = maxId, lazyPlan = true),
        lazyPlan = true))
    }),
    // corpus_classifier_score('b:w b:w ...', n_buckets) — serving-side
    // scoring with a trained model's literal weights (bucket -1 = bias;
    // training itself is API-only — see the exclusion note above)
    (FunctionIdentifier("corpus_classifier_score"), info("corpus_classifier_score"),
      { args: Seq[Expression] =>
      nargs("corpus_classifier_score", Seq(2), args)
      val spark = activeSession("corpus_classifier_score")
      val weights = literalString("corpus_classifier_score", args(0), "weights")
        .split("\\s+").filter(_.nonEmpty).map { kv =>
          val i = kv.lastIndexOf(':')
          require(i > 0, s"corpus_classifier_score: bad weight '$kv' — want bucket:weight")
          kv.substring(0, i).toLong -> kv.substring(i + 1).toDouble
        }.toMap
      GraftSessionBridge.logicalPlan(graft.pipeline.QualityClassifier.scoreWithWeights(
        spark.table(DocumentsView), weights,
        literalLong("corpus_classifier_score", args(1), "n_buckets").toInt))
    })
  )

  /** Register every kernel + table function on a live session
    * (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = GraftSessionBridge.functionRegistry(spark)
    all.foreach { case (id, inf, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, inf, builder)
    }
    val tvfs = GraftSessionBridge.tableFunctionRegistry(spark)
    tableFunctions.foreach { case (id, inf, builder) =>
      if (!tvfs.functionExists(id)) tvfs.registerFunction(id, inf, builder)
    }
    // optimizer rules: experimental.extraOptimizations is the public
    // live-session twin of injectOptimizerRule
    if (!spark.experimental.extraOptimizations.contains(graft.plans.VecNormRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.VecNormRule
  }
}

/** Session-build-time injector:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    GraftFunctions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => graft.plans.VecNormRule)
  }
}
