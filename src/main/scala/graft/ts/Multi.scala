package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multi-series surface: label predicates, MRANGE/MREVRANGE with
 * GROUPBY/REDUCE, MGET/GET, NRANGE pivot, QUERYINDEX/QUERYLABELS, INFO
 * (reference: §2.5/§2.7 of SURVEY.md; module.c:624-688, 2132-2265,
 * resultset.c:125-277, indexer.c:132-170).
 *
 * Scale design: the O(#series) labels DataFrame is a driver-resident
 * index ([[labelIndex]]), the analogue of the reference's in-memory
 * posting dicts (reference: indexer.c:132-170). Label filtering is a
 * plain filter on it, which Catalyst folds into a new local relation
 * at optimization time, so TS.QUERYINDEX runs no Spark job; the
 * matched set then enters the samples scan as a **broadcast** semi-join
 * — the Catalyst equivalent of the reference's posting-dict
 * intersection (reference: indexer.c:396-434, smallest-predicate-first).
 * No shuffle of the big side, and the events table is read once per
 * query, for its samples only. GROUPBY/REDUCE is the canonical two-level
 * aggregation: Catalyst's partial/final split plays the reference's
 * shard-mapper/coordinator roles (reference: libmr_commands.c:672-701).
 */
object Multi {

  // ----- label predicate language (reference: indexer.c:132-170) -------

  sealed trait LabelPred { def label: String }
  final case class Eq(label: String, v: String) extends LabelPred
  final case class NotEq(label: String, v: String) extends LabelPred
  final case class Absent(label: String) extends LabelPred        // l=
  final case class Present(label: String) extends LabelPred       // l!=
  final case class InSet(label: String, vs: Seq[String]) extends LabelPred
  final case class NotInSet(label: String, vs: Seq[String]) extends LabelPred

  /** Parse one `FILTER` matcher (reference: query_language.c:755-823). */
  def parsePred(s: String): LabelPred = {
    def splitList(v: String) =
      v.stripPrefix("(").stripSuffix(")").split(",").map(_.trim).toSeq
    s match {
      case p if p.contains("!=") =>
        val Array(l, v) = p.split("!=", 2)
        if (v.isEmpty) Present(l)
        else if (v.startsWith("(")) NotInSet(l, splitList(v))
        else NotEq(l, v)
      case p if p.contains("=") =>
        val Array(l, v) = p.split("=", 2)
        if (v.isEmpty) Absent(l)
        else if (v.startsWith("(")) InSet(l, splitList(v))
        else Eq(l, v)
      case other => throw new IllegalArgumentException(s"bad label filter $other")
    }
  }

  /** ≥1 inclusive matcher required (reference: query_language.c:903-907). */
  def requireInclusive(preds: Seq[LabelPred]): Unit =
    require(preds.exists { case _: Eq | _: InSet => true; case _ => false },
      "label filter needs at least one equality/list matcher")

  /** Compile to a Column over the labels DF's MAP column. */
  def predColumn(p: LabelPred): Column = {
    def g(l: String) = element_at(col("labels"), l)
    p match {
      case Eq(l, v)        => g(l) === v
      case NotEq(l, v)     => g(l).isNull || g(l) =!= v
      case Absent(l)       => g(l).isNull
      case Present(l)      => g(l).isNotNull
      case InSet(l, vs)    => g(l).isInCollection(vs)
      case NotInSet(l, vs) => g(l).isNull || !g(l).isInCollection(vs)
    }
  }

  /** The label index as a driver-resident relation: `labels` (O(#series)
    * rows) is collected ONCE, here, and comes back as a `LocalRelation`.
    * Filters and projections over it fold into a new local relation at
    * optimization time (no Spark job); aggregates and broadcast joins
    * read the driver rows instead of scanning the source. The frame is
    * a snapshot: rows written to the source after this call are not in
    * it. */
  def labelIndex(labels: DataFrame): DataFrame =
    labels.sparkSession.createDataFrame(labels.collectAsList(), labels.schema)

  /** Matching series for a conjunction of label predicates
    * (TS.QUERYINDEX, reference: module.c:299-337). */
  def queryIndex(labels: DataFrame, preds: Seq[LabelPred]): DataFrame = {
    requireInclusive(preds)
    preds.map(predColumn).reduceOption(_ && _)
      .map(labels.filter).getOrElse(labels)
      .select(col("series"))
  }

  /** Restrict a samples DF to label-matching series via broadcast
    * semi-join (labels is O(#series), always small). */
  def filterSeries(samples: DataFrame, labels: DataFrame, preds: Seq[LabelPred]): DataFrame =
    samples.join(broadcast(queryIndex(labels, preds)), Seq("series"), "left_semi")

  /** TS.MRANGE: label filter -> per-series range/agg (single pass over
    * all matched series; reference: module.c:568-622).
    *
    * Empty-series mapping: the reference's reply lists every matched
    * series, empty ones with an empty sample array, and EXCLUDEEMPTY
    * removes them; in the relational result an empty series simply has
    * no rows — the row SET equals the reference's under both modes
    * (the per-series grouping is carried by the `series` column, not
    * by reply nesting). [[mget]], whose reply is one-entry-per-series
    * by construction, does surface empty series as null rows. */
  def mrange(
      samples: DataFrame, labels: DataFrame,
      preds: Seq[LabelPred], args: RangeQuery.RangeArgs): DataFrame =
    RangeQuery.range(filterSeries(samples, labels, preds), args)

  /** TS.MRANGE ... LATEST over compaction dests: label-filter the SOURCE
    * series, materialize the rule's dest samples (in-flight bucket
    * included iff `args.latest`), then run the shared range pipeline
    * (reference: LATEST parsed in the common option path
    * query_language.c:646-651, applied per dest at module.c:919). */
  def mrangeDest(
      samples: DataFrame, labels: DataFrame, preds: Seq[LabelPred],
      rule: Compaction.Rule, args: RangeQuery.RangeArgs): DataFrame =
    RangeQuery.rangeOverDest(filterSeries(samples, labels, preds), rule, args)

  /** TS.MRANGE ... GROUPBY label REDUCE reducer: per-series AGGREGATION
    * first, then a cross-series reduce per (label value, bucket)
    * (reference order: replyGroupedMultiRange module.c:467-526).
    * Output pseudo-series "label=value" (reference: resultset.c:125-277).
    * All-NaN groups reduce to NaN, count-family to 0 (reference:
    * multiseries_agg_dup_sample_iterator.c:46-59).
    *
    * Every per-series aggregator column is reduced in lockstep — the
    * reference replays N aggregators through the grouped path
    * (reply.c:291-358); we reduce all of them in ONE grouped pass.
    */
  def mrangeGroupBy(
      samples: DataFrame, labels: DataFrame,
      preds: Seq[LabelPred], args: RangeQuery.RangeArgs,
      groupByLabel: String, reducer: String,
      excludeEmpty: Boolean = false): DataFrame = {
    // GROUPBY without REDUCE is an arity error at parse time
    // (reference: query_language.c:1017-1023 WrongArity reply)
    require(reducer.nonEmpty, "wrong number of arguments for 'TS.MRANGE' command")
    // reducer names are case-insensitive, like aggregator names
    val red = reducer.toLowerCase(java.util.Locale.ROOT)
    require(!Seq("first", "last", "twa").contains(red),
      s"$red is not a valid GROUPBY reducer") // reference: query_language.c:825-841
    // parse-time incompatibility (reference: query_language.c:1003-1007)
    require(!excludeEmpty, "TSDB: EXCLUDEEMPTY is not allowed with GROUPBY")
    requireInclusive(preds)
    // ONE label-index derivation serves both the pre-aggregation series
    // filter and the post-aggregation group mapping (r17: the previous
    // shape derived the O(#series) index twice — a preds-filtered set
    // for the semi-join and an UNfiltered (series, lv) map for the
    // reduce join — costing a second labels scan + distinct exchange +
    // broadcast per query). The single frame carries (series, lv),
    // filtered by the label preds AND lv presence: a series whose group
    // label is absent can never contribute to any group, so dropping it
    // BEFORE the per-series aggregation leaves every group's input —
    // and therefore the result — unchanged while shuffling strictly
    // fewer bytes. Both joins key on `series` over the same subtree, so
    // the broadcast exchange is built once and reused.
    val lbl = broadcast(
      labels.filter(preds.map(predColumn).reduce(_ && _))
        .select(col("series"), element_at(col("labels"), groupByLabel).as("lv"))
        .filter(col("lv").isNotNull))
    val perSeries = RangeQuery.range(
      samples.join(lbl, Seq("series"), "left_semi"), args)
    val valueCols = if (args.aggs.isEmpty) Seq("value") else args.aggs.map(Aggs.colName)
    val reduceExprs = valueCols.map(c =>
      Aggs.expr(red, col(c), col("ts")).as(s"__red_$c"))
    val reduced = perSeries.join(lbl, Seq("series"))
      .groupBy(col("lv"), col("ts"))
      .agg(reduceExprs.head, reduceExprs.tail: _*)
    val fill = if (Set("count", "countnan", "countall").contains(red)) lit(0.0)
               else lit(Double.NaN)
    reduced.select(
      (concat(lit(s"$groupByLabel="), col("lv")).as("series") +:
        col("ts") +:
        valueCols.map(c => coalesce(col(s"__red_$c").cast("double"), fill).as(c))): _*)
  }

  /** TS.MGET: last sample per label-matched series (reference:
    * module.c:2132-2265) — one agg, no window. EVERY matched series
    * appears in the reply; one with no samples gets an empty value
    * (null ts/value row — the relational form of the reference's empty
    * reply array, reply.c): a left join from the matched set, so the
    * big samples side still makes one aggregated pass. The broadcast
    * hint sits on the RIGHT (aggregated, O(#series)) side — for a
    * LeftOuter join Spark can only build the right side, so a hint on
    * the preserved index side would be silently ignored and the join
    * would fall back to a shuffle (ADVICE r03). */
  def mget(samples: DataFrame, labels: DataFrame, preds: Seq[LabelPred]): DataFrame =
    queryIndex(labels, preds)
      .join(
        broadcast(filterSeries(samples, labels, preds)
          .groupBy(col("series"))
          .agg(max(struct(col("ts").as("t"), col("value").as("v"))).as("s"))),
        Seq("series"), "left")
      .select(col("series"), col("s.t").as("ts"), col("s.v").as("value"))

  /** TS.MGET ... LATEST over compaction dests (reference: module.c:2132-
    * 2265 with the latest flag of tsdb.c:1468-1501): last visible dest
    * sample per label-matched source series — with `latest` the
    * in-flight bucket IS the answer. */
  def mgetDest(
      samples: DataFrame, labels: DataFrame, preds: Seq[LabelPred],
      rule: Compaction.Rule, latest: Boolean): DataFrame =
    mgetAll(Compaction.materialize(
      filterSeries(samples, labels, preds), rule, includeLatest = latest))

  /** TS.GET: last sample of one series (reference: module.c:1566-1607). */
  def get(samples: DataFrame, series: String): DataFrame =
    mgetAll(samples.filter(col("series") === series))

  /** TS.GET ... LATEST on a compaction dest (reference: module.c:1566-
    * 1607 + tsdb.c:1468-1501). */
  def getDest(
      samples: DataFrame, series: String, rule: Compaction.Rule,
      latest: Boolean): DataFrame =
    mgetAll(Compaction.materialize(
      samples.filter(col("series") === series), rule, includeLatest = latest))

  private def mgetAll(samples: DataFrame): DataFrame =
    samples.groupBy(col("series"))
      .agg(max(struct(col("ts").as("t"), col("value").as("v"))).as("s"))
      .select(col("series"), col("s.t").as("ts"), col("s.v").as("value"))

  /** TS.NRANGE: explicit key list, result pivoted by timestamp — one
    * value column per key, NaN for gaps (deliberately conflated with
    * real NaN, reference: reply.c:432-434). Implemented as conditional
    * aggregation (single pass, no pivot-value discovery job); per-key
    * aggregation applied first when requested (reference:
    * module.c:724-906).
    */
  def nrange(
      samples: DataFrame, keys: Seq[String],
      args: RangeQuery.RangeArgs): DataFrame = {
    val base = RangeQuery.range(samples.filter(col("series").isInCollection(keys)), args)
    val valueCol = if (args.aggs.isEmpty) "value" else Aggs.colName(args.aggs.head)
    val cells = keys.map { k =>
      coalesce(max(when(col("series") === k, col(valueCol))), lit(Double.NaN)).as(k)
    }
    base.groupBy(col("ts")).agg(cells.head, cells.tail: _*)
      // NREVRANGE = same pivot, descending ts (reference: module.c:724-906)
      .orderBy(if (args.reverse) col("ts").desc else col("ts").asc)
  }

  /** TS.NRANGE with per-key aggregator specs: the keys share the bucket
    * duration and range options, each key carries its own aggregator
    * list (reference: module.c:770-850 — specs count must equal
    * numkeys); one pivot column per (key, agg), still a single pass. */
  def nrangeSpecs(
      samples: DataFrame, specs: Seq[(String, Seq[String])],
      args: RangeQuery.RangeArgs): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty))
    val keys = specs.map(_._1)
    val multi = args.copy(aggs = specs.flatMap(_._2).distinct)
    val base = RangeQuery.range(samples.filter(col("series").isInCollection(keys)), multi)
    val cells = for ((k, aggs) <- specs; a <- aggs) yield
      coalesce(max(when(col("series") === k, col(Aggs.colName(a)).cast("double"))),
        lit(Double.NaN)).as(s"${k}_${a.replace('.', '_')}")
    base.groupBy(col("ts")).agg(cells.head, cells.tail: _*)
  }

  /** TS.QUERYLABELS VALUES <label> (reference: module.c:339-465). */
  def queryLabelValues(labels: DataFrame, label: String,
      preds: Seq[LabelPred] = Nil): DataFrame = {
    val base = if (preds.isEmpty) labels
      else labels.filter(preds.map(predColumn).reduce(_ && _))
    base.select(element_at(col("labels"), label).as("value"))
      .filter(col("value").isNotNull).distinct()
  }

  /** TS.QUERYLABELS LABELS: label names in the index, optionally
    * restricted to a label-filtered series set (reference:
    * module.c:339-465 — the LABELS variant honors FILTER like VALUES;
    * indexer.c:582-655). */
  def queryLabelNames(labels: DataFrame, preds: Seq[LabelPred] = Nil): DataFrame = {
    val base = if (preds.isEmpty) labels
      else labels.filter(preds.map(predColumn).reduce(_ && _))
    base.select(explode(map_keys(col("labels"))).as("label")).distinct()
  }

  /** TS.INFO: per-series stats (reference: module.c:156-280). */
  def info(samples: DataFrame): DataFrame =
    samples.groupBy(col("series")).agg(
      count(col("value")).as("total_samples"),
      min(col("ts")).as("first_timestamp"),
      max(col("ts")).as("last_timestamp"),
      max(struct(col("ts").as("t"), col("value").as("v"))).getField("v").as("last_value"))

  /** TS.INFO full field set (reference: module.c:156-280):
    * retention-net sample stats plus the chunk/memory model.
    * `total_samples` counts only retention-visible samples (the
    * reference reports the live count after trimming, module.c:176).
    * Chunk accounting mirrors the reference's uncompressed layout —
    * chunks of `chunkSizeBytes` holding 16-byte (ts,value) samples
    * (reference: consts.h Chunk_SIZE_BYTES_SECS = 4096, chunk.c:18-34)
    * — so chunk_count = ceil(samples / (chunkSize/16)) and
    * memory_usage = chunk_count * chunkSize. Config fields
    * (retention, chunk size, duplicate policy) are catalog literals
    * echoed into the reply, as in the reference. */
  def infoFull(
      samples: DataFrame, retentionMs: Long = 0L,
      chunkSizeBytes: Long = 4096L, duplicatePolicy: String = "block"): DataFrame = {
    val visible =
      if (retentionMs > 0) WritePath.retentionClamp(samples, retentionMs) else samples
    val perChunk = math.max(chunkSizeBytes / 16L, 1L)
    val chunks = expr(s"(total_samples + ${perChunk - 1}) DIV $perChunk")
    visible.groupBy(col("series")).agg(
        count(col("value")).as("total_samples"),
        min(col("ts")).as("first_timestamp"),
        max(col("ts")).as("last_timestamp"),
        max(struct(col("ts").as("t"), col("value").as("v"))).getField("v").as("last_value"))
      .select(col("series"), col("total_samples"), col("first_timestamp"),
        col("last_timestamp"), col("last_value"),
        lit(retentionMs).as("retention_ms"),
        chunks.as("chunk_count"),
        lit(chunkSizeBytes).as("chunk_size_bytes"),
        (chunks * chunkSizeBytes).as("memory_usage_bytes"),
        lit(duplicatePolicy).as("duplicate_policy"))
  }

  /** TS.INFO DEBUG chunk list (reference: module.c:244-276): one row
    * per chunk with (startTimestamp, endTimestamp, samples, size,
    * bytesPerSample), under the same uncompressed chunk model as
    * [[infoFull]] — samples pack into ts-ordered chunks of
    * `chunkSizeBytes / 16` entries and `size` is the allocated chunk
    * size, so `bytesPerSample = size / samples` exactly as the
    * reference computes it. One shuffle by series; the grouped
    * aggregation reuses the window's partitioning (series ⊂
    * (series, chunk_idx)). */
  def infoDebugChunks(samples: DataFrame, chunkSizeBytes: Long = 4096L): DataFrame = {
    val perChunk = math.max(chunkSizeBytes / 16L, 1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("ts"), col("value"))
    samples
      .withColumn("__rn", row_number().over(w))
      .withColumn("__idx", expr(s"CAST((__rn - 1) DIV $perChunk AS BIGINT)"))
      .groupBy(col("series"), col("__idx"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_samples"))
      .select(col("series"), col("__idx").as("chunk_idx"),
        col("start_ts"), col("end_ts"), col("n_samples"),
        lit(chunkSizeBytes).as("size_bytes"),
        (lit(chunkSizeBytes).cast("double") / col("n_samples")).as("bytes_per_sample"))
  }

  // ----- DuckDB oracle helpers ----------------------------------------

  /** Labels as a relational CTE for the oracle (fixture has labels
    * type/user). */
  val labelsCte: String =
    """series_labels AS (
      |  SELECT DISTINCT event_type || '_' || CAST(user_id AS VARCHAR) AS series,
      |         event_type AS "type", CAST(user_id AS VARCHAR) AS "user"
      |  FROM events
      |)""".stripMargin

  private val knownLabels = Set("type", "user")

  /** Predicate over the relational labels CTE. Unknown labels are absent
    * on every series. */
  def predSql(p: LabelPred): String = {
    def known = knownLabels.contains(p.label)
    def c = "\"" + p.label + "\""
    def lst(vs: Seq[String]) = vs.map(v => s"'$v'").mkString(", ")
    p match {
      case Eq(l, v)        => if (known) s"$c = '$v'" else "FALSE"
      case NotEq(l, v)     => if (known) s"$c <> '$v'" else "TRUE"
      case Absent(_)       => if (known) "FALSE" else "TRUE"
      case Present(_)      => if (known) "TRUE" else "FALSE"
      case InSet(_, vs)    => if (known) s"$c IN (${lst(vs)})" else "FALSE"
      case NotInSet(_, vs) => if (known) s"$c NOT IN (${lst(vs)})" else "TRUE"
    }
  }

  def predsSql(preds: Seq[LabelPred]): String =
    if (preds.isEmpty) "TRUE" else preds.map(predSql).mkString(" AND ")
}
