package graft.ts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel

/**
 * Core data model: the Spark-native equivalent of the reference's
 * one-time-series-per-Redis-key model (reference: src/tsdb.h:61-81).
 *
 * A sample stream is a long-format DataFrame `(series STRING, ts LONG
 * epoch-ms, value DOUBLE)`; series metadata ("labels",
 * reference: src/indexer.h:17-21) is a separate small DataFrame
 * `(series STRING, labels MAP<STRING,STRING>)`.
 *
 * Scale design: at 100 TB the samples table is parquet bucketed by
 * series and sorted by (series, ts) ([[writeBucketed]]): per-series
 * operators over it need no shuffle, and predicates on its native
 * `series`/`ts` columns reach the parquet scan. The fixture's wide
 * `events` table stores neither column, so predicates on the derived
 * [[samples]] columns stay above the scan and every read decodes the
 * whole table. The serving tier (the ts_* SQL table functions) reads
 * [[seriesStore]] instead: a series-ordered in-memory copy, the
 * analogue of the reference's per-key chunks seeked by first
 * timestamp (reference: src/series_iterator.c:21-138).
 * The labels DataFrame is O(#series) — tiny relative to samples — kept
 * in driver memory and always broadcast when joined.
 */
object TSModel {

  /** The fixture's `ts` physical encoding is NOT stable across
    * regenerations (r8: it silently switched from TIMESTAMP(NANOS) to
    * timestamp[us]-no-tz), so every reader dispatches on the OBSERVED
    * schema instead of assuming one encoding:
    *  - TIMESTAMP(NANOS): Spark 4 only reads it via the nanosAsLong
    *    legacy conf, as a raw LONG of epoch-ns. Integer DIV keeps exact
    *    ms — a double roundtrip would lose precision at 1.7e18 ns.
    *  - timestamp[us] no-tz → TIMESTAMP_NTZ: converted with
    *    `timestampdiff` against the epoch, the NTZ→TIMESTAMP cast and
    *    the diff both pinned to UTC — exact and independent of the
    *    session timezone (the implicit cast takes the session zone, so
    *    a wall time inside a DST gap came out an hour late).
    *  - timestamp[us/ms] with tz → TIMESTAMP: `unix_millis` is exact.
    * Any OTHER encoding throws at plan time — a new regeneration must
    * fail loudly, never misparse units (see FixtureSchemaSpec).
    */
  private[ts] def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** Epoch-ms extraction for a `ts` column of type `dt` — the single
    * shared dispatch used by the batch loaders AND the streaming
    * readers (r8: a second hand-maintained copy in the streaming path
    * misparsed us as ns and corrupted results silently). */
  private[graft] def tsMsFor(dt: DataType): Column = dt match {
    case LongType => expr("ts DIV 1000000")
    case TimestampNTZType =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, TimestampDiff}
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val utc = Some("UTC")
      column(TimestampDiff("MILLISECOND", Literal(0L, TimestampType),
        Cast(expression(col("ts")), TimestampType, utc), utc))
    case TimestampType => unix_millis(col("ts"))
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported physical type $other — extend TSModel.tsMsFor " +
        "(refusing to guess a unit; see r8 us-as-ns silent corruption)")
  }

  private def tsMs(df: DataFrame): Column = tsMsFor(df.schema("ts").dataType)

  /** Canonical samples mapping over the driver fixture `events` table
    * (see FIXTURES.md §2.1): series = event_type + "_" + user_id.
    * Timestamps come out as exact epoch-ms longs through [[tsMsFor]]
    * (the reference's native unit, reference: src/consts.h:38-39),
    * independent of the session timezone.
    */
  def samples(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    ev.select(
      concat_ws("_", col("event_type"), col("user_id")).as("series"),
      tsMs(ev).as("ts"),
      col("value"))
  }

  /**
   * Materialize a samples frame as a series-bucketed, ts-sorted table —
   * the production storage layout at 100 TB. Per-series operators
   * (range aggregation, MGET, dup-policy resolution, compaction) over a
   * table bucketed by `series` need NO shuffle at all: the bucketed
   * scan reports hash-partitioning on series, which satisfies every
   * groupBy whose keys include it (the Spark analogue of the
   * reference's one-series-per-key locality). `sortBy(series, ts)`
   * additionally gives in-file ordering for windowed passes. See
   * BucketedLayoutSpec for the plan proof.
   */
  def writeBucketed(samples: DataFrame, table: String, buckets: Int): Unit =
    samples.write.mode("overwrite")
      .bucketBy(buckets, "series").sortBy("series", "ts")
      .saveAsTable(table)

  /**
   * The serving tier's samples store: `samples` range-partitioned by
   * `series`, sorted by (series, ts) inside each partition and cached,
   * so a one-series read decodes only the cached batches whose
   * `series` bounds hold the key, and a per-series window or aggregation needs
   * no exchange (the range partitioning satisfies its distribution).
   *
   * Spark's CacheManager is the memo: it matches cached data by
   * canonical plan, so a view re-registered over the same source (the
   * same parquet path) finds the store built for the first one. The
   * store is materialized here only when no cached copy exists yet.
   *
   * Snapshot contract: the store holds the rows read when it was built.
   * A write through Spark's writers to a path it reads refreshes it
   * (the writers call `recacheByPath`); a source rewritten outside
   * Spark needs `spark.catalog.refreshByPath(path)` first.
   *
   * Limits: the store holds O(samples) in memory (spilling to disk
   * under the default storage level), so it serves the serving tier
   * only. The 100 TB path stays [[writeBucketed]] parquet: a frame that
   * reads a table bucketed by series is returned as it is, since its
   * files already keep each series together and its scan takes the
   * pushed `series`/`ts` predicates.
   */
  def seriesStore(samples: DataFrame): DataFrame =
    if (bucketedBySeries(samples)) samples
    else {
      val store = samples.repartitionByRange(col("series")).sortWithinPartitions("series", "ts")
      if (store.storageLevel == StorageLevel.NONE) store.cache().count()
      store
    }

  private def bucketedBySeries(samples: DataFrame): Boolean =
    samples.queryExecution.analyzed.exists {
      case r: LogicalRelation =>
        r.catalogTable.flatMap(_.bucketSpec).exists(_.bucketColumnNames == Seq("series"))
      case _ => false
    }

  /**
   * Samples loader with the series-key and time-range predicates
   * decomposed onto the *source* columns (event_type/user_id and the
   * native timestamp), so they appear in the parquet scan's
   * PushedFilters instead of above the Project on the derived
   * `series`/`ts` columns. Pushed filters prune row groups only where
   * the file's min/max statistics separate them: on a fixture whose
   * files interleave every series over the whole time span, the scan
   * still reads every row, and only the storage order (a bucketed,
   * sorted table or [[seriesStore]]) reduces the rows read.
   *
   * In a production deployment the long format is the storage format
   * (series a physical column, table partitioned by date(ts), sorted by
   * (series, ts)) and this decomposition is unnecessary; here the
   * fixture stores wide events, so the loader does it.
   */
  def samplesPruned(
      spark: SparkSession, sfDir: String,
      seriesKeys: Seq[String] = Nil,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    var ev = events(spark, sfDir)
    if (seriesKeys.nonEmpty)
      ev = ev.filter(seriesKeys.map { key =>
        val i = key.lastIndexOf('_')
        col("event_type") === key.substring(0, i) &&
          col("user_id") === key.substring(i + 1).toLong
      }.reduce(_ || _))
    // Time bounds are pushed in the column's NATIVE type so they reach
    // the parquet scan as PushedFilters (row-group min/max skipping),
    // never as post-Project ms filters. An inclusive ms bound t covers
    // every finer-grained value that floors to t (ns: +999999, us: +999).
    ev.schema("ts").dataType match {
      case LongType => // raw epoch-ns
        fromMs.foreach(f => ev = ev.filter(col("ts") >= f * 1000000L))
        toMs.foreach(t => ev = ev.filter(col("ts") <= t * 1000000L + 999999L))
      case TimestampNTZType =>
        // NTZ literals (LocalDateTime) compare zone-independently
        fromMs.foreach(f => ev = ev.filter(col("ts") >= lit(msToLdt(f, 0))))
        toMs.foreach(t => ev = ev.filter(col("ts") <= lit(msToLdt(t, 999))))
      case TimestampType =>
        fromMs.foreach(f =>
          ev = ev.filter(col("ts") >= lit(java.time.Instant.ofEpochMilli(f))))
        toMs.foreach(t =>
          ev = ev.filter(col("ts") <= lit(java.time.Instant.ofEpochMilli(t).plusNanos(999999L))))
      case _ => () // tsMs below throws the loud refusal
    }
    ev.select(
      concat_ws("_", col("event_type"), col("user_id")).as("series"),
      tsMs(ev).as("ts"),
      col("value"))
  }

  /** Epoch-ms (+ sub-ms microseconds) as a zone-free LocalDateTime —
    * the literal form Spark maps to TIMESTAMP_NTZ for pushdown. */
  private def msToLdt(ms: Long, extraMicros: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      java.lang.Math.floorDiv(ms, 1000L),
      (java.lang.Math.floorMod(ms, 1000L) * 1000000L + extraMicros * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** Samples plus the ingest sequence number (arrival order) that
    * FIRST/LAST duplicate policies refer to. */
  def samplesWithSeq(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    ev.select(
      concat_ws("_", col("event_type"), col("user_id")).as("series"),
      tsMs(ev).as("ts"),
      col("value"),
      col("event_id").as("seq"))
  }

  /** Labels DataFrame: one row per series with a MAP<STRING,STRING> of
    * label name -> value (reference: src/tsdb.h:71-73), derived from
    * the series-key components of the fixture. It is the driver-resident
    * label index of [[Multi.labelIndex]]: the O(#series) rows are
    * collected once, when `labels` is called, so label lookups never
    * re-read the events table. A fixture rewritten after the call needs
    * a fresh call, as with [[Catalog.labelsDf]].
    */
  def labels(spark: SparkSession, sfDir: String): DataFrame =
    Multi.labelIndex(events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .select(
        concat_ws("_", col("event_type"), col("user_id")).as("series"),
        map(
          lit("type"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels")))

  /** DuckDB-oracle equivalent of [[samples]] as a CTE, prepended to every
    * oracle SQL so the driver's DuckDB run sees the same long format. */
  val samplesCte: String =
    """WITH samples AS (
      |  SELECT event_type || '_' || CAST(user_id AS VARCHAR) AS series,
      |         epoch_ms(ts) AS ts, value
      |  FROM events
      |)""".stripMargin

  /** Bucket start timestamp: floor-modulo, negative-safe — exact port of
    * the reference's CalcBucketStart semantics (reference: src/tsdb.h:84-99):
    * bucket(ts) = ts - ((ts - align) mod dur) with mathematical (floor)
    * modulo. `pmod` gives the non-negative remainder, so this is correct
    * for ts < align too.
    */
  def bucketStart(ts: Column, durMs: Long, alignMs: Long = 0L): Column =
    (ts - pmod(ts - alignMs, lit(durMs))).as("bucket")

  /** Scalar (driver-side) twin of [[bucketStart]]. */
  def bucketStartLong(ts: Long, durMs: Long, alignMs: Long = 0L): Long =
    ts - java.lang.Math.floorMod(ts - alignMs, durMs)

  /** Same floor-modulo bucketing in portable SQL for the DuckDB oracle. */
  def bucketStartSql(ts: String, durMs: Long, alignMs: Long = 0L): String =
    s"($ts - ((($ts - $alignMs) % $durMs + $durMs) % $durMs))"

  /** The EMPTY emission spine: one (series, bucket) row per bucket in
    * the intersection of the query range with each series' lifetime
    * (bucket-aligned, inclusive) — the shared rule behind both the
    * generic gap fill and TWA's empty-bucket interpolation (review
    * r04: previously two hand-maintained copies). The caller chooses
    * what "lifetime" means by pre-filtering `samples` (TWA passes
    * valid samples only; NaN-only buckets are invisible to it). */
  private[ts] def bucketSpine(
      samples: DataFrame, bucketMs: Long, alignMs: Long,
      from: Option[Long], to: Option[Long],
      seedBefore: Option[Long] = None): DataFrame = {
    val lo0 = bucketStart(min(col("ts")), bucketMs, alignMs)
    val hi0 = bucketStart(max(col("ts")), bucketMs, alignMs)
    // `seedBefore` fuses the EMPTY+last LOCF seed — the newest valid
    // sample strictly before the query range — into this same grouped
    // pass, as a conditional max over the identical input rows. It used
    // to be a SECOND scan of the sample-filtered frame plus a broadcast
    // join per query; here it rides the spine rows as a `__seed` column
    // instead (max/greatest ignore nulls, so a series with no pre-range
    // valid sample carries a null seed exactly like the old left join).
    val boundCols = Seq(
      from.map(f => greatest(lo0, lit(bucketStartLong(f, bucketMs, alignMs))))
        .getOrElse(lo0).as("lo"),
      to.map(t => least(hi0, lit(bucketStartLong(t, bucketMs, alignMs))))
        .getOrElse(hi0).as("hi"))
    val seedCol = seedBefore.map(f =>
      max(when(col("ts") < f && !isnan(col("value")),
        struct(col("ts").as("t"), col("value").as("v"))))
        .getField("v").as("__seed"))
    val aggCols = boundCols ++ seedCol
    val bounds = samples.groupBy(col("series")).agg(aggCols.head, aggCols.tail: _*)
    bounds.filter(col("lo") <= col("hi"))
      .select(col("series") +:
        explode(sequence(col("lo"), col("hi"), lit(bucketMs))).as("bucket") +:
        seedCol.map(_ => col("__seed")).toSeq: _*)
  }

  /** BUCKETTIMESTAMP adjustment (reference: src/query_language.c:283-320):
    * reported timestamp = bucket start ("-"), mid ("~", +dur/2) or end
    * ("+", +dur). Applied post-aggregation as plain column arithmetic. */
  def reportTs(bucket: Column, durMs: Long, mode: String): Column = mode match {
    case "-" | "start" => bucket
    case "~" | "mid"   => bucket + durMs / 2
    case "+" | "end"   => bucket + durMs
    case other => throw new IllegalArgumentException(s"BUCKETTIMESTAMP $other")
  }

  def reportTsSql(bucket: String, durMs: Long, mode: String): String = mode match {
    case "-" | "start" => bucket
    case "~" | "mid"   => s"($bucket + ${durMs / 2})"
    case "+" | "end"   => s"($bucket + $durMs)"
    case other => throw new IllegalArgumentException(s"BUCKETTIMESTAMP $other")
  }
}
