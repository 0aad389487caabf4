package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted, incrementally-maintained DDSketch state — the production
 * use of a MERGEABLE quantile sketch (Masson/Rim/Lee VLDB'19 §2.3:
 * sketches over disjoint data merge by adding bucket counts). The
 * one-shot [[Histogram.ddsketchHistogram]] answers "quantile of what I
 * just scanned"; this store answers "quantile of everything ingested
 * so far" without ever rescanning history: state is one parquet table
 * `(series, bucket, n)` — O(series × occupied buckets) rows, bounded
 * by log_γ(vmax/vmin) per series, INDEPENDENT of sample count — and
 * each new batch folds in with one bucket-keyed sum.
 *
 * Durability layout is [[graft.pipeline.IncrementalAdmit]]'s
 * versioned-manifest pattern verbatim (`stateDir/v=N/sketch` + an
 * atomically-flipped MANIFEST pointer, one-generation retention,
 * orphan janitor): a reader racing a merge always sees a complete
 * sketch generation, and a crash mid-merge leaves the pointer — and
 * every reader — on the old version with only a dead `v=N+1` to sweep.
 *
 * Writer model: SINGLE-WRITER, like IncrementalAdmit's (readers may
 * race a merge freely; merges must be serialized by the caller — the
 * production deployment is one ingest stream folding micro-batches in
 * order). A lost race — two writers both resolving version v — is
 * NOT silently absorbed: [[mergeSketch]] re-reads the manifest after
 * staging its generation and before the pointer flip, and fails
 * loudly if another writer advanced it (r16 ADVICE; the losing
 * batch's counts must be re-merged, never dropped).
 *
 * State schema: `(series, bucket, n)` for the positive-store sketch,
 * `(series, store, bucket, n)` for the THREE-STORE signed sketch
 * ([[Histogram.ddsketchHistogramSigned]]) — [[mergeSketch]] infers
 * the key from the live generation's columns, so one merge path
 * serves both families.
 *
 * Correctness contract (the mergeability statement, driver-hashed by
 * the ts_ddsketch_incremental carrier and spec-pinned bit-exact):
 * bootstrap + any sequence of merges over a partition of the samples
 * equals the one-shot sketch over their union — counts are integers,
 * so this is exact equality, not approximation.
 *
 * 100-TB shape: each merge scans ONLY the new batch (one map-side-
 * combined hash agg) plus the model-sized prior state; the union-fold
 * shuffles series × buckets rows, never samples. Quantile reads walk
 * the state table alone ([[Histogram.ddsketchQuantileFromBuckets]]).
 */
object SketchStore {

  private def liveRoot(spark: SparkSession, stateDir: String): String = {
    val v = graft.pipeline.IncrementalAdmit.currentVersion(spark, stateDir)
      .getOrElse(throw new IllegalStateException(
        s"$stateDir has no MANIFEST — bootstrap with writeSketchVersioned"))
    s"$stateDir/v=$v/sketch"
  }

  /** Bootstrap the versioned sketch state from an initial batch:
    * tables under `v=1/`, then the manifest flip that makes them
    * live. `signed = true` bootstraps the THREE-STORE state
    * (`(series, store, bucket, n)`); later merges infer the family
    * from the live schema. */
  def writeSketchVersioned(
      spark: SparkSession, samples: DataFrame, stateDir: String,
      gamma: Double, signed: Boolean = false): Unit = {
    val sketch =
      if (signed) Histogram.ddsketchHistogramSigned(samples, gamma)
      else Histogram.ddsketchHistogram(samples, gamma)
    sketch.write.mode("overwrite").parquet(s"$stateDir/v=1/sketch")
    graft.pipeline.IncrementalAdmit.commitManifest(spark, stateDir, 1L)
  }

  /** Fold a new batch into the live sketch: sketch the batch (same
    * family as the live state — signed iff the state carries `store`),
    * add bucket counts into the prior state, write the next generation
    * COMPLETELY, flip the manifest, sweep orphans. Returns the new
    * live version. Single-writer (see object doc): a concurrent
    * writer that advanced the manifest while this merge staged its
    * generation is detected before the flip and fails loudly. */
  def mergeSketch(
      spark: SparkSession, newSamples: DataFrame, stateDir: String,
      gamma: Double): Long = {
    val v = graft.pipeline.IncrementalAdmit.currentVersion(spark, stateDir)
      .getOrElse(throw new IllegalStateException(
        s"$stateDir has no MANIFEST — bootstrap with writeSketchVersioned"))
    // a crashed predecessor's half-written v+1 must not mix with ours
    graft.pipeline.IncrementalAdmit.sweepOrphanVersions(spark, stateDir, v)
    val prior = spark.read.parquet(s"$stateDir/v=$v/sketch")
    val keyCols = prior.columns.filterNot(_ == "n")
    val batch =
      if (keyCols.contains("store"))
        Histogram.ddsketchHistogramSigned(newSamples, gamma)
      else Histogram.ddsketchHistogram(newSamples, gamma)
    val merged = prior
      .unionByName(batch)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v=${v + 1}/sketch")
    // lost-race detection (r16 ADVICE): if another writer flipped the
    // manifest while we staged v+1, flipping now would silently drop
    // its batch's counts — fail loudly instead; the caller re-merges.
    val now = graft.pipeline.IncrementalAdmit.currentVersion(spark, stateDir)
    if (!now.contains(v))
      throw new IllegalStateException(
        s"sketch merge lost a writer race at $stateDir: resolved v=$v but " +
          s"manifest now points at v=${now.getOrElse(-1L)} — merges are " +
          "single-writer; re-run this batch's merge against the new state")
    graft.pipeline.IncrementalAdmit.commitManifest(spark, stateDir, v + 1)
    // drops v-1 (past the one-generation reader grace)
    graft.pipeline.IncrementalAdmit.sweepOrphanVersions(spark, stateDir, v + 1)
    v + 1
  }

  /** The LIVE `(series, bucket, n)` sketch table (manifest-resolved
    * once per read — a reader racing a merge sees the old complete
    * generation until the flip). */
  def readSketch(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(liveRoot(spark, stateDir))

  /** Quantile read off the PERSISTED sketch — the maintained-state
    * answer to TS-style "p-quantile so far", same output contract as
    * the one-shot [[Histogram.ddsketchQuantile]]. */
  def quantile(
      spark: SparkSession, stateDir: String, gamma: Double,
      q: Double): DataFrame =
    Histogram.ddsketchQuantileFromBuckets(readSketch(spark, stateDir), gamma, q)

  /** Quantile read off PERSISTED three-store signed state (the
    * value-ordered store walk of
    * [[Histogram.ddsketchQuantileSignedFromBuckets]]). */
  def quantileSigned(
      spark: SparkSession, stateDir: String, gamma: Double,
      q: Double): DataFrame =
    Histogram.ddsketchQuantileSignedFromBuckets(
      readSketch(spark, stateDir), gamma, q)

  /**
   * STREAMING sketch maintenance — the production deployment shape:
   * the ingest stream's micro-batches fold into the versioned sketch
   * state as they arrive (`foreachBatch` → [[mergeSketch]]), so
   * "p-quantile of everything so far" is always one model-sized read
   * away and a quantile reader racing the stream sees a complete
   * generation (the manifest flip). Replays `samples` as `nChunks`
   * time-ordered micro-batches (the TS family's staging discipline)
   * and returns the final live sketch — which, by the merge contract,
   * equals the one-shot sketch over everything replayed: batching by
   * micro-batch is just another partition of the data.
   */
  def streamingSketchOnce(
      spark: SparkSession, samples: DataFrame, stateDir: String,
      gamma: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 4, signed: Boolean = false): DataFrame = {
    var s = samples.select(col("series"), col("ts"), col("value"))
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val qy = graft.ReplayStage(s, Seq(col("ts")), nChunks).stream
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // first batch bootstraps; later ones fold in — identical state
        // evolution to a driver-side bootstrap + merge chain
        if (graft.pipeline.IncrementalAdmit.currentVersion(spark, stateDir).isEmpty)
          writeSketchVersioned(spark, batch.toDF(), stateDir, gamma, signed)
        else
          mergeSketch(spark, batch.toDF(), stateDir, gamma)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qy.awaitTermination()
    readSketch(spark, stateDir)
  }
}
