package graft

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The one ordered-replay stage behind every one-shot stream operator
 * (TS ingest, compaction rules, the streaming anomaly / sessions /
 * GROUPBY / sketch / dedup operators).
 *
 * Spark's file source admits files oldest-mtime first, at most
 * `maxFilesPerTrigger` per micro-batch. So a frame range-partitioned by
 * its ordering columns into `nChunks × filesPerChunk` part files, whose
 * mtimes ascend in part-number (= range) order, replays as micro-batches
 * that are each a contiguous range of the ordering key, oldest range
 * first. The contract rests entirely on the stamped mtimes, so a stamp
 * that fails fails the run instead of silently degrading to write-order
 * mtimes. Pinned by ReplayStageSpec.
 */
object ReplayStage {

  /** A staged replay: its directory, the number of part files the range
    * partitioner wrote (empty ranges write none, so this may be fewer
    * than requested) and the stream that replays them. */
  final case class Staged(dir: String, files: Int, stream: DataFrame)

  /** Range-stages `frame` by `orderBy` into at most `nChunks ×
    * filesPerChunk` part files under `dir`, stamps ascending mtimes in
    * range order and returns the stream that replays `filesPerChunk`
    * files per trigger, read with the staged frame's own schema. `dir`
    * is a fresh scratch directory unless the caller owns the layout. */
  def apply(frame: DataFrame, orderBy: Seq[Column], nChunks: Int,
      filesPerChunk: Int = 1,
      dir: String = Scratch.dir("graft_replay_").resolve("stage").toString): Staged = {
    val ranges = nChunks * filesPerChunk
    frame.repartitionByRange(ranges, orderBy: _*)
      .write.mode("overwrite").parquet(dir)
    val files = partFiles(dir)
    require(files.nonEmpty && files.length <= ranges,
      s"staging produced ${files.length} files for $nChunks chunks x $filesPerChunk")
    files.zipWithIndex.foreach { case (f, i) => stamp(f, i) }
    Staged(dir, files.length,
      reader(frame.sparkSession, dir, frame.schema, filesPerChunk))
  }

  /** The staged `part-` files under `dir` in part-number order — the
    * range order of a `repartitionByRange` write. */
  def partFiles(dir: String): Array[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  /** Stamps `f` with the `i`-th replay mtime (ascending in `i`). */
  def stamp(f: File, i: Int): Unit =
    require(f.setLastModified(1000000000000L + i * 60000L),
      s"cannot stamp replay mtime $i on $f")

  /** The reader half: replays the files under `dir` in mtime order,
    * `filesPerTrigger` files per micro-batch. */
  def reader(spark: SparkSession, dir: String, schema: StructType,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(dir)
}
