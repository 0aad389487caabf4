package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The ordered-replay contract every stream operator rests on: staged
  * files carry strictly ascending mtimes in range order, every
  * micro-batch is one contiguous range of the ordering key, and a stamp
  * that does not take fails instead of passing silently. */
class ReplayStageSpec extends AnyFunSuite {
  import SparkTest._

  private val N = 1200L

  /** 0 until N in a scrambled arrival order (7919 is prime to N). */
  private def keysScrambled: DataFrame =
    spark.range(0, N, 1, 3).select(pmod(col("id") * 7919L, lit(N)).as("k"))

  test("stamps strictly ascend in range order") {
    val staged = ReplayStage(keysScrambled, Seq(col("k")), nChunks = 5)
    val files = ReplayStage.partFiles(staged.dir)
    assert(files.length == staged.files && staged.files == 5)
    val stamps = files.map(_.lastModified())
    assert(stamps.sliding(2).forall { case Array(a, b) => a < b },
      stamps.mkString(", "))
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("k"), max("k")).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(ranges.sliding(2).forall { case Array(a, b) => a._2 < b._1 },
      ranges.mkString(", "))
  }

  test("a frame with fewer distinct keys than ranges stages fewer files") {
    val staged = ReplayStage(spark.range(0, 3).toDF("k"), Seq(col("k")), nChunks = 8)
    assert(staged.files >= 1 && staged.files <= 3)
  }

  for (filesPerChunk <- Seq(1, 3)) {
    test(s"each micro-batch is one contiguous key range (filesPerChunk = $filesPerChunk)") {
      val staged = ReplayStage(keysScrambled, Seq(col("k")), nChunks = 4,
        filesPerChunk = filesPerChunk)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]
      staged.stream.writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val r = batch.agg(min("k"), max("k"), count(lit(1))).head()
          if (r.getLong(2) > 0) seen.add((id, r.getLong(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val batches = seen.toArray(Array.empty[(Long, Long, Long, Long)]).sortBy(_._1)
      assert(batches.length ==
        (staged.files + filesPerChunk - 1) / filesPerChunk, batches.mkString(", "))
      // contiguous inside each batch (distinct keys fill [min, max]) and
      // oldest range first across batches, covering every key once
      assert(batches.forall { case (_, lo, hi, n) => hi - lo + 1 == n },
        batches.mkString(", "))
      assert(batches.head._2 == 0L && batches.last._3 == N - 1)
      assert(batches.sliding(2).forall {
        case Array(a, b) => b._2 == a._3 + 1
        case _           => true
      }, batches.mkString(", "))
    }
  }

  test("a stamp that does not take fails the run") {
    val f = java.io.File.createTempFile("replay_stamp_", ".parquet")
    assert(f.delete())
    val e = intercept[IllegalArgumentException](ReplayStage.stamp(f, 0))
    assert(e.getMessage.contains("cannot stamp"), e.getMessage)
  }
}
