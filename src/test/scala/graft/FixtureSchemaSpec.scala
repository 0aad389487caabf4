package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ts._

/**
 * Loud guard against silent fixture drift (VERDICT r8 #2). The driver
 * regenerates /root/testdata between rounds and has already changed the
 * physical ts encoding once (TIMESTAMP(NANOS) -> timestamp[us]), which
 * (a) errored 67 queries at analysis time and (b) — far worse — made the
 * streaming readers misparse us as ns and return wrong answers with no
 * error. This spec pins, for every table the loaders touch:
 *   1. the LOADER-OUTPUT schema (the library contract, independent of
 *      the file's physical encoding), and
 *   2. the epoch RANGE of the time column (FIXTURES.md: the events
 *      window is January 2024) — a unit misparse moves timestamps by
 *      ~1000x and cannot stay inside a one-month window.
 * A future regeneration that breaks either fails here with a named
 * assertion, never as 67 downstream nulls.
 */
class FixtureSchemaSpec extends AnyFunSuite {
  import SparkTest._

  private val JAN_2024_LO = 1704067200000L // 2024-01-01T00:00:00Z
  private val JAN_2024_HI = 1706745600000L // 2024-02-01T00:00:00Z

  private def fieldTypes(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("events loader: long-format schema and Jan-2024 ms window") {
    val s = TSModel.samples(spark, sf)
    assert(fieldTypes(s) === Map(
      "series" -> StringType, "ts" -> LongType, "value" -> DoubleType))
    val r = s.agg(min(col("ts")), max(col("ts")), count(lit(1))).head()
    assert(r.getLong(2) > 0, "events fixture is empty")
    assert(r.getLong(0) >= JAN_2024_LO && r.getLong(1) < JAN_2024_HI,
      s"events ts range [${r.getLong(0)}, ${r.getLong(1)}] left the documented " +
        s"Jan-2024 window [$JAN_2024_LO, $JAN_2024_HI) — ts unit misparse?")
  }

  test("events loader variants agree with the canonical mapping") {
    val base = TSModel.samples(spark, sf)
    val withSeq = TSModel.samplesWithSeq(spark, sf)
    assert(fieldTypes(withSeq) === Map(
      "series" -> StringType, "ts" -> LongType,
      "value" -> DoubleType, "seq" -> LongType))
    // same rows as the canonical loader (seq aside)
    assert(withSeq.select("series", "ts", "value")
      .exceptAll(base).isEmpty && base.exceptAll(
        withSeq.select("series", "ts", "value")).isEmpty)
    // pruned loader with the full window = unpruned loader
    val pruned = TSModel.samplesPruned(spark, sf,
      fromMs = Some(JAN_2024_LO), toMs = Some(JAN_2024_HI))
    assert(fieldTypes(pruned) === fieldTypes(base))
    assert(pruned.count() === base.count())
    val labels = TSModel.labels(spark, sf)
    assert(fieldTypes(labels) ===
      Map("series" -> StringType, "labels" -> MapType(StringType, StringType)))
  }

  test("streaming events reader derives the batch schema (no baked-in encoding)") {
    // plan-time check only — the select resolves or throws loudly
    val st = Compaction.eventsStream(spark, sf)
    assert(st.isStreaming)
    assert(fieldTypes(st) === Map(
      "series" -> StringType, "ts" -> LongType, "value" -> DoubleType))
  }

  test("TIMESTAMP_NTZ epoch-ms is zone-free, also inside a DST gap") {
    import spark.implicits._
    // 2024-03-10 02:30 does not exist in America/Los_Angeles (spring
    // forward); a cast in the session zone would land an hour late
    val ntz = Seq("2024-03-10 02:30:00", "2024-07-01 12:00:00", "1970-01-01 00:00:00")
      .toDF("s").select(to_timestamp_ntz(col("s")).as("ts"))
    val got = Compaction.withConf(spark, "spark.sql.session.timeZone", "America/Los_Angeles") {
      ntz.select(TSModel.tsMsFor(TimestampNTZType)).as[Long].collect().toSeq
    }
    assert(got == Seq(1710037800000L, 1719835200000L, 0L))
  }

  test("orders time-series mapping stays in the TPC-H date range") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val ts = o.schema("o_orderdate").dataType match {
      case DateType => unix_millis(col("o_orderdate").cast("timestamp"))
      case TimestampNTZType | TimestampType =>
        unix_millis(col("o_orderdate").cast("timestamp"))
      case other => fail(s"o_orderdate unsupported encoding $other")
    }
    val r = o.select(ts.as("ts")).agg(min("ts"), max("ts")).head()
    // the generated fixture's order dates span 1995-2001; the guard only
    // needs to catch a ~1000x unit misparse, so pin a decade-wide window
    assert(r.getLong(0) >= 631152000000L && r.getLong(1) < 1262304000000L,
      s"o_orderdate ms range [${r.getLong(0)}, ${r.getLong(1)}] outside 1990-2010 " +
        "— ts unit misparse?")
  }

  test("pipeline tables: documents and embeddings load with expected columns") {
    val docs = graft.pipeline.Text.loadDocuments(spark, sf)
    val dt = fieldTypes(docs)
    assert(dt("doc_id") === LongType && dt("text") === StringType,
      s"documents schema drifted: $dt")
    assert(docs.limit(1).count() === 1, "documents fixture is empty")
    val emb = graft.pipeline.Similarity.loadEmbeddings(spark, sf)
    val et = fieldTypes(emb)
    assert(et("vec_id") === LongType, s"embeddings schema drifted: $et")
    assert(et("embedding").isInstanceOf[ArrayType], s"embeddings schema drifted: $et")
  }
}
