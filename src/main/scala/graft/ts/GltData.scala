package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Second real-measurement golden fixture (VERDICT r05 missing #2): the
 * reference's RDB-compatibility suite loads the Berkeley Earth
 * GlobalLandTemperaturesByMajorCity dataset — 100 major cities × 2
 * metrics (AverageTemperature / AverageTemperatureUncertainty), each a
 * labeled series `metric:city` with REAL labels (city, country,
 * latitude, longitude; `metric` only on the temperature series) —
 * monthly samples from 1970 on (negative pre-epoch timestamps are
 * skipped by the loader, tests/flow/create_test_rdb_file.py:37-76).
 *
 * The raw CSV is not in the reference tree; the dataset ships INSIDE
 * its committed RDB fixtures (the tests/flow/rdbs directory,
 * tests/flow/README.md:1-15). `1.0.1.rdb` is bundled here verbatim
 * (a public test DATASET, the lemire precedent) and decoded by
 * [[parse]] — a ~100-line reader for RDB v9 + the module's encver-0
 * payload, whose field order is the reference's own legacy load path
 * (series_rdb_load, src/rdb.c:22-127: keyName, retention, chunkSize,
 * labels, rules, samplesCount, then flat (timestamp, double) pairs —
 * encver 0 predates Gorilla chunk serialization).
 *
 * Like the lemire fixture, the decoded samples/labels are materialized
 * ONCE to deterministic CSV paths that BOTH engines read — Spark via
 * [[samples]]/[[labels]], DuckDB via `read_csv` in [[samplesCte]] /
 * [[labelsWideCte]] — so every ts_glt_* differential runs on the
 * identical real measurements with real label structure (49 countries
 * for GROUPBY; `metric` absent on half the series for
 * SELECTED_LABELS).
 */
object GltData {

  final case class Series(key: String, labels: Seq[(String, String)],
      samples: Array[(Long, Double)])

  /** Decode the bundled RDB: all 200 series in file order. The byte
    * walk lives in [[RdbReader]] (shared with the rule-bearing
    * [[RdbState]] fixture since round 7); the GLT image is encver 0 —
    * flat (timestamp, double) pairs, no rules. */
  lazy val parse: Seq[Series] = {
    val in = getClass.getResourceAsStream("/fixtures/glt_1.0.1.rdb")
    require(in != null, "bundled fixture /fixtures/glt_1.0.1.rdb missing from classpath")
    val data = in.readAllBytes(); in.close()
    RdbReader.parseFile(data).map { s =>
      require(s.rules.isEmpty, "GLT fixture has no compaction rules")
      Series(s.key, s.labels, s.samples)
    }
  }

  /** Extract-once CSV twins of the decoded fixture (series,ts,value and
    * series,lkey,lvalue) at stable absolute paths both engines read —
    * the lemire write-then-atomic-move contract, content-compared so
    * concurrent JVMs and the driver's later DuckDB run always see the
    * identical bytes. Fields are verified CSV-clean at build time. */
  lazy val (samplesPath: String, labelsPath: String) = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_fixtures")
    java.nio.file.Files.createDirectories(dir)
    def emit(name: String, content: String): String = {
      val target = dir.resolve(name)
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (!java.nio.file.Files.exists(target) ||
          !java.util.Arrays.equals(java.nio.file.Files.readAllBytes(target), bytes)) {
        val tmp = java.nio.file.Files.createTempFile(dir, name, ".tmp")
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      target.toAbsolutePath.toString
    }
    def clean(s: String): String = {
      require(!s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'),
        s"CSV-hostile field in GLT fixture: $s"); s
    }
    val sb = new StringBuilder
    for (s <- parse; (ts, v) <- s.samples)
      sb ++= clean(s.key) += ',' ++= ts.toString += ',' ++=
        java.lang.Double.toString(v) += '\n' // shortest round-trip form:
        // both engines parse it back to the identical double
    val lb = new StringBuilder
    for (s <- parse; (k, v) <- s.labels)
      lb ++= clean(s.key) += ',' ++= clean(k) += ',' ++= clean(v) += '\n'
    (emit("glt_samples.csv", sb.result()), emit("glt_labels.csv", lb.result()))
  }

  /** The decoded samples as the engine's long-format frame. */
  def samples(spark: SparkSession): DataFrame =
    spark.read
      .schema("series STRING, ts LONG, value DOUBLE")
      .csv(samplesPath)

  /** Real label maps per series (metric/city/country/latitude/longitude;
    * `metric` genuinely absent on the uncertainty series), as the
    * driver-resident label index of [[Multi.labelIndex]]. */
  def labels(spark: SparkSession): DataFrame =
    Multi.labelIndex(spark.read.schema("series STRING, lkey STRING, lvalue STRING")
      .csv(labelsPath)
      .groupBy(col("series"))
      .agg(map_from_entries(collect_list(struct(col("lkey"), col("lvalue"))))
        .as("labels")))

  lazy val samplesCte: String =
    s"""WITH samples AS (
       |  SELECT series, ts, value FROM read_csv('$samplesPath', header=false,
       |    columns={'series':'VARCHAR','ts':'BIGINT','value':'DOUBLE'})
       |)""".stripMargin

  /** Wide per-series label relation (no leading WITH): one row per
    * series, NULL for absent labels — the shape the oracle joins. */
  lazy val labelsWideCte: String =
    s"""glt_labels AS (
       |  SELECT series,
       |         max(CASE WHEN lkey = 'metric' THEN lvalue END) AS metric,
       |         max(CASE WHEN lkey = 'city' THEN lvalue END) AS city,
       |         max(CASE WHEN lkey = 'country' THEN lvalue END) AS country
       |  FROM read_csv('$labelsPath', header=false,
       |    columns={'series':'VARCHAR','lkey':'VARCHAR','lvalue':'VARCHAR'})
       |  GROUP BY series
       |)""".stripMargin
}
