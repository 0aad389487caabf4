package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ts.{Multi, RangeQuery, TSModel}
import graft.ts.RangeQuery.RangeArgs

/** The reference's TS.RANGE option grammar (query_language.c
  * parseRangeArguments) as RangeQuery.parseOptions, and the 4-arg
  * option-string TVF forms that speak it. */
class OptionGrammarSpec extends AnyFunSuite {
  import SparkTest._

  private val T0 = 1704067200000L
  private val DAY = 86400000L

  test("every clause parses to the matching RangeArgs") {
    val f = Some(T0); val t = Some(T0 + 10 * DAY)
    assert(RangeQuery.parseOptions("", f, t) == RangeArgs(from = f, to = t))
    assert(RangeQuery.parseOptions("AGGREGATION avg 86400000", f, t) ==
      RangeArgs(from = f, to = t, aggs = Seq("avg"), bucketMs = DAY))
    // keywords and aggregator names are case-insensitive
    assert(RangeQuery.parseOptions("aggregation AVG 86400000 empty", f, t) ==
      RangeArgs(from = f, to = t, aggs = Seq("avg"), bucketMs = DAY, empty = true))
    assert(RangeQuery.parseOptions("ALIGN start AGGREGATION sum 3600000", f, t) ==
      RangeArgs(from = f, to = t, aggs = Seq("sum"), bucketMs = 3600000L, alignMs = T0))
    assert(RangeQuery.parseOptions("ALIGN 42 AGGREGATION sum 3600000", f, t).alignMs == 42L)
    assert(RangeQuery.parseOptions("BUCKETTIMESTAMP mid AGGREGATION max 3600000", f, t).bucketTs == "~")
    assert(RangeQuery.parseOptions("BUCKETTIMESTAMP + AGGREGATION max 3600000", f, t).bucketTs == "+")
    assert(RangeQuery.parseOptions("COUNT 7 REV LATEST", f, t) ==
      RangeArgs(from = f, to = t, count = Some(7), reverse = true, latest = true))
    assert(RangeQuery.parseOptions(s"FILTER_BY_TS $T0 ${T0 + DAY} ${T0 + 2 * DAY}", f, t).filterByTs ==
      Seq(T0, T0 + DAY, T0 + 2 * DAY))
    assert(RangeQuery.parseOptions("FILTER_BY_VALUE -1.5 2.5", f, t).filterByValue ==
      Some((-1.5, 2.5)))
    // engine extension: repeated AGGREGATION = one-pass multi-agg
    assert(RangeQuery.parseOptions("AGGREGATION min 3600000 AGGREGATION max 3600000", f, t).aggs ==
      Seq("min", "max"))
  }

  test("malformed option strings are rejected loudly (test_negative parity)") {
    val f = Some(T0); val t = Some(T0 + DAY)
    intercept[IllegalArgumentException](RangeQuery.parseOptions("FROBNICATE", f, t))
    intercept[IllegalArgumentException](RangeQuery.parseOptions("COUNT", f, t))
    intercept[IllegalArgumentException](RangeQuery.parseOptions("AGGREGATION avg", f, t))
    intercept[IllegalArgumentException](RangeQuery.parseOptions("FILTER_BY_TS", f, t))
    intercept[IllegalArgumentException](RangeQuery.parseOptions("FILTER_BY_VALUE 1.0", f, t))
    intercept[IllegalArgumentException](RangeQuery.parseOptions("BUCKETTIMESTAMP x AGGREGATION avg 10", f, t))
    // repeated AGGREGATION must keep the bucketDuration
    intercept[IllegalArgumentException](
      RangeQuery.parseOptions("AGGREGATION min 1000 AGGREGATION max 2000", f, t))
  }

  test("4-arg option-string TVF forms == Column API") {
    graft.functions.GraftFunctions.register(spark)
    val samples = TSModel.samples(spark, sf)
    val labels = TSModel.labels(spark, sf)
    samples.createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    labels.createOrReplaceTempView(graft.functions.GraftFunctions.LabelsView)
    val from = T0; val to = T0 + 20 * DAY

    val opts = "AGGREGATION sum 172800000 ALIGN start EMPTY COUNT 8 REV"
    val tvf = spark.sql(s"SELECT * FROM ts_range('click_7', $from, $to, '$opts')")
    val api = RangeQuery.range(samples.filter(col("series") === "click_7"),
      RangeQuery.parseOptions(opts, Some(from), Some(to)))
    assert(tvf.collect().toSeq == api.collect().toSeq)
    // explicit-args twin for the same semantics (REV affects order)
    val apiExplicit = RangeQuery.range(samples.filter(col("series") === "click_7"),
      RangeArgs(from = Some(from), to = Some(to), aggs = Seq("sum"),
        bucketMs = 2 * DAY, alignMs = from, empty = true, count = Some(8), reverse = true))
    assert(tvf.collect().toSeq == apiExplicit.collect().toSeq)

    val mopts = "AGGREGATION avg 604800000 GROUPBY type REDUCE max"
    val mtvf = spark.sql(s"SELECT * FROM ts_mrange('type=(click,view)', $from, $to, '$mopts')")
    val mapi = Multi.mrangeGroupBy(samples, labels, Seq(Multi.parsePred("type=(click,view)")),
      RangeArgs(from = Some(from), to = Some(to), aggs = Seq("avg"), bucketMs = 7 * DAY),
      groupByLabel = "type", reducer = "max")
    // unordered on both sides: compare the exact multisets
    assert(mtvf.collect().toSeq.sortBy(_.toString) == mapi.collect().toSeq.sortBy(_.toString))
  }

  test("GROUPBY reducers are case-insensitive in both ts_mrange forms") {
    graft.functions.GraftFunctions.register(spark)
    TSModel.samples(spark, sf).createOrReplaceTempView(graft.functions.GraftFunctions.SamplesView)
    TSModel.labels(spark, sf).createOrReplaceTempView(graft.functions.GraftFunctions.LabelsView)
    val from = T0; val to = T0 + 20 * DAY
    def optionForm(red: String) = s"SELECT * FROM ts_mrange('type=click', $from, $to, " +
      s"'AGGREGATION avg 3600000 GROUPBY user REDUCE $red')"
    def positionalForm(red: String) =
      s"SELECT * FROM ts_mrange('type=click', $from, $to, 'avg', 3600000, 'user', '$red')"
    def rows(q: String) = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val lower = rows(optionForm("max"))
    assert(lower.nonEmpty)
    assert(rows(optionForm("MAX")) == lower)
    assert(rows(positionalForm("max")) == lower)
    assert(rows(positionalForm("MAX")) == lower)
    // an upper-case invalid reducer gets the reducer check, not "unknown aggregator"
    for (q <- Seq(optionForm("LAST"), positionalForm("LAST"))) {
      val e = intercept[Exception](spark.sql(q).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("last is not a valid GROUPBY reducer")),
        s"$q: ${e.getMessage}")
    }
  }
}
