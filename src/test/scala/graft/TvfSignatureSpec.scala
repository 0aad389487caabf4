package graft

import org.apache.spark.sql.GraftSessionBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions
import graft.ts.TSModel

/** The SQL table functions are declared by typed signatures
  * (`GraftFunctions.tvf`): arity, literal parsing, errors and usage all
  * derive from them. This pins the derived surface: the name and arity
  * set of every TVF, the arity error, the literal-only rule per slot
  * kind, the usage text, and the declaration-time checks. */
class TvfSignatureSpec extends AnyFunSuite {
  import SparkTest._

  private val T0 = 1704067200000L
  private val T31 = 1706745599999L

  /** Every TVF and the argument counts it accepts. */
  private val arities: Seq[(String, Seq[Int])] = Seq(
    "ts_range" -> Seq(3, 4, 5, 6), "ts_mrange" -> Seq(3, 4, 5, 6, 7), "ts_get" -> Seq(1),
    "ts_mget" -> Seq(1), "ts_queryindex" -> Seq(1), "ts_querylabels" -> Seq(1, 2),
    "ts_info" -> Seq(0, 1), "ts_nrange" -> Seq(3, 4, 5, 6), "ts_sliding" -> Seq(5, 6),
    "ts_session" -> Seq(4), "ts_rate" -> Seq(3, 4), "ts_increase" -> Seq(3, 4),
    "ts_irate" -> Seq(3, 4), "ts_hampel" -> Seq(4), "ts_burn_rate" -> Seq(7), "ts_gaps" -> Seq(3),
    "ts_decompose" -> Seq(4), "ts_forecast" -> Seq(6), "ts_ccf" -> Seq(6), "ts_dtw" -> Seq(4),
    "ts_dtw_nearest" -> Seq(5), "ts_resets" -> Seq(3, 4), "ts_quantiles" -> Seq(4, 5),
    "ts_zscore" -> Seq(3), "ts_mad" -> Seq(3), "ts_trend" -> Seq(3), "ts_histogram" -> Seq(5),
    "ts_histogram_quantile" -> Seq(6), "ts_ddsketch_quantile" -> Seq(4),
    "ts_ddsketch_windowed" -> Seq(4), "ts_ddsketch_signed" -> Seq(3, 4),
    "ts_ddsketch_signed_quantile" -> Seq(4, 5), "ts_ddsketch_collapsed" -> Seq(4),
    "ts_ddsketch_signed_windowed" -> Seq(4, 5), "ts_lttb" -> Seq(3, 4), "ts_ewma" -> Seq(3, 4),
    "ts_cusum" -> Seq(3), "ts_changepoint" -> Seq(5), "ts_theilsen" -> Seq(3),
    "ts_asof" -> Seq(4, 5), "ts_seasonal" -> Seq(3, 4), "ts_rolling_quantile" -> Seq(4),
    "ts_winsorize" -> Seq(4), "ts_resample" -> Seq(3, 4), "ts_corr" -> Seq(5, 6),
    "ts_delta_rate" -> Seq(3, 4), "ts_acf" -> Seq(3), "ts_holt" -> Seq(4),
    "ts_holt_winters" -> Seq(6), "ts_topk" -> Seq(5, 6), "ts_sax" -> Seq(3), "ts_motifs" -> Seq(5),
    "ts_hw_forecast" -> Seq(8), "ts_rolling_corr" -> Seq(6), "ts_backtest" -> Seq(7),
    "ts_backtest_rolling" -> Seq(7), "ts_matrix_profile" -> Seq(4, 5),
    "ts_decompose_anomaly" -> Seq(5), "ts_corr_matrix" -> Seq(4, 5),
    "ts_corr_matrix_filter" -> Seq(4, 5), "ts_mp_discords" -> Seq(5, 6),
    "ts_mp_motifs" -> Seq(5, 6), "ts_mp_join" -> Seq(6, 7), "ts_matrix_profile_stomp" -> Seq(4),
    "corpus_source_cap" -> Seq(1), "corpus_contamination" -> Seq(1, 2),
    "corpus_contamination_frac" -> Seq(1, 2), "corpus_contamination_fuzzy" -> Seq(2, 4),
    "ann_recall" -> Seq(4, 5), "corpus_decontaminate" -> Seq(1, 2), "corpus_langid" -> Seq(0),
    "corpus_source_divergence" -> Seq(2), "corpus_source_moments" -> Seq(1),
    "corpus_text_quality" -> Seq(0), "corpus_tokens" -> Seq(0),
    "corpus_stratified_sample" -> Seq(2, 3), "corpus_pack_sequences" -> Seq(2),
    "corpus_chunk" -> Seq(2), "corpus_dedup_pairs" -> Seq(2), "corpus_dsir" -> Seq(3),
    "corpus_quality_percentile" -> Seq(1), "ann_topk" -> Seq(2), "emb_label_drift" -> Seq(0),
    "ann_ivf_topk" -> Seq(4, 5), "corpus_admit" -> Seq(1, 3), "ts_dtw_nearest_banded" -> Seq(6),
    "corpus_mix_temperature" -> Seq(1), "corpus_boilerplate" -> Seq(2),
    "corpus_boilerplate_clean" -> Seq(2), "corpus_keep" -> Seq(2),
    "corpus_classifier_score" -> Seq(2))

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  private def views(): Unit = {
    GraftFunctions.register(spark)
    TSModel.samples(spark, sf).createOrReplaceTempView(GraftFunctions.SamplesView)
    TSModel.labels(spark, sf).createOrReplaceTempView(GraftFunctions.LabelsView)
  }

  /** The analysis-time error of a SQL call, by message chain. */
  private def analysisError(q: String): Seq[String] =
    messages(intercept[Exception](spark.sql(q)))

  test("the 91 TVF names and their arity sets are unchanged") {
    assert(arities.size == 91 && arities.map(_._1).distinct.size == 91)
    assert(GraftFunctions.tableFunctions.map(_._1.funcName) == arities.map(_._1))
    val builders = GraftFunctions.tableFunctions.map(t => t._1.funcName -> t._3).toMap
    for ((fn, allowed) <- arities; n <- 0 to 9) {
      // NULL literals fail at the first slot, never reaching a body
      val args = Seq.fill(n)(Literal(null))
      val arityError = s"$fn expects ${allowed.mkString(" or ")} argument(s), got $n"
      val got = scala.util.Try(builders(fn)(args)).failed.toOption.toSeq.flatMap(messages)
      if (allowed.contains(n)) assert(!got.exists(_.contains("argument(s), got")), s"$fn/$n: $got")
      else assert(got.exists(_.contains(arityError)), s"$fn/$n: $got")
    }
  }

  test("a wrong arity fails at analysis with the derived message") {
    views()
    assert(analysisError(s"SELECT * FROM ts_range('click_7', $T0)")
      .exists(_.contains("ts_range expects 3 or 4 or 5 or 6 argument(s), got 2")))
    assert(analysisError("SELECT * FROM corpus_admit('/nonexistent', 16)")
      .exists(_.contains("corpus_admit expects 1 or 3 argument(s), got 2")))
    assert(analysisError("SELECT * FROM corpus_langid(1)")
      .exists(_.contains("corpus_langid expects 0 argument(s), got 1")))
  }

  test("a rand()-valued argument is rejected at analysis for every slot kind") {
    views()
    val cases = Seq(
      "str" -> ("SELECT * FROM ts_get(CAST(rand() AS STRING))", "ts_get: series must be a literal string"),
      "opts" -> (s"SELECT * FROM ts_range('click_7', $T0, $T31, CAST(rand() AS STRING))",
        "ts_range: options must be a literal string"),
      "agg" -> (s"SELECT * FROM ts_session($T0, $T31, CAST(rand() AS STRING), 3600000)",
        "ts_session: agg must be a literal string"),
      "keys" -> (s"SELECT * FROM ts_nrange(CAST(rand() AS STRING), $T0, $T31)",
        "ts_nrange: keys must be a literal string"),
      "preds" -> ("SELECT * FROM ts_mget(CAST(rand() AS STRING))",
        "ts_mget: filter must be a literal string"),
      "long" -> (s"SELECT * FROM ts_gaps($T0, $T31, CAST(rand() AS BIGINT))",
        "ts_gaps: threshold_ms must be an integral literal"),
      "int" -> (s"SELECT * FROM ts_acf($T0, $T31, CAST(rand() AS INT))",
        "ts_acf: max_lag must be an integral literal"),
      "double" -> (s"SELECT * FROM ts_zscore($T0, $T31, rand())",
        "ts_zscore: threshold must be a numeric literal"))
    for ((kind, (q, want)) <- cases)
      assert(analysisError(q).exists(_.contains(want)), s"$kind: $q")
  }

  test("a numeric 4th range argument is an options error, not an index error") {
    views()
    for (q <- Seq(s"SELECT * FROM ts_range('click_7', $T0, $T31, 5)",
        s"SELECT * FROM ts_mrange('type=click', $T0, $T31, 5)",
        s"SELECT * FROM ts_nrange('click_7', $T0, $T31, 5)")) {
      val fn = q.drop("SELECT * FROM ".length).takeWhile(_ != '(')
      val msgs = analysisError(q)
      assert(msgs.exists(_.contains(s"$fn: options must be a literal string")), s"$q: $msgs")
    }
  }

  test("an int slot rejects a value past Int range instead of wrapping") {
    spark.range(4).selectExpr("id AS vec_id", "array(1.0D, CAST(id AS DOUBLE)) AS embedding")
      .createOrReplaceTempView(GraftFunctions.EmbeddingsView)
    GraftFunctions.register(spark)
    assert(analysisError("SELECT * FROM ann_topk('1', 4294967297)")
      .exists(_.contains("ann_topk: k must fit an INT, got 4294967297")))
    assert(spark.sql("SELECT * FROM ann_topk('1', 2)").collect().length == 2)
  }

  test("every TVF's usage comes from its signature and starts with its name") {
    GraftFunctions.register(spark)
    val registry = GraftSessionBridge.tableFunctionRegistry(spark)
    for ((id, info, _) <- GraftFunctions.tableFunctions) {
      val usage = info.getUsage
      assert(usage != null && usage.startsWith(id.funcName + "("), s"${id.funcName}: $usage")
      assert(registry.lookupFunction(FunctionIdentifier(id.funcName)).map(_.getUsage).contains(usage))
    }
    val rate = GraftFunctions.tableFunctions.find(_._1.funcName == "ts_rate").get._2.getUsage
    assert(rate == "ts_rate(from:long to:long bucket_ms:long [align_ms:long=0])")
    val range = GraftFunctions.tableFunctions.find(_._1.funcName == "ts_range").get._2.getUsage
    assert(range == "ts_range(series:str from:long to:long [options:opts]) | " +
      "ts_range(series:str from:long to:long agg:agg bucket_ms:long [align_ms:long=0])")
  }

  test("malformed signatures fail at declaration") {
    def declare(sig: String): String =
      intercept[IllegalArgumentException](GraftFunctions.tvf("t", sig)((s, _) => s.emptyDataFrame)).getMessage
    assert(declare("a:long [b:long] | a:long c:long").contains("distinct argument counts"))
    assert(declare("[a:long] b:long").contains("required slot b follows an optional group"))
    assert(declare("a:long=1").contains("required slot a cannot take a default"))
    assert(declare("a:bogus").contains("unknown slot kind 'bogus'"))
    assert(declare("a:long [b:long [c:long]]").contains("nested ["))
    assert(declare("a:long [b:long").contains("unclosed ["))
    assert(declare("a:long a:str").contains("duplicate slot name"))
    // well-formed: optional groups are all-or-nothing, in order
    val (_, info, _) = GraftFunctions.tvf("t", "a:str [b:long=1 c:int=2] [d:double]")((s, _) => s.emptyDataFrame)
    assert(info.getUsage == "t(a:str [b:long=1 c:int=2] [d:double])")
  }
}
