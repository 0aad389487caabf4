package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q

/** The query registry: one [[Q]] per query, merged from the families
  * with a loud failure on duplicate names, and the name selection the
  * Bench/Verify/Explain mains share. */
class QueryRegistrySpec extends AnyFunSuite {

  private val noBuild: (SparkSession, String) => DataFrame = (_, _) => ???

  test("the merged registry declares 371 distinct query names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size == 371)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("merging two families that declare one name twice fails, naming it") {
    val e = intercept[IllegalArgumentException] {
      Q.merge(Seq(Q("a", noBuild, "SELECT 1"), Q("b", noBuild, "SELECT 2")),
        Seq(Q("b", noBuild, "SELECT 3"), Q("c", noBuild, "SELECT 4"), Q("a", noBuild, "SELECT 5")))
    }
    assert(e.getMessage.contains("a, b"), e.getMessage)
  }

  test("no oracle embeds the checkout directory") {
    val checkout = System.getProperty("user.dir")
    val leaking = SparkEntry.oracleSql.collect { case (n, sql) if sql.contains(checkout) => n }
    assert(leaking.isEmpty, s"oracles naming $checkout: ${leaking.toSeq.sorted.mkString(", ")}")
  }

  test("select: every query by name when empty, the given order otherwise") {
    assert(SparkEntry.select(Nil).map(_.name) == SparkEntry.registry.map(_.name).sorted)
    assert(SparkEntry.select(Seq("ts_get", "ts_range_raw", "ts_get")).map(_.name) ==
      Seq("ts_get", "ts_range_raw"))
  }

  test("select rejects unknown names and lists every one of them") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("ts_get", "ts_gett", "ts_rnage_raw"))
    }
    assert(e.getMessage.contains("ts_gett, ts_rnage_raw"), e.getMessage)
  }
}
