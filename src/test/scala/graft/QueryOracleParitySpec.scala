package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are parallel maps
  * declared far apart: every query needs its DuckDB oracle and every
  * oracle a query, or the differential check silently skips one. */
class QueryOracleParitySpec extends AnyFunSuite {
  test("SparkEntry.queries and SparkEntry.oracleSql declare the same keys") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"\nqueries without oracleSql: ${(queries -- oracles).toSeq.sorted.mkString(", ")}" +
        s"\noracleSql without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }
}
