package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are both derived
  * from the one `Q(name, build, oracle)` record per query in
  * `SparkEntry.registry`, so their key sets agree by construction; this
  * keeps the two maps the differential check reads from drifting apart. */
class QueryOracleParitySpec extends AnyFunSuite {
  test("SparkEntry.queries and SparkEntry.oracleSql declare the same keys") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"\nqueries without oracleSql: ${(queries -- oracles).toSeq.sorted.mkString(", ")}" +
        s"\noracleSql without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }
}
