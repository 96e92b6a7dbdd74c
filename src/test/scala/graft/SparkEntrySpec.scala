package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query map and the oracle map are joined only by name: Verify writes
  * one parquet dir per query and oracle_check replays one SQL per oracle, so
  * a query without an oracle (or the reverse) would go unchecked. */
class SparkEntrySpec extends AnyFunSuite {
  test("every declared query has exactly one oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
  }
}
