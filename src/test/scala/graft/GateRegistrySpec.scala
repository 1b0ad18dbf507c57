package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{ApiQueries, TimelyQueries}

/** The correctness-gate registry: every gate has its DuckDB oracle, and the
  * Timely surface (the `ts_`, `api_`, `meta_` and `points_` families) is
  * exactly the 44 gates of TimelyQueries and ApiQueries' `api_*` gates.
  * Runs no gate. */
class GateRegistrySpec extends AnyFunSuite {

  test("every gate has an oracle; the Timely families hold 44 gates") {
    val names = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(names.diff(oracles).isEmpty && oracles.diff(names).isEmpty,
      s"gates without an oracle: ${names.diff(oracles)}; oracles without a gate: ${oracles.diff(names)}")
    val timely = names.filter(n => Seq("ts_", "api_", "meta_", "points_").exists(n.startsWith))
    assert(timely.size == 44, s"${timely.size} Timely gates: ${timely.toSeq.sorted.mkString(", ")}")
    val expected = TimelyQueries.queries.keySet ++ ApiQueries.queries.keySet.filter(_.startsWith("api_"))
    assert(timely == expected,
      s"Timely-prefixed names outside their registries: ${timely.diff(expected)}; missing: ${expected.diff(timely)}")
  }
}
