package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of [[SparkEntry.gates]] that need no SparkSession. A `Seq`,
  * unlike a name-keyed map, keeps a duplicated name, so uniqueness is
  * checked here. */
class GateRegistrySpec extends AnyFunSuite {
  private val gates = SparkEntry.gates

  test("the registry holds 175 gates, sorted by name") {
    assert(gates.size == 175)
    assert(gates.map(_.name) == gates.map(_.name).sorted)
  }

  test("gate names and their qNN prefixes are unique") {
    def dups(xs: Seq[String]) = xs.groupBy(identity).collect { case (x, v) if v.size > 1 => x }
    assert(dups(gates.map(_.name)).isEmpty)
    val prefixes = gates.map(g => "^q\\d+".r.findFirstIn(g.name).getOrElse(fail(g.name)))
    assert(dups(prefixes).isEmpty)
  }

  test("every oracle SQL string is non-blank") {
    assert(gates.filter(_.oracleSql.isBlank).map(_.name).isEmpty)
  }

  test("select matches comma-separated substrings in name order and fails on no match") {
    assert(SparkEntry.select(None) == gates)
    assert(SparkEntry.select(Some("q02_,q01_")).map(_.name) ==
      Seq("q01_pricing_summary", "q02_latest_event"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("no_such_gate,q999_")))
    assert(e.getMessage.contains("no_such_gate,q999_"))
  }
}
