package graft

/** Driver-contract guards: the correctness story is "every query has a
  * DuckDB oracle" (zero rows-only checks) — pin it structurally so a new
  * operator cannot land with a queries entry and no oracle (the driver
  * would silently downgrade it to a rows-only check), or an oracle for a
  * query that no longer exists (dead SQL that LOOKS like coverage).
  */
class ContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("query names are stable identifiers (the driver uses them as paths and JSON keys)") {
    for (name <- SparkEntry.queries.keys)
      assert(name.matches("[a-z][a-z0-9_]*"), s"bad query name: '$name'")
  }

  test("no duplicate query names across the query modules") {
    // built from SparkEntry.queryModules — the SAME list the driver
    // surface merges, so a new module is under this guard automatically
    val all = SparkEntry.queryModules.flatten.map(_._1)
    val dups = all.groupBy(identity).collect { case (n, os) if os.size > 1 => n }
    assert(dups.isEmpty,
      s"duplicate query names (the Map silently keeps one): ${dups.toSeq.sorted}")
    val allOracles = SparkEntry.oracleModules.flatten.map(_._1)
    val odups = allOracles.groupBy(identity).collect { case (n, os) if os.size > 1 => n }
    assert(odups.isEmpty, s"duplicate oracle names: ${odups.toSeq.sorted}")
  }
}
