package graft

import graft.registry.Registry

/** t1-style smoke over the whole registry at sf0.001: every query builds,
  * executes, and (except documented empties) returns rows. The hash-level
  * correctness gate is the driver's DuckDB compare (tools/check_oracle.py
  * mirrors it) — this spec guards plan-breaking regressions cheaply.
  */
class RegistrySpec extends SparkSpec {

  /** Legitimately empty at sf0.001 (all parts shipped). */
  private val mayBeEmpty = Set("q16_anti_join")

  /** Expensive model-fitting queries run in SalesMlSpec's "q63 and q64
    * run through the query registry". */
  private val skipHere = Set("q63_boosted_hybrid", "q64_stacking")

  test("oracle keys are a subset of query keys") {
    val unknown = Registry.oracleSql.keySet -- Registry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without queries: $unknown")
  }

  test("query names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  Registry.all.filterNot(q => skipHere(q.name)).foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = rows(q.name)
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
