package graft

/** Every registered query must run and return rows at sf0.001, and
  * every query must have an oracle and every oracle a query.
  * Value-level correctness is the driver's DuckDB gate (tools/verify.sh
  * locally); this suite guards wiring and non-emptiness.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql and queries have the same keys") {
    val (oracles, queries) = (SparkEntry.oracleSql.keySet, SparkEntry.queries.keySet)
    assert(oracles -- queries == Set.empty, "oracles without queries")
    assert(queries -- oracles == Set.empty, "queries without oracles")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf0001).count() > 0, s"$name returned 0 rows")
    }
  }
}
