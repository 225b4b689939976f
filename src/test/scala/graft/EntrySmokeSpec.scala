package graft

/** Cheap pre-oracle gate: every entry query must ANALYZE and produce at
  * least one row at sf0.001. The r4 regression shipped five queries that
  * failed at analysis time — Verify logged to stderr and the correctness
  * file silently shrank. This spec turns that class of failure into a red
  * test before the driver ever runs.
  */
class EntrySmokeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name analyzes and yields >=1 row at sf0.001") {
      val df = fn(spark, dir)
      // analysis happens eagerly at DataFrame construction; limit(1) keeps
      // the execution cost to first-row while still exercising the plan
      assert(df.limit(1).count() == 1L, s"$name returned no rows")
    }
  }

  test("every query has an oracle or is explicitly rows-only") {
    // the driver records a weaker rows-only check for queries absent from
    // oracleSql — keep that set empty unless a query is non-SQL-expressible
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: ${noOracle.mkString(", ")}")
  }

  test("a query name listed twice in the graded table fails, naming it") {
    val g = SparkEntry.table.head
    val e = intercept[IllegalArgumentException](
      graft.entry.Graded.byName(SparkEntry.table :+ g.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains(g.name))
    assert(SparkEntry.queries.size == SparkEntry.table.size)
  }
}
