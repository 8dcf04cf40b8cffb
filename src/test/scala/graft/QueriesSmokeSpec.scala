package graft

/** Smoke guard: every registered query must run at sf0.001 and keep its
  * oracle column names resolvable — catches accidental breakage of the
  * driver contract between rounds (the driver only smoke-checks entry()).
  *
  * Each query is built once. It runs as `queryExecution.toRdd.count()`,
  * which executes the plan as built (`df.count()` may prune columns and
  * drop whole joins), and a verdict-style (check, ok) query must be
  * all-TRUE.
  */
class QueriesSmokeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.queryExecution.toRdd.count() >= 0)
      if (df.columns.toSeq == Seq("check", "ok")) {
        val bad = df.collect().filterNot(_.getBoolean(1)).map(_.getString(0))
        assert(bad.isEmpty, s"$name false verdicts: ${bad.mkString(",")}")
      }
    }
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without query impl: $orphans")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q30 HLL estimate stays within the advertised tolerance") {
    // the hash-checked column is the derived verdict; this pins the
    // underlying estimate so a sketch regression can't hide behind it
    val rows = SparkEntry.queries("q30_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "approx_count_distinct drifted > 5% from exact")
  }
}
