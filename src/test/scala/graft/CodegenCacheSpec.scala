package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's codegen cache must hold the engine's working set. Compiled
  * classes live in one JVM-wide LRU sized by
  * `spark.sql.codegen.cache.maxEntries`; at Spark's default of 100 a pass
  * over perfbench's 12-query sweep (163 distinct classes) evicted what the
  * next pass needed, and Janino recompiled 90–144 classes on every warm
  * pass. With [[GraftSession.codegenCacheEntries]] a warm pass compiles
  * nothing.
  */
class CodegenCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** perfbench's `query_sweep` query set. */
  private val sweep = Seq(
    "q02_monthly_agg", "q07_validation", "q11_semi_join", "q13_rollup", "q22_asof_join",
    "q24_cosine_topk", "q28_simhash", "q40_weather_pipeline", "q47_pricing_summary",
    "q88_minhash_portable", "q92_weather_daily", "q93_weather_monthly")

  /** Classes compiled by one pass, each query run as perfbench runs it:
    * build, plan, execute, then clear the sweep state.
    */
  private def passCompiles(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sweep.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.queryExecution.executedPlan
      df.queryExecution.toRdd.count()
      Bench.clearSweepState(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session sizes the codegen cache by the engine's policy") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.codegenCacheEntries.toString)
  }

  test("a warm pass over the sweep queries compiles no class") {
    // the metric counts: an expression no earlier query had compiles
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.range(1).selectExpr(s"id + ${System.nanoTime()}L").collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > before)
    passCompiles()
    assert(passCompiles() === 0L)
  }
}
