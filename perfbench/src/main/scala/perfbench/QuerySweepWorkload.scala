package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry

/** Registry queries over seeded star-schema tables. Each query call is
  * build (`fn(spark, dir)`) -> plan (force `executedPlan`) -> exec
  * (`queryExecution.toRdd.count()`), the primary op. A round is one pass
  * over the query set in an order the seed shuffles anew each pass, so
  * order-dependent state shows up as spread instead of hiding. Passes
  * always complete, so every run measures whole passes.
  */
final class QuerySweepWorkload(sf: Double, queryNames: Seq[String],
                               recorded: Map[String, String]) extends Workload
    with AdaptiveSparkPlanHelper {
  val name = "query_sweep"
  /** One whole pass: its time sums every query's build + plan + exec, so
    * it is the sweep's end-to-end figure. Per-query latencies are kept
    * under "query".
    */
  val primaryOp = "pass"
  private val registry = SparkEntry.queries
  private var data: String = _
  /** Fingerprint of each query's result in this run. */
  val expected = mutable.LinkedHashMap.empty[String, String]
  private var unitIndex = 0

  private def order(ctx: Ctx, pass: Long): Seq[String] =
    new scala.util.Random(ctx.seed * 7919L + pass).shuffle(queryNames)

  def setup(ctx: Ctx, k: Int): Unit = {
    val dir = ctx.dir(s"${ctx.work}/setup$k")
    ctx.newSession(dir)
    // a fresh data dir per set-up: the registry memoizes fixtures by dir
    data = s"$dir/data"
    TestData.write(ctx.spark, data, sf, ctx.seed)
  }

  /** One pass that runs and verifies every query once, so the loop times
    * warm queries (as Bench does) and checks cost it nothing.
    */
  def warmUp(ctx: Ctx): Unit =
    order(ctx, -1).foreach(q => call(ctx, q).foreach(d => ctx.verifying(verify(ctx, q, d))))

  /** Verdict rows must all be ok; the result's fingerprint is kept for
    * the comparison with earlier runs of the same seed in [[finish]].
    */
  private def verify(ctx: Ctx, q: String, df: DataFrame): Unit = {
    ctx.check(s"$q: verdict rows not all ok") {
      df.columns.toSeq != Seq("check", "ok") || df.collect().forall(_.getBoolean(1))
    }
    expected(q) = Fingerprint.of(df).toString
    clearState(ctx)
  }

  /** What Bench clears between queries: persisted blocks and the cache. */
  private def clearState(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
  }

  def round(ctx: Ctx, i: Int): Unit = {
    var spent = 0.0
    order(ctx, i).foreach { q =>
      val t0 = System.nanoTime()
      ctx.unit(unitIndex)(call(ctx, q))
      spent += (System.nanoTime() - t0) / 1e9
      unitIndex += 1
      ctx.verifying(clearState(ctx))
    }
    ctx.latencies.getOrElseUpdate(primaryOp, mutable.ArrayBuffer.empty) += spent
  }

  private def call(ctx: Ctx, q: String): Option[DataFrame] = {
    val traced = ctx.tracer.on.get()
    val spanId = ctx.tracer.spans.size
    val done = ctx.op("query", "SparkEntry") {
      val df = ctx.span("build", "SparkEntry")(registry(q)(ctx.spark, data))
      val plan = ctx.span("plan", "spark")(df.queryExecution.executedPlan)
      (df, plan, ctx.span("exec", "spark")(df.queryExecution.toRdd.count()))
    }
    if (traced) ctx.records += (done match {
      case Some((df, plan, rows)) => Map("query" -> q, "span" -> spanId, "status" -> "ok",
        "rows" -> rows,
        "kernel" -> find(plan)(_.expressions.exists(_.exists(
          _.getClass.getName.startsWith("graft.plans.")))).isDefined,
        "verdict" -> df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      case None => Map("query" -> q, "span" -> spanId, "status" -> "failed")
    })
    done.map(_._1)
  }

  def finish(ctx: Ctx): Seq[(String, Double, String)] = {
    recorded.foreach { case (q, fp) =>
      ctx.check(s"$q: fingerprint ${expected.getOrElse(q, "missing")} != $fp recorded for this seed")(
        expected.get(q).contains(fp))
    }
    val lat = ctx.latencies.getOrElse("query", Seq.empty[Double]).toSeq
    val (tailName, tail) = Stats.tail(lat)
    Seq(("sweep_s", Stats.median(ctx.latencies(primaryOp).toSeq), "s"),
      ("query_p50_s", Stats.median(lat), "s"), (s"query_tail_s[$tailName]", tail, "s"),
      ("query_samples", lat.size.toDouble, "count"),
      ("queries", queryNames.size.toDouble, "count"))
  }
}

object QuerySweepWorkload {
  /** The measured query set: cheap at small scale, so several whole
    * passes fit in a run, and spread over the registry's families:
    * relational, window and time, vector operators, a plans kernel (q88),
    * a verdict-style check (q28), and the reference weather pipeline over
    * its CSV fixture (q92, q93: parse, dedup, median imputation,
    * validation, enrichment join), so the etl, operators and CSV sources
    * layers are measured here too.
    */
  val Set: Seq[String] = Seq(
    "q02_monthly_agg", "q07_validation", "q11_semi_join", "q13_rollup", "q22_asof_join",
    "q24_cosine_topk", "q28_simhash", "q40_weather_pipeline", "q47_pricing_summary",
    "q88_minhash_portable", "q92_weather_daily", "q93_weather_monthly")
}
