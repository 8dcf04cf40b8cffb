package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.etl.WeatherETL
import graft.operators.Load

/** The reference DAG end to end: a seeded weather CSV through
  * `WeatherETL.run` (extract, transform, validate), then both outputs
  * appended with `Load.parquetAppend` to a fresh directory (load). One
  * iteration is the primary op.
  */
final class WeatherEtlWorkload(rows: Int) extends Workload {
  val name = "weather_etl"
  val primaryOp = "etl_run"
  private var csv: String = _
  private var truth: WeatherGen.Truth = _
  private var iteration = 0

  def setup(ctx: Ctx, k: Int): Unit = {
    val dir = ctx.dir(s"${ctx.work}/setup$k")
    ctx.newSession(dir)
    csv = s"$dir/weather.csv"
    truth = WeatherGen.write(csv, rows, ctx.seed)
  }

  /** Five iterations: the JIT keeps speeding iterations up until about
    * the fifth (3.1 s -> 2.3 s on a 4-core host), and a window that
    * samples that slope makes a slower host also sample earlier, slower
    * iterations.
    */
  def warmUp(ctx: Ctx): Unit = (1 to 5).foreach { k =>
    val t0 = System.nanoTime()
    val out = iterate(ctx)
    if (k == 1) cold = (System.nanoTime() - t0) / 1e9
    out.foreach(check(ctx, _))
  }
  private var cold = Double.NaN

  def round(ctx: Ctx, i: Int): Unit = ctx.unit(i) {
    iterate(ctx).map { out =>
      if (ctx.tracer.on.get()) ctx.verifying {
        val (files, bytes) = Harness.du(out)
        ctx.count("files_written", files.toDouble)
        ctx.count("bytes_written", bytes.toDouble)
      }
      out
    }
  }.foreach(check(ctx, _))

  /** One iteration into a fresh output directory; None when it failed. */
  private def iterate(ctx: Ctx): Option[String] = {
    iteration += 1
    val out = s"${ctx.work}/out/$iteration"
    ctx.op(primaryOp, "etl") {
      val (daily, monthly) = ctx.span("build", "etl")(WeatherETL.run(ctx.spark, csv))
      ctx.span("write", "operators") {
        Load.parquetAppend(daily, s"$out/daily")
        Load.parquetAppend(monthly, s"$out/monthly")
      }
      out
    }
  }

  private def check(ctx: Ctx, out: String): Unit = ctx.verifying {
    verify(ctx, out)
    Harness.deleteRecursively(new File(out))
  }

  /** Both output tables against the generator's truth record. */
  private def verify(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    val daily = spark.read.parquet(s"$out/daily")
    val monthly = spark.read.parquet(s"$out/monthly")
    ctx.check(s"daily rows != ${truth.dailyRows}")(daily.count() == truth.dailyRows)
    ctx.check(s"monthly rows != ${truth.months}")(monthly.count() == truth.months)
    val sample = truth.sampleDays.keys.map(d => lit(java.sql.Date.valueOf(d))).toSeq
    val got = daily
      .withColumn("date", to_date(try_to_timestamp(col("formatted_date"), lit(WeatherETL.TsFormat))))
      .filter(col("date").isin(sample: _*))
      .select("date", "temperature_c", "humidity", "wind_speed_kmh").distinct().collect()
      .map(r => r.getDate(0).toLocalDate -> WeatherGen.DayMeans(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    ctx.check(s"sampled days: got ${got.length} rows for ${truth.sampleDays.size} days")(
      got.length == truth.sampleDays.size)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    got.foreach { case (d, m) =>
      val t = truth.sampleDays(d)
      ctx.check(s"daily means of $d: got $m, expected $t")(
        close(m.temperature, t.temperature) && close(m.humidity, t.humidity) && close(m.wind, t.wind))
    }
  }

  def finish(ctx: Ctx): Seq[(String, Double, String)] = {
    val runs = ctx.latencies.getOrElse(primaryOp, Seq.empty[Double]).toSeq
    val p50 = if (runs.isEmpty) Double.NaN else Stats.median(runs)
    Seq(("etl_run_s", p50, "s"), ("etl_cold_s", cold, "s"),
      ("etl_rows_per_s", truth.lines / p50, "rows/s"),
      ("input_lines", truth.lines.toDouble, "count"),
      ("input_duplicate_rows", truth.duplicateRows.toDouble, "count"),
      ("input_bad_timestamps", truth.badTimestamps.toDouble, "count"),
      ("input_null_cells", truth.nullCells.values.sum.toDouble, "count"))
  }
}
