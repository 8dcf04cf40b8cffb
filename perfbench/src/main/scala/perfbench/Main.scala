package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}`.
  * Untraced runs report the end-to-end metrics; traced runs the per-layer
  * metrics, and write spans, jobs and per-op records to `--trace-out`.
  *
  *   --workload weather_etl|query_sweep|table_upsert  --seed N
  *   --seconds S  --trace 0|1  --work DIR  --state DIR  --trace-out FILE
  */
object Main {
  /** Set-ups per run; setup_s is their median plus the warm-up. */
  val SetUps = 3

  def workload(name: String, state: String, seed: Long): Workload = name match {
    case "weather_etl" => new WeatherEtlWorkload(rows = 9000)
    case "query_sweep" =>
      new QuerySweepWorkload(0.005, QuerySweepWorkload.Set, Recorded.load(state, name, seed))
    case "table_upsert" =>
      new TableUpsertWorkload(stations = 25, initialHours = 2000, batchRows = 2500, maintainEvery = 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val tracing = args("trace") == "1"
    val jvmStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = new Ctx(seed, args("work"), tracing)
    val w = workload(name, args("state"), seed)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setups = (0 until SetUps).map(k => timed(w.setup(ctx, k)))
    ctx.checkSeconds = 0
    ctx.warmUpSeconds = timed(w.warmUp(ctx)) - ctx.checkSeconds
    ctx.checkSeconds = 0
    ctx.measuring = true
    val t0 = System.nanoTime()
    var rounds = 0
    def measured = (System.nanoTime() - t0) / 1e9 - ctx.checkSeconds
    while (rounds == 0 || measured < seconds) { w.round(ctx, rounds); rounds += 1 }
    ctx.measuring = false
    val extra = w.finish(ctx)
    w match {
      case q: QuerySweepWorkload => Recorded.save(args("state"), name, seed, q.expected)
      case _ =>
    }

    val primary = ctx.latencies.getOrElse(w.primaryOp, mutable.ArrayBuffer.empty[Double]).toSeq
    val (tailName, tail) = Stats.tail(primary)
    val summary = Seq(("jvm_start_s", jvmStart, "s"), ("measured_s", measured, "s"),
      ("check_s", ctx.checkSeconds, "s"), ("rounds", rounds.toDouble, "count"),
      (s"${w.primaryOp}_samples", primary.size.toDouble, "count"),
      (s"${w.primaryOp}_tail_s[$tailName]", tail, "s"), ("warm_up_s", ctx.warmUpSeconds, "s")) ++
      setups.zipWithIndex.map { case (v, k) => (s"setup_${k}_s", v, "s") } ++ extra
    summary.foreach { case (k, v, u) => println(f"# $name $k%-28s $v%.6f $u") }
    println(s"# samples ${w.primaryOp}: " + primary.map(v => f"$v%.3f").mkString(" "))
    ctx.failures.foreach(f => println(s"# failed $f"))
    ctx.mismatches.foreach(m => println(s"# mismatch $m"))
    val metrics: Seq[(String, Double, String)] =
      if (!tracing) Seq(
        ("setup_s", Stats.median(setups) + ctx.warmUpSeconds, "s"),
        ("op_p50_s", Stats.median(primary), "s"),
        ("peak_rss_mb", Harness.peakRssMb(), "MB"))
      else {
        val layers = Layers(ctx)
        layers.summary.foreach(l => println(s"# $l"))
        writeTrace(args("trace-out"), name, seed, ctx, layers)
        layers.metrics
      }
    ctx.spark.stop()
    val correct = ctx.mismatches.isEmpty && ctx.failures.isEmpty
    println(Json.result(correct, ctx.attempted, ctx.failures.size.toLong, metrics))
  }

  private def writeTrace(path: String, name: String, seed: Long, ctx: Ctx, layers: Layers): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try pw.println(Json.obj(Seq("workload" -> name, "seed" -> seed) ++ layers.traceFields))
    finally pw.close()
  }
}

/** The fingerprints a query_sweep run records for its (sf, seed), which
  * later runs of the same seed in the same checkout must reproduce.
  */
object Recorded {
  private def file(state: String, name: String, seed: Long) = new File(s"$state/$name-seed$seed.fingerprints")

  def load(state: String, name: String, seed: Long): Map[String, String] = {
    val f = file(state, name, seed)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split(' ')).collect { case Array(q, fp) => q -> fp }.toMap
      finally src.close()
    }
  }

  def save(state: String, name: String, seed: Long, fps: collection.Map[String, String]): Unit = {
    val f = file(state, name, seed)
    if (!f.exists) {
      f.getParentFile.mkdirs()
      val pw = new PrintWriter(f, "UTF-8")
      try fps.toSeq.sorted.foreach { case (q, fp) => pw.println(s"$q $fp") } finally pw.close()
    }
  }
}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }: _*)))
}
