package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, from the spans the benchmark drew
  * around its calls and the Spark jobs each span enclosed. Every figure
  * is per traced primary unit (ETL iteration, query call, merge round).
  */
final class Layers(ctx: Ctx) {
  private val spans = ctx.tracer.spans
  private val jobs = ctx.tracer.jobs
  private val units = math.max(1, ctx.tracedUnits).toDouble
  private val self = Trace.selfTimes(spans)
  /** Job id -> its innermost enclosing span. */
  private val home: Map[Int, Span] =
    jobs.flatMap(j => Trace.enclosing(spans, j.submitMs).map(j.jobId -> _)).toMap

  private def spansNamed(names: String*) = spans.filter(s => names.contains(s.name))
  private def selfOf(ss: Seq[Span]) = ss.map(s => self(s.id)).sum
  private def jobsIn(names: String*) = jobs.filter(j => home.get(j.jobId).exists(s => names.contains(s.name)))
  private def jobsOf(module: String => Boolean) = jobs.filter(j => module(j.module))
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
  private def counter(k: String) = ctx.counters.getOrElse(k, 0.0)
  /** Steps that execute: plan execution, writes, and the table format's
    * eager write operations.
    */
  private val Exec = Seq("exec", "write", "merge", "compact", "vacuum")

  /** Self seconds by layer: a span's self time goes to its own layer,
    * except the part covered by the Spark jobs it encloses, which goes to
    * the layers of the modules that launched them.
    */
  val layerSelf: Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val bySpan = jobs.filter(j => home.contains(j.jobId)).groupBy(j => home(j.jobId).id)
    spans.foreach { s =>
      val own = bySpan.getOrElse(s.id, Seq.empty)
      val split = Layers.splitSelf(self(s.id), s.startMs, s.endMs,
        own.map(j => (Trace.layerOf(j.module), j.submitMs, j.endMs)))
      split.foreach { case (layer, v) => acc(if (layer.isEmpty) s.layer else layer) += v }
    }
    acc.toMap
  }

  private val overhead = {
    val (t, u) = (ctx.tracedLat.toSeq, ctx.untracedLat.toSeq)
    if (t.isEmpty || u.isEmpty) 0.0 else Stats.median(t) / Stats.median(u) - 1
  }

  val metrics: Seq[(String, Double, String)] = Seq(
    ("build_s", selfOf(spansNamed("build")) / units, "s"),
    ("plan_s", (selfOf(spansNamed("plan")) + ctx.planning.seconds) / units, "s"),
    ("exec_s", selfOf(spansNamed(Exec: _*)) / units, "s"),
    ("gc_s", ctx.gcSeconds / units, "s"),
    ("build_jobs", jobsIn("build").size / units, "count"),
    ("exec_jobs", jobsIn(Exec: _*).size / units, "count"),
    ("tasks", jobs.map(_.tasks).sum / units, "count"),
    ("shuffle_write_bytes", jobs.map(_.shuffleWrite).sum / units, "B"),
    ("shuffle_read_bytes", jobs.map(_.shuffleRead).sum / units, "B"),
    ("spill_bytes", jobs.map(_.spill).sum / units, "B"),
    ("peak_exec_mem_bytes", jobs.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "B"),
    ("operators.Aggregates.jobs", jobsOf(_ == "operators.Aggregates").size / units, "count"),
    ("operators.Validation.jobs", jobsOf(_ == "operators.Validation").size / units, "count"),
    ("sources.Tables.schema_jobs", jobsIn("build").count(_.module == "sources.Tables") / units, "count"),
    ("sources.csv_scans", jobs.flatMap(_.sqlExecution).distinct
      .map(e => Option(ctx.tracer.csvScans.get(e)).map(_.intValue).getOrElse(0)).sum / units, "count"),
    ("VerdictOps.jobs", jobsOf(_ == "VerdictOps").size / units, "count"),
    ("streaming.jobs", jobsOf(_.startsWith("streaming.")).size / units, "count"),
    ("files_written", counter("files_written") / units, "count"),
    ("bytes_written", counter("bytes_written") / units, "B"),
    ("streaming.point_read_files_scanned",
      ratio(counter("point_read_files_scanned"), counter("point_reads")), "count"),
    ("streaming.point_read_rows_scanned_per_hit",
      ratio(counter("point_read_rows_scanned"), counter("point_read_hits")), "ratio"),
    ("streaming.range_read_files_scanned_ratio",
      ratio(counter("range_read_files_scanned"), counter("range_read_live_files")), "ratio"),
    ("tracing_overhead", overhead, "ratio"))

  /** Layer figures that only some workloads exercise: printed and
    * written to the trace, not part of the metric contract (a time only
    * one workload can produce would read 0 on the others).
    */
  private val named: Seq[(String, Double, String)] = {
    val recs = ctx.records.toSeq
    def recSpans(flag: String, child: String) = recs.filter(_.get(flag).contains(true))
      .flatMap(r => spans.filter(s => s.parent == r("span").asInstanceOf[Int] && s.name == child))
    def jobSeconds(js: Seq[JobRecord]) = js.map(_.seconds).sum
    Seq(
      ("etl.build_s", selfOf(spans.filter(s => s.name == "build" && s.layer == "etl")) / units, "s"),
      ("etl.build_jobs", jobs.count(j => home.get(j.jobId).exists(s => s.name == "build" && s.layer == "etl")) / units, "count"),
      ("operators.Validation.s", jobSeconds(jobsOf(_ == "operators.Validation")) / units, "s"),
      ("sources.csv_scan_s", jobSeconds(jobs.filter(_.sqlExecution.exists(e =>
        Option(ctx.tracer.csvScans.get(e)).exists(_ > 0)))) / units, "s"),
      ("operators.Load.write_s", selfOf(spans.filter(s => s.name == "write" && s.layer == "operators")) / units, "s"),
      ("SparkEntry.build_s", selfOf(spans.filter(s => s.name == "build" && s.layer == "SparkEntry")) / units, "s"),
      ("SparkEntry.build_jobs", jobs.count(j => home.get(j.jobId).exists(s => s.name == "build" && s.layer == "SparkEntry")) / units, "count"),
      ("VerdictOps.verdict_build_s", selfOf(recSpans("verdict", "build")) / units, "s"),
      ("plans.kernel_exec_s", selfOf(recSpans("kernel", "exec")) / units, "s"),
      ("streaming.merge_s", selfOf(spansNamed("merge")) / units, "s"),
      ("streaming.merge_jobs", jobsIn("merge").size / units, "count"),
      ("streaming.compact_s", selfOf(spansNamed("compact")) / units, "s"),
      ("streaming.vacuum_s", selfOf(spansNamed("vacuum")) / units, "s"))
  }

  private val wall = spans.filter(_.parent < 0).map(_.seconds).sum

  def summary: Seq[String] = {
    val lines = mutable.ArrayBuffer.empty[String]
    lines += f"traced units ${ctx.tracedUnits} (wall $wall%.3f s), untraced ${ctx.untracedLat.size}; " +
      f"tracing overhead ${overhead * 100}%.1f%% (median traced / untraced unit)"
    layerSelf.toSeq.sortBy(-_._2).foreach { case (l, v) =>
      val n = jobs.count(j => Trace.layerOf(j.module) == l)
      lines += f"layer $l%-12s self ${v / units}%.4f s/unit ${100 * v / math.max(wall, 1e-9)}%5.1f%% jobs ${n / units}%.2f/unit"
    }
    lines += f"self times account for ${layerSelf.values.sum}%.3f of $wall%.3f s traced wall"
    (metrics ++ named).foreach { case (k, v, u) => lines += f"per-layer $k%-44s $v%.6f $u" }
    lines.toSeq
  }

  def traceFields: Seq[(String, Any)] = {
    val recs = ctx.records.toSeq.map { r =>
      r.get("span") match {
        case Some(id: Int) =>
          val kids = spans.filter(_.parent == id)
          val own = jobs.filter(j => home.get(j.jobId).exists(s => s.id == id || kids.exists(_.id == s.id)))
          r ++ kids.map(k => s"${k.name}_s" -> k.seconds) ++ Map(
            "jobs" -> own.size, "tasks" -> own.map(_.tasks).sum,
            "shuffle_read_bytes" -> own.map(_.shuffleRead).sum,
            "shuffle_write_bytes" -> own.map(_.shuffleWrite).sum,
            "spill_bytes" -> own.map(_.spill).sum)
        case _ => r
      }
    }
    Seq(
      "metrics" -> (metrics ++ named).map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "layer_self_s" -> layerSelf,
      "traced_wall_s" -> wall,
      "records" -> recs,
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.layer, s.startMs, s.seconds, self(s.id))),
      "jobs" -> jobs.map(j => Map("job" -> j.jobId, "module" -> j.module,
        "span" -> home.get(j.jobId).map(_.id).getOrElse(-1), "seconds" -> j.seconds, "tasks" -> j.tasks,
        "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
        "spill_bytes" -> j.spill, "gc_ms" -> j.gcMs, "peak_exec_mem_bytes" -> j.peakMem)))
  }
}

object Layers {
  def apply(ctx: Ctx): Layers = new Layers(ctx)

  /** Split a span's self seconds among the layers of the jobs it encloses.
    * The time covered by at least one job (the union of their intervals,
    * clipped to the span) is shared among those jobs' layers in
    * proportion to their durations; the rest stays with the span, under
    * the empty layer name. The parts always sum to `selfS`.
    */
  def splitSelf(selfS: Double, startMs: Long, endMs: Long,
                jobs: Seq[(String, Long, Long)]): Map[String, Double] = {
    val clipped = jobs.map { case (l, a, b) => (l, math.max(a, startMs), math.min(math.max(a, b), endMs)) }
      .filter { case (_, a, b) => b > a }
    val union = clipped.map(j => (j._2, j._3)).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.map { case (a, b) => b - a }.sum / 1000.0
    val covered = math.min(math.max(selfS, 0.0), union)
    val total = clipped.map(j => (j._3 - j._2).toDouble).sum
    val shares = clipped.groupBy(_._1).map { case (l, js) =>
      l -> covered * js.map(j => (j._3 - j._2).toDouble).sum / total
    }
    shares ++ Map("" -> (selfS - covered))
  }
}
