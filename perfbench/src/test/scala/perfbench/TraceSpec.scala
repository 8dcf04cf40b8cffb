package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long, layer: String = "x") =
    Span(id, parent, name, layer, startMs, startMs * 1000000L, endMs * 1000000L)

  test("a span's self time is its duration less its children's") {
    val spans = Seq(span(0, -1, "unit", 0, 100), span(1, 0, "build", 10, 40),
      span(2, 0, "exec", 40, 90), span(3, 2, "write", 50, 70))
    val self = Trace.selfTimes(spans)
    assert(math.abs(self(0) - 0.020) < 1e-12)
    assert(math.abs(self(1) - 0.030) < 1e-12)
    assert(math.abs(self(2) - 0.030) < 1e-12)
    assert(math.abs(self(3) - 0.020) < 1e-12)
    // along the blocking steps the self times add up to the root's wall time
    assert(math.abs(self.values.sum - spans.head.seconds) < 1e-12)
  }

  test("jobs split a span's self time by the union of their intervals") {
    // two overlapping jobs cover [10, 40) of a 100 ms span
    val split = Layers.splitSelf(0.100, 0, 100, Seq(("operators", 10, 30), ("sources", 20, 40)))
    assert(math.abs(split.values.sum - 0.100) < 1e-12)
    assert(math.abs(split("") - 0.070) < 1e-12)
    assert(math.abs(split("operators") - 0.015) < 1e-12)
    assert(math.abs(split("sources") - 0.015) < 1e-12)
    // a job reaching past the span is clipped to it; no jobs leaves it whole
    val clipped = Layers.splitSelf(0.050, 0, 50, Seq(("spark", 40, 90)))
    assert(math.abs(clipped("spark") - 0.010) < 1e-12)
    assert(Layers.splitSelf(0.050, 0, 50, Nil) == Map("" -> 0.050))
  }

  test("a job belongs to the innermost span holding its submit time") {
    val spans = Seq(span(0, -1, "unit", 0, 100), span(1, 0, "build", 10, 40), span(2, 1, "inner", 20, 30))
    assert(Trace.enclosing(spans, 25).map(_.id).contains(2))
    assert(Trace.enclosing(spans, 35).map(_.id).contains(1))
    assert(Trace.enclosing(spans, 95).map(_.id).contains(0))
    assert(Trace.enclosing(spans, 150).isEmpty)
  }

  test("a call site maps to the module of its first engine frame") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3456)",
      "graft.operators.Aggregates$.medians(Aggregates.scala:61)",
      "graft.operators.Aggregates$.imputeMedians(Aggregates.scala:68)",
      "graft.etl.WeatherETL$.cleaned(WeatherETL.scala:42)").mkString("\n")
    assert(Trace.moduleOf(site) == "operators.Aggregates")
    assert(Trace.layerOf(Trace.moduleOf(site)) == "operators")
    assert(Trace.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
      "graft.VerdictOps$.$anonfun$fork$1(VerdictOps.scala:56)") == "VerdictOps")
    assert(Trace.moduleOf("graft.streaming.EventStreams$$anon$3.run(EventStreams.scala:9)") ==
      "streaming.EventStreams")
    // jobs the benchmark launched itself, on a plan the engine returned
    assert(Trace.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
      "perfbench.QuerySweepWorkload.call(QuerySweepWorkload.scala:1)") == "spark")
  }
}
