package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed-loop, single-client workload. The harness calls [[setup]]
  * several times, each with a fresh session, then [[warmUp]] in the last
  * session, then [[round]] until the measured time is spent, then
  * [[finish]] for the final correctness checks.
  */
trait Workload {
  def name: String
  /** The operation whose latency the end-to-end metrics report. */
  def primaryOp: String
  /** Start a fresh session and make this set-up's inputs. */
  def setup(ctx: Ctx, k: Int): Unit
  /** The first, cold unit of work in the measured session: it pays
    * codegen, JIT and lazily built state before timing starts.
    */
  def warmUp(ctx: Ctx): Unit
  /** One closed-loop round of operations. */
  def round(ctx: Ctx, i: Int): Unit
  /** Final checks; results the summary prints (name -> (value, unit)). */
  def finish(ctx: Ctx): Seq[(String, Double, String)]
}

/** A failed operation, named: never a bare status code. */
final case class Failure(op: String, errorClass: String, message: String) {
  override def toString: String = s"$op: $errorClass: $message"
}

/** Per-run state shared by the harness and a workload. */
final class Ctx(val seed: Long, val work: String, val tracing: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var tracer: Tracer = _
  val planning = new PlanningListener

  /** Latencies (s) of measured operations, by op name. */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Latencies of the primary op split by whether it was traced. */
  val tracedLat, untracedLat = mutable.ArrayBuffer.empty[Double]
  /** Seconds the warm-up took, its output checks excluded. */
  var warmUpSeconds = Double.NaN
  val failures = mutable.ArrayBuffer.empty[Failure]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var measuring = false
  /** Traced primary units and the JVM GC seconds spent inside them. */
  var tracedUnits = 0
  var gcSeconds = 0.0
  /** Per-op records a traced run writes out (per query, per merge...). */
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Layer counters a workload adds to while traced (name -> total). */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def newSession(dir: String): SparkSession = {
    if (spark != null) spark.stop()
    spark = graft.GraftSession.builder(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(planning)
    tracer = new Tracer(spark.sparkContext)
    spark
  }

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  /** Run one operation: time it, count it, and turn an exception into a
    * named failure. Measured ops land in [[latencies]].
    */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = span(name, layer)(body)
      if (measuring) latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(v)
    } catch {
      case e: Throwable =>
        failures += Failure(name, e.getClass.getName,
          String.valueOf(e.getMessage).linesIterator.find(_.trim.nonEmpty).getOrElse(""))
        None
    }
  }

  /** One primary unit of work (an ETL iteration, a query call, a merge
    * round). In a traced run, units alternate traced and untraced so the
    * run measures the cost of tracing itself.
    */
  def unit[T](i: Int)(body: => T): T = {
    val traceIt = tracing && measuring && i % 2 == 0
    val gc0 = if (traceIt) gcTotal() else 0.0
    if (traceIt) { tracer.on.set(true); planning.on = true }
    val t0 = System.nanoTime()
    try span("unit", "perfbench")(body) finally {
      val dt = (System.nanoTime() - t0) / 1e9
      if (traceIt) {
        tracer.drain()
        tracer.on.set(false); planning.on = false
        tracedUnits += 1
        gcSeconds += gcTotal() - gc0
        tracedLat += dt
      } else if (tracing && measuring) untracedLat += dt
    }
  }

  def count(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v

  def check(what: String)(ok: => Boolean): Unit =
    try { if (!ok) mismatches += what } catch {
      case e: Throwable => mismatches += s"$what: ${e.getClass.getName}: ${e.getMessage}"
    }

  /** Seconds spent checking outputs: they count neither towards the
    * warm-up nor towards the run length, so checks never cost samples.
    */
  var checkSeconds = 0.0

  /** Run the benchmark's own checks of an op's output. */
  def verifying[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkSeconds += (System.nanoTime() - t0) / 1e9
  }

  def dir(path: String): String = { new File(path).mkdirs(); path }

  private def gcTotal(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}

/** Catalyst optimization + physical planning time of every query
  * execution Spark finishes while switched on. The benchmark's own plan
  * spans force planning directly and are not seen here.
  */
final class PlanningListener extends QueryExecutionListener {
  @volatile var on = false
  @volatile var seconds = 0.0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    val phases = qe.tracker.phases
    seconds += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1000.0
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Harness {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Every file under `path`, with its size. */
  def files(path: String): Map[String, Long] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk) else Iterator(f)
    walk(new File(path)).filter(_.isFile).map(f => f.getPath -> f.length).toMap
  }

  /** Files and bytes under `path`. */
  def du(path: String): (Long, Long) = {
    val fs = files(path)
    (fs.size.toLong, fs.values.sum)
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
