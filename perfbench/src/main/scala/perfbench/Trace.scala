package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionStart, SparkPlanGraph}

/** A timed call the benchmark made into one layer of the engine. Spans
  * nest (workload > iteration or query > build / plan / exec / write ...)
  * and live in memory until the run ends.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Wall-clock end in ms, the clock Spark stamps its events with. */
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** One Spark job as the listener saw it. */
final case class JobRecord(jobId: Int, submitMs: Long, var endMs: Long, module: String,
                           sqlExecution: Option[Long], var tasks: Long = 0,
                           var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
                           var spill: Long = 0, var gcMs: Long = 0, var peakMem: Long = 0) {
  def seconds: Double = math.max(0L, endMs - submitMs) / 1000.0
}

object Trace {

  /** The engine module a job belongs to: the first `graft.` frame of its
    * Spark call site, as `package.Object` below `graft` (the registry's
    * own top-level objects keep their bare name). Jobs with no engine
    * frame were launched by the benchmark itself, materializing a plan
    * the engine handed back: they belong to `spark`.
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "spark"
      case Some(frame) =>
        // graft.operators.Aggregates$.medians(Aggregates.scala:61)
        val qualified = frame.takeWhile(_ != '(')
        val owner = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
        owner.stripPrefix("graft.").split('.').map(_.takeWhile(_ != '$'))
          .filter(_.nonEmpty).mkString(".")
    }

  /** The layer of a module: its package (`operators`, `sources`, ...), or
    * the module itself for the engine's top-level objects.
    */
  def layerOf(module: String): String = module.split('.').head

  /** Self time of each span: its duration less its children's. Along a
    * workload's blocking steps these sum to the root span's wall time.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** The innermost span whose wall-clock interval holds `ms`. */
  def enclosing(spans: Seq[Span], ms: Long): Option[Span] = {
    val depth = mutable.Map.empty[Int, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id, byId.get(s.parent).map(d(_) + 1).getOrElse(0))
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => (-d(s), -s.startNs)).headOption
  }
}

/** Records spans and, through a listener, Spark jobs, tasks and SQL
  * executions. Tracing can be switched off between operations so a run
  * can alternate traced and untraced operations and report the
  * overhead of tracing itself.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobsQ = new ConcurrentLinkedQueue[JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  /** SQL execution id -> number of CSV file scans in its initial plan. */
  val csvScans = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  /** SQL execution id -> module of the action that started it. */
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val on = new AtomicBoolean(false)

  sc.addSparkListener(this)

  def spans: Seq[Span] = spanBuf.toSeq
  def jobs: Seq[JobRecord] = jobsQ.asScala.toSeq.sortBy(_.jobId)

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!on.get()) return body
    val s = Span(spanBuf.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
      System.currentTimeMillis(), System.nanoTime())
    spanBuf += s
    stack.push(s)
    try body finally { s.endNs = System.nanoTime(); stack.pop() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on.get()) {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    // a SQL job's call site is its execution's action; a plain RDD job's
    // is where its final RDD was created
    val module = exec.flatMap(id => Option(execModule.get(id))).getOrElse(Trace.moduleOf(
      e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")))
    val j = JobRecord(e.jobId, e.time, e.time, module, exec)
    e.stageIds.foreach(id => stageToJob.put(id, j))
    jobById.put(e.jobId, j)
    jobsQ.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on.get() =>
      val nodes = SparkPlanGraph(s.sparkPlanInfo).allNodes
      csvScans.put(s.executionId, nodes.count(_.name.toLowerCase.startsWith("scan csv")))
      execModule.put(s.executionId, Trace.moduleOf(s.details))
    case _ =>
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerDrain(sc)
}
