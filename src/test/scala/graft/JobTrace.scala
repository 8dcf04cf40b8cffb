package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.GenerationWriter

/** What a block of code ran on Spark: its jobs, and the CSV file
  * scans in the final plans of the queries it executed (a reused exchange
  * is not scanned again, so it does not count).
  */
final case class JobTrace(jobs: Int, csvScans: Int)

object JobTrace extends AdaptiveSparkPlanHelper {

  /** The ids of the jobs a block ran, the executed plans of its parquet
    * (file-source and table-generation) writes, and the files its queries'
    * file-source scans read.
    */
  final case class Detail(jobIds: Seq[Int], writes: Seq[SparkPlan], scans: Seq[String])

  /** Runs `f` under its own job group and counts its jobs and CSV scans. */
  def apply(spark: SparkSession)(f: => Unit): JobTrace = {
    val (jobIds, plans) = run(spark)(f)
    JobTrace(jobIds.size, plans.map { case (_, qe) => collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
    }.size }.sum)
  }

  /** Runs `f` under its own job group and returns its job ids, writes and
    * scanned files.
    */
  def detail(spark: SparkSession)(f: => Unit): Detail = {
    val (jobIds, plans) = run(spark)(f)
    Detail(jobIds, plans.collect {
      case (fn, qe) if fn == GenerationWriter.ExecutionName ||
          qe.analyzed.isInstanceOf[InsertIntoHadoopFsRelationCommand] => qe.executedPlan
    }, plans.flatMap { case (_, qe) => collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten })
  }

  /** The job ids of `f`, and its query executions with the names they
    * report. Listener events arrive asynchronously, so a marker job under
    * a second group runs last: the listeners sit on the bus's shared
    * queue, which delivers in order, so once the marker's start is seen
    * every earlier event is in.
    */
  private def run(spark: SparkSession)(f: => Unit): (Seq[Int], Seq[(String, QueryExecution)]) = {
    val group = s"job-trace-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val plans = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    @volatile var markerSeen = false
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.jobId)
          case Some(`marker`) => markerSeen = true
          case _ =>
        }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = plans.add(fn -> qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = plans.add(fn -> qe)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try spark.range(1).rdd.count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus did not deliver the marker job")
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    (jobs.asScala.toSeq, plans.asScala.toSeq)
  }
}
