package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit}

import graft.{Bench, GraftSession, SparkEntry}

/** Query tools for iterating on a few queries of the registry, over the
  * tables at `$SPARK_GRAFT_SF_DIR`, on Bench's session and per-query loop:
  *
  * {{{
  * sbt "runMain graft.tools.Run explain [DIR SUFFIX] [QUERY...]"
  * sbt "runMain graft.tools.Run plan [QUERY...]"
  * sbt "runMain graft.tools.Run show [QUERY...]"
  * sbt "runMain graft.tools.Run time [QUERY...]"
  * sbt "runMain graft.tools.Run prof [QUERY...]"
  * }}}
  *
  *   - `explain`: formatted physical plans, printed, or written to
  *     `DIR/<query>_SUFFIX.txt` when the first argument is a path (has a
  *     `/`). It also knows [[extras]].
  *   - `plan`: the canonical optimized plan and hash Bench records, after
  *     Bench's warm-up and timed reps — for diffing plan-hash changes.
  *   - `show`: the query's rows (verdict queries' booleans).
  *   - `time`: Bench's timing, best and every rep, and the codegen
  *     classes the timed reps compiled with their compile milliseconds:
  *     0 when the query's generated code is the same on every build and
  *     Spark's codegen cache holds it.
  *   - `prof`: `time`, plus every Spark job of the timed reps: wall time,
  *     gap since the previous job's end, tasks and description.
  *
  * QUERY lists are space- or comma-separated; none means every
  * registered query. A query that fails prints
  * `[run] <name> failed: <ExceptionClass>: <message>` and the rest run.
  */
object Run {
  private val usage =
    "usage: SPARK_GRAFT_SF_DIR=<dir> Run explain|plan|show|time|prof [DIR SUFFIX] [QUERY...]"

  /** Operator-level frames whose production call sites sit BEHIND a
    * localCheckpoint, where the query-level plan shows only a LogicalRDD:
    * the pre-barrier plan the checkpoint materializes.
    */
  private val extras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_minhash_signatures" -> ((sp, dir) =>
      graft.operators.Dedup.portableMinhashSignatures(
        graft.sources.Tables.documents(sp, dir))),
    "op_lr_features" -> ((sp, dir) =>
      graft.operators.Sampling.lrFeatures(
        graft.sources.Tables.documents(sp, dir)
          .select(col("doc_id"), lit(0.0).as("y"), col("text").as("t")),
        "doc_id", 64, barrier = false)))

  /** Local property that tags the jobs of a query's timed reps. */
  private val queryKey = "graft.run.query"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    val cmd = args.headOption.getOrElse("")
    if (sfDir.isEmpty || !Set("explain", "plan", "show", "time", "prof")(cmd)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val (outDir, rest) = args.drop(1) match {
      case Array(dir, suffix, qs @ _*) if cmd == "explain" && dir.contains('/') =>
        (Some((dir, suffix)), qs)
      case qs => (None, qs.toSeq)
    }
    val names = rest.flatMap(_.split(",")).filter(_.nonEmpty) match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (Set("plan", "time", "prof")(cmd)) Bench.warmUp(spark, sfDir)
    val jobs = if (cmd == "prof") Some(new JobLog(spark)) else None
    outDir.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      def build(): DataFrame =
        extras.get(name).map(_(spark, sfDir)).getOrElse(SparkEntry.queries(name)(spark, sfDir))
      // Bench's loop: an untimed warm-up run, then the timed reps, with
      // the codegen compiles of the timed reps
      def timed(): (Seq[Double], DataFrame, Compiles) = {
        Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
        spark.sparkContext.setLocalProperty(queryKey, name)
        val before = Compiles.now()
        try {
          val (times, last) = Bench.timedRuns(spark, sfDir, name)
          (times, last, Compiles.now() - before)
        } finally spark.sparkContext.setLocalProperty(queryKey, null)
      }
      try cmd match {
        case "explain" =>
          val text = build().queryExecution.explainString(FormattedMode)
          outDir match {
            case Some((dir, suffix)) =>
              Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), text)
              System.err.println(s"[run] wrote $name")
            case None => println(s"\n===================== $name =====================\n$text")
          }
        case "plan" =>
          val plan = Bench.canonicalPlan(timed()._2)
          print(s"##### $name ${Bench.planHash(plan)}\n$plan")
        case "show" => build().show(500, truncate = false)
        case _ =>
          val (times, _, cg) = timed()
          println(f"[time] $name%-30s best ${times.min}%.4f  all ${times.map(t => f"$t%.3f").mkString(",")}" +
            f"  compiles ${cg.classes}%d ${cg.millis}%.1f ms")
          jobs.foreach(_.report(name))
      } catch { case e: Throwable =>
        System.err.println(s"[run] $name failed: ${Bench.describe(e)}")
      } finally Bench.clearSweepState(spark)
    }
    spark.stop()
  }

  /** Codegen compiles in this JVM, driver and local executors alike:
    * classes compiled (cache misses) and the milliseconds Janino spent.
    */
  private final case class Compiles(classes: Long, millis: Double) {
    def -(o: Compiles): Compiles = Compiles(classes - o.classes, millis - o.millis)
  }
  private object Compiles {
    def now(): Compiles =
      Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
  }

  private final case class Job(id: Int, query: String, start: Long, end: Long,
                               tasks: Int, desc: String)

  /** Spark jobs of the timed reps, tagged with their query by a local
    * property and recorded by a listener.
    */
  private final class JobLog(spark: SparkSession) {
    private val started = new ConcurrentHashMap[Int, Job]()
    private val done = new ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val prop = (k: String) =>
          Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        started.put(e.jobId, Job(e.jobId, prop(queryKey), e.time, 0L,
          e.stageInfos.map(_.numTasks).sum, prop("spark.job.description")))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach(j => done.add(j.copy(end = e.time)))
    })

    def report(name: String): Unit = {
      Thread.sleep(300) // listener events arrive asynchronously
      var prevEnd = 0L
      done.asScala.toSeq.filter(_.query == name).sortBy(_.start).foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = j.end
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s  gap=$gap%7.3f  " +
          f"tasks=${j.tasks}%5d  ${j.desc.take(60)}")
      }
    }
  }
}
