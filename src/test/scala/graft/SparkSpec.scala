package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession; suites are
  * read-only over it).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    // the suite's specs pin counts (jobs, partitions) measured at 4
    // local cores, whatever SPARK_GRAFT_CPUS the run exports
    val s = GraftSession.builder("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // same engine surface as Verify/Bench: functions, optimizer rule,
    // planner strategy
    graft.plans.GraftExtensions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
}
