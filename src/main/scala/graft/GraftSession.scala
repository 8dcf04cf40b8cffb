package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Single place where engine session policy is decided (SURVEY.md §7):
  *
  *   - UTC session timezone — oracle (DuckDB) parity for all date/time math.
  *   - ANSI mode stays ON (Spark 4 default): it matches the oracle's SQL
  *     semantics; every "coerce to null" site in the engine uses the `try_`
  *     function family instead of disabling ANSI globally.
  *   - AQE on: runtime re-planning (skew joins, coalesced shuffle partitions)
  *     is the 100 TB posture — plans are written declaratively and the
  *     runtime picks partitioning from real stats.
  *   - shuffle partitions default to the local core count for the test
  *     harness; on a real cluster this is overridden by the submitter (AQE
  *     coalescing makes the initial number non-critical).
  *   - a per-process warehouse: layout queries (q104/q116/...) saveAsTable
  *     by fixed names, so a shared ./spark-warehouse would let a concurrent
  *     JVM clobber this process's table files mid-read.
  *
  * Every main and the test session build their session here.
  */
object GraftSession {
  def builder(master: String = s"local[${defaultCpus}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Created once per JVM. The `graft-bench-wh` prefix is what Bench's
    * plan canonicalization rewrites out of scan locations.
    */
  private lazy val warehouseDir: String =
    Files.createTempDirectory("graft-bench-wh").toString
}
