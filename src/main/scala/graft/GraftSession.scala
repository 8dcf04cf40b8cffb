package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
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
  *     JVM clobber this process's table files mid-read. It is deleted when
  *     the JVM exits.
  *   - a codegen cache that holds the engine's working set. Spark keeps
  *     compiled classes in one JVM-wide LRU of
  *     `spark.sql.codegen.cache.maxEntries` (default 100). One pass over
  *     perfbench's 12-query sweep compiles 163 distinct classes, so at 100
  *     entries every pass evicted what the next one needed and Janino
  *     recompiled 90–144 classes per warm pass; at [[codegenCacheEntries]]
  *     it recompiles none. One query compiles at most 78 classes at
  *     sf0.01, so Bench's reps of a query hit the cache too. A cold pass
  *     over the whole 217-query registry at sf0.01 compiles 4,568 distinct
  *     classes; nothing here re-runs the registry in one JVM, so the cache
  *     is not sized to hold it (each entry pins its class's metaspace).
  *     It is a static conf, read once when Spark's `CodeGenerator` first
  *     initializes, so it must be set before any session runs a query —
  *     which this builder is.
  *   - a `file:` filesystem that sets file modes in-process
  *     ([[graft.io.LocalFs]]). Without the native `libhadoop`, Hadoop's
  *     stock `LocalFileSystem` forks a `chmod` process for every file it
  *     creates (data file and `.crc`) and every directory it makes: about
  *     96 forks per eager upsert merge, and 8.4 ms per `fs.create` against
  *     0.63 ms in-process. Files, bytes and modes on disk are the same.
  *     Hadoop's `FileSystem.CACHE` is keyed without the conf, so the first
  *     `file:` lookup in a JVM fixes the class for the whole JVM: nothing
  *     may look up a `file:` filesystem before a session is built here.
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
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Entries of Spark's JVM-wide codegen cache (see the policy above). */
  val codegenCacheEntries: Int = 1000

  /** Created once per JVM and deleted, with whatever tables it holds, when
    * the JVM exits. The `graft-bench-wh` prefix is what Bench's plan
    * canonicalization rewrites out of scan locations.
    */
  private lazy val warehouseDir: String = {
    val dir = Files.createTempDirectory("graft-bench-wh").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(dir))
    dir.toString
  }
}
