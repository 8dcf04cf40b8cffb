package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * `_errors.json`: each failed query's `<ExceptionClass>: <message>`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated name filter for fast local iteration on a
    // few queries (the driver passes two args -> full sweep)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.describe(e)}")
        Some(name -> Bench.describe(e))
      }
    }
    Files.writeString(Paths.get(s"$outDir/_errors.json"), Bench.jsonObject(errors))
    // every value escaped: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.jsonObject(SparkEntry.oracleSql.toSeq))
    spark.stop()
  }
}
