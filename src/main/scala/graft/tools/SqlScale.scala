package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** One-off measurement: the DataSourceV2 `graft` surface vs the Scala
  * API scan on the same committed zone-mapped table — planned files
  * and wall-clock for a selective range read, plus the unpruned
  * control. Evidence for PLANS.md that the SQL surface pays no tax
  * over the API (same classifier, Spark's own vectorized V2 parquet).
  * Usage: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.tools.SqlScale"`.
  */
object SqlScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = java.nio.file.Files.createTempDirectory("graft-sqlscale")
      .toString + "/t"
    // a sort-clustered zone-mapped table from the sf lineitem rows
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(monotonically_increasing_id().as("row_id"),
        col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .withColumn("__v", lit(0L))
    // few buckets, many sorted files per bucket: each file covers a
    // narrow l_orderkey range, so a selective slice prunes most files
    EventStreams.mergeBatchIntoTable(li, t, Seq("row_id"), "__v",
      nBuckets = 2, batchId = 0L, statsCols = Some(Seq("l_orderkey")))
    EventStreams.compactUpsertTable(spark, t, Seq("row_id"), 2, 1L,
      sortBy = Seq("l_orderkey"), maxRecordsPerFile = 20000)
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    val maxKey = EventStreams.readUpsertTable(spark, t)
      .agg(max("l_orderkey")).head().getLong(0)
    val cut = maxKey / 20 // a ~5% slice
    def time(f: => Long): (Double, Long) = {
      f // warm
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (reps.map(_._1).min, reps.head._2)
    }
    def planned(d: org.apache.spark.sql.DataFrame): Long = {
      d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
    } match { case fin => fin.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map {
          case f: org.apache.spark.sql.execution.datasources.FilePartition =>
            f.files.length.toLong
          case _ => 0L
        }.sum
    }.sum }
    var lastApi: org.apache.spark.sql.DataFrame = null
    var lastSql: org.apache.spark.sql.DataFrame = null
    val (apiT, apiN) = time {
      lastApi = EventStreams.readUpsertTableScan(spark, t)
        .filter(col("l_orderkey") <= cut)
      lastApi.queryExecution.toRdd.count()
    }
    val (sqlT, sqlN) = time {
      lastSql = spark.read.format("graft").load(t)
        .filter(col("l_orderkey") <= cut)
      lastSql.queryExecution.toRdd.count()
    }
    val (fullT, _) = time {
      spark.read.format("graft").load(t).queryExecution.toRdd.count()
    }
    println(s"""{"table_files":$live,"rows_api":$apiN,"rows_sql":$sqlN,""" +
      s""""files_api":${planned(lastApi)},"files_sql":${planned(lastSql)},""" +
      f""""sec_api":$apiT%.3f,"sec_sql":$sqlT%.3f,"sec_sql_full":$fullT%.3f}""")
    spark.stop()
  }
}
