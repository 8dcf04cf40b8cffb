package graft

import java.lang.ref.WeakReference
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.sources.Tables

/** The per-session schema cache behind `Tables.table`. */
class TablesSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val dirs = scala.collection.mutable.Buffer.empty[java.io.File]

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft-tables").toFile
    dirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try dirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory) finally super.afterAll()

  test("a cached read infers once; a table rewritten with another schema reads the new schema") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(JobTrace(spark)(Tables.table(spark, dir, "t")).jobs >= 1)
    var cached: org.apache.spark.sql.DataFrame = null
    assert(JobTrace(spark) { cached = Tables.table(spark, dir, "t") }.jobs === 0)
    assert(cached.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(cached.orderBy("k").collect().map(_.toString).toSeq === Seq("[1,a]", "[2,b]"))

    Seq((3.5, 7, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.schema.map(f => f.name -> f.dataType) ===
      Seq("x" -> DoubleType, "y" -> IntegerType, "z" -> BooleanType))
    assert(rewritten.collect().map(_.toString).toSeq === Seq("[3.5,7,true]"))
  }

  test("a new session infers again") {
    val dir = tmpDir()
    Seq(1, 2, 3).toDF("n").write.parquet(s"$dir/t.parquet")
    Tables.table(spark, dir, "t")
    assert(JobTrace(spark)(Tables.table(spark, dir, "t")).jobs === 0)
    val other = spark.newSession()
    assert(JobTrace(other)(Tables.table(other, dir, "t")).jobs >= 1)
    assert(JobTrace(other)(Tables.table(other, dir, "t")).jobs === 0)
  }

  /** Stopping the session's SparkContext would stop the shared test
    * session, so this shows the stronger property: a session the cache
    * holds schemas for is still collected once nothing else holds it.
    * (The dropped session runs no action: an executed query keeps its
    * session reachable from Spark's own state, whatever the cache does.)
    */
  test("the cache keeps no session reachable") {
    val dir = tmpDir()
    Seq(1, 2, 3).toDF("n").write.parquet(s"$dir/t.parquet")
    def readInNewSession(): WeakReference[SparkSession] = {
      val s = spark.newSession()
      assert(Tables.table(s, dir, "t").schema.fieldNames.toSeq === Seq("n"))
      assert(Tables.schemaCacheSessions.exists(_ eq s))
      new WeakReference(s)
    }
    val ref = readInNewSession()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(ref.get == null, "a dropped session stayed reachable")
    assert(!Tables.schemaCacheSessions.exists(_.sparkContext.isStopped))
  }

  test("a missing table fails as a plain read does") {
    val dir = tmpDir()
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.table(spark, dir, "absent"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("events keeps its ts normalization: TIMESTAMP_NTZ reads as session-UTC TimestampType") {
    val dir = tmpDir()
    val wall = Seq("2024-03-01 10:00:00.123456", "2024-12-31 23:59:59")
    wall.toDF("s").select(monotonically_increasing_id().as("event_id"),
        to_timestamp_ntz(col("s")).as("ts"), lit(1.0).as("value"))
      .write.parquet(s"$dir/events.parquet")
    for (_ <- 1 to 2) { // inferring, then cached
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String]
        .collect().sorted.toSeq === Seq("2024-03-01 10:00:00.123456", "2024-12-31 23:59:59.000000"))
    }
  }

  test("events keeps its ts normalization: TIMESTAMP(NANOS) truncates to µs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    // 2024-03-01T10:00:00.123456789Z and the epoch plus 1 ns
    Seq(1L -> 1709287200123456789L, 2L -> 1L).foreach { case (id, ns) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ns))
    }
    writer.close()
    for (_ <- 1 to 2) { // inferring, then cached
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect().toSeq ===
        Seq(1709287200123456L, 0L))
    }
  }
}
