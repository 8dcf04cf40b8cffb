package graft

import org.apache.spark.sql.functions._
import graft.etl.WeatherETL

/** End-to-end pipeline test against the hand-computed fixture
  * (FIXTURES.md §B): dedup, coerce-to-null parse, median imputation,
  * daily/monthly aggregates, tie-broken mode, fan-out join, validation,
  * load shape.
  */
class WeatherETLSpec extends SparkSpec {

  private lazy val csv = getClass.getResource("/weather/weatherHistory.csv").getPath
  private lazy val (daily, monthly) = WeatherETL.run(spark, csv)

  test("daily output: fan-out granularity, imputed + averaged values") {
    val rows = daily.collect()
    // 5 surviving raw rows (1 dup dropped, 1 unparseable dropped) fan out 1:1
    assert(rows.length === 5)
    val byFd = rows.map(r => r.getAs[String]("formatted_date") -> r).toMap
    // day 2006-04-01: avg T 15, H 0.6, W 2.4
    val d1 = byFd("2006-04-01 00:00:00.000 +0000")
    assert(math.abs(d1.getAs[Double]("temperature_c") - 15.0) < 1e-9)
    assert(math.abs(d1.getAs[Double]("humidity") - 0.6) < 1e-9)
    assert(d1.getAs[String]("wind_strength") === "Calm")
    // day 2006-04-02: null T imputed to median 20 -> avg (20+22)/2 = 21
    val d2 = byFd("2006-04-02 00:00:00.000 +0000")
    assert(math.abs(d2.getAs[Double]("temperature_c") - 21.0) < 1e-9)
    assert(d2.getAs[String]("wind_strength") === "Light Breeze") // 5.4 inclusive
    // surrogate ids unique
    assert(rows.map(_.getAs[Long]("id")).distinct.length === 5)
    assert(!daily.columns.contains("date")) // dropped at load (ETL.py:213)
  }

  test("monthly output: means, tie-broken mode, null mode for all-null month") {
    val rows = monthly.collect().map(r => r.getAs[Int]("month") -> r).toMap
    val april = rows(4)
    assert(math.abs(april.getAs[Double]("avg_temperature_c") - 18.0) < 1e-9)
    assert(math.abs(april.getAs[Double]("avg_visibility_km") - 11.75) < 1e-9)
    // 2 rain vs 2 snow -> smallest wins
    assert(april.getAs[String]("mode_precip_type") === "rain")
    val may = rows(5)
    assert(math.abs(may.getAs[Double]("avg_temperature_c") - 30.0) < 1e-9)
    assert(may.getAs[String]("mode_precip_type") === null) // all-null group
  }

  test("typed ingest boundary maps nulls to Options") {
    val ds = graft.sources.Tables.weatherTyped(spark, csv)
    val rows = ds.collect()
    assert(rows.length === 7) // raw rows, pre-dedup
    val broken = rows.find(_.formattedDate == "not-a-timestamp").get
    assert(broken.precipType === Some("rain"))
    val nullTemp = rows.find(_.temperatureC.isEmpty)
    assert(nullTemp.isDefined) // the imputation-target row
    val may = rows.find(_.formattedDate.startsWith("2006-05-01")).get
    assert(may.precipType === None)
  }

  test("timestamp parse normalizes non-UTC offsets and nulls garbage") {
    import spark.implicits._
    val df = Seq(
      "2006-04-01 02:00:00.000 +0200", // = midnight UTC
      "2006-04-01 00:00:00.000 +0000",
      "not a timestamp").toDF("Formatted Date")
    val got = WeatherETL.parsed(df).select(org.apache.spark.sql.functions.col("ts"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getTimestamp(0).toInstant.toString)
    assert(got(0) === "2006-04-01T00:00:00Z") // +0200 wall time -> UTC instant
    assert(got(1) === "2006-04-01T00:00:00Z") // same instant
    assert(got(2) === null)                   // coerce-to-null (ANSI-safe)
  }

  test("pipeline outputs land via the Load sinks and read back") {
    val base = java.nio.file.Files.createTempDirectory("graft-etl-out").toString
    graft.operators.Load.parquetAppend(daily, s"$base/daily_weather")
    graft.operators.Load.parquetAppend(monthly.withColumn("m", col("month")),
      s"$base/monthly_weather", partitionCols = Seq("m"))
    assert(spark.read.parquet(s"$base/daily_weather").count() === 5)
    val monthlyBack = spark.read.parquet(s"$base/monthly_weather")
    assert(monthlyBack.count() === 2)
    assert(monthlyBack.filter(col("m") === 4).count() === 1) // partition pruning path
  }

  /** Pins the Spark jobs of one run plus both outputs' collect, as
    * measured (15 in all). The base: the dedup map stage (shared by the
    * rows and the median aggregate), the median's map stage and
    * broadcast, its checkpoint (4). The daily gate: its aggregate's map
    * stage and checkpoint (2). The monthly gate: the map stages and join
    * of its means and mode, its checkpoint (5). The daily collect: the
    * detail dedup, the enrichment join, the result (3). The monthly
    * collect reads its checkpoint (1). Only the base reads the CSV.
    */
  test("one pipeline run scans the CSV once: pinned job count") {
    var out: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    assert(JobTrace(spark) { WeatherETL.base(spark, csv) } === JobTrace(jobs = 4, csvScans = 1))
    assert(JobTrace(spark) { out = WeatherETL.run(spark, csv) } === JobTrace(jobs = 11, csvScans = 1))
    var rows = 0
    assert(JobTrace(spark) { rows += out._1.collect().length } === JobTrace(jobs = 3, csvScans = 0))
    assert(JobTrace(spark) { rows += out._2.collect().length } === JobTrace(jobs = 1, csvScans = 0))
    assert(rows === 7)
  }

  test("the q92/q93 oracle fixture is left alone when it already holds its bytes") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val path = Paths.get(graft.sources.WeatherFixture.ensure())
    val bytes = Files.readAllBytes(path)
    val stamp = FileTime.fromMillis(0L)
    Files.setLastModifiedTime(path, stamp)
    assert(graft.sources.WeatherFixture.ensure() === path.toString)
    assert(Files.getLastModifiedTime(path) === stamp, "an up-to-date fixture was rewritten")
    assert(Files.readAllBytes(path).sameElements(bytes))
  }

  test("validation gate trips on out-of-range data") {
    import spark.implicits._
    val bad = Seq((60.0, 0.5, 3.0)).toDF("temperature_c", "humidity", "wind_speed_kmh")
    intercept[graft.operators.Validation.ValidationException] {
      WeatherETL.validatedDaily(bad)
    }
  }
}
