package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scan layer (SURVEY.md §2.1).
  *
  * The driver testdata contract (TESTDATA.md) is partitioned parquet — the
  * primary source (S5). Explicit-schema CSV (S3) exists for the
  * weather-shaped ingest path (reference ETL.py:54); schema inference is
  * deliberately avoided: at 100 TB an inference pass is a full extra scan
  * and is non-deterministic across samples.
  */
object Tables {

  /** Parquet scan for a driver testdata table. Column pruning and predicate
    * pushdown happen automatically because every downstream operator is
    * declarative (check `.explain`: PushedFilters / ReadSchema).
    *
    * The schema is inferred once per session and the scan reads with
    * `.schema(s)`: inference reads footers in a Spark job at build time,
    * which every query paid on every table read, every call. The same
    * schema gives the same relation, so plans are unchanged. The cache key
    * is what decides the inferred schema:
    *   - the path;
    *   - the session confs that change what inference returns
    *     ([[InferenceConfs]]; `events` flips nanosAsLong, which turns
    *     TIMESTAMP(NANOS) into LongType);
    *   - the leaf-file listing (name, length, mtime), so a table rewritten
    *     in place, even with another schema, is inferred again.
    * Entries hang off their session through weak keys and are dropped once
    * its SparkContext stops: a new session infers again, and the cache
    * keeps no session, stopped or not, reachable. A path that does not
    * list falls through to a plain read, so its error stays Spark's own.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    leafFiles(spark, path) match {
      case Some(files) =>
        val key = SchemaKey(path, InferenceConfs.map(spark.conf.getOption), files)
        val cache = sessionSchemas(spark)
        val schema = Option(cache.get(key)).getOrElse {
          val s = spark.read.parquet(path).schema
          Option(cache.putIfAbsent(key, s)).getOrElse(s)
        }
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Session confs that change the schema parquet inference returns. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(
      path: String, confs: Seq[Option[String]], files: Seq[(String, Long, Long)])

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]()

  private def sessionSchemas(spark: SparkSession): ConcurrentHashMap[SchemaKey, StructType] =
    schemas.synchronized {
      schemas.keySet.removeIf(_.sparkContext.isStopped)
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[SchemaKey, StructType]())
    }

  /** Sessions that currently hold cached schemas (for tests). */
  private[graft] def schemaCacheSessions: Seq[SparkSession] =
    schemas.synchronized(schemas.keySet.asScala.toSeq)

  /** (path, length, mtime) of every file under `path`, sorted; None when
    * the path does not exist.
    */
  private def leafFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.ts` arrives in whatever physical parquet type the data
    * generator used, normalized here to a session-UTC µs TimestampType
    * so every downstream time op sees ONE type:
    *   - TIMESTAMP(NANOS): Spark 4 rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]) — read nanos as raw long (legacy
    *     flag) and truncate to µs, exactly what DuckDB does internally
    *     (its TIMESTAMP is µs), so oracle parity holds. Integer `div`
    *     (not double /) — ns epoch values exceed 2^53.
    *   - TIMESTAMP(µs, isAdjustedToUTC=false): Spark reads
    *     TIMESTAMP_NTZ, which `unix_micros`/`window` reject — cast to
    *     TimestampType; the session timezone is pinned UTC everywhere
    *     (Bench/Verify/tests), so the wall-clock field values are
    *     reinterpreted as the same UTC instants DuckDB's naive
    *     TIMESTAMP produces, and oracle parity holds bit-for-bit.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Schema of the Kaggle `weatherHistory.csv` consumed by the reference
    * (ETL.py:54; column list per FIXTURES.md §B). `Formatted Date` stays
    * StringType at scan time — parsing with coerce-to-null semantics
    * (ETL.py:57) is an explicit transform (graft.etl.WeatherETL.parsed).
    */
  val weatherCsvSchema: StructType = StructType(Seq(
    StructField("Formatted Date", StringType),
    StructField("Summary", StringType),
    StructField("Precip Type", StringType),
    StructField("Temperature (C)", DoubleType),
    StructField("Apparent Temperature (C)", DoubleType),
    StructField("Humidity", DoubleType),
    StructField("Wind Speed (km/h)", DoubleType),
    StructField("Wind Bearing (degrees)", DoubleType),
    StructField("Visibility (km)", DoubleType),
    StructField("Loud Cover", DoubleType),
    StructField("Pressure (millibars)", DoubleType),
    StructField("Daily Summary", StringType),
  ))

  /** CSV scan with the explicit weather schema (S3). */
  def weatherCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(weatherCsvSchema).option("header", "true").csv(path)

  /** Typed core record at the ingest boundary (SURVEY.md §1 decision):
    * compile-time field checks for the columns the pipeline actually
    * consumes; everything downstream stays DataFrame.
    */
  final case class WeatherObservation(
      formattedDate: String,
      summary: String,
      precipType: Option[String],
      temperatureC: Option[Double],
      humidity: Option[Double],
      windSpeedKmh: Option[Double],
      visibilityKm: Option[Double],
      pressureMillibars: Option[Double])

  def weatherTyped(spark: SparkSession, path: String): Dataset[WeatherObservation] = {
    import spark.implicits._
    weatherCsv(spark, path).select(
      col("Formatted Date").as("formattedDate"),
      col("Summary").as("summary"),
      col("Precip Type").as("precipType"),
      col("Temperature (C)").as("temperatureC"),
      col("Humidity").as("humidity"),
      col("Wind Speed (km/h)").as("windSpeedKmh"),
      col("Visibility (km)").as("visibilityKm"),
      col("Pressure (millibars)").as("pressureMillibars")
    ).as[WeatherObservation]
  }
}
