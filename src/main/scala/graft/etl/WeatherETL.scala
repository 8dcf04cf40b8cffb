package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Winds
import graft.operators.{Aggregates, Joins, Validation}
import graft.sources.Tables

/** The reference pipeline (ETL.py:52-285, documented intent per SURVEY.md
  * §0.1) re-expressed as composable `DataFrame => DataFrame` stages inside
  * ONE lazy plan — the four Airflow tasks with their CSV/XCom handoffs
  * collapse into stage boundaries (SURVEY.md §3.1).
  *
  * Stage map (reference cite -> here):
  *   extract  ETL.py:29-50  -> Tables.weatherCsv (explicit schema)
  *   transform ETL.py:52-140 -> base = parsed|cleaned|derived,
  *                             materialized once per run, then the ts
  *                             filter; dailyAgg|monthlyAgg|enriched over it
  *   validate ETL.py:142-201 -> validatedDaily/validatedMonthly (one
  *                             materializing pass each, checks observed
  *                             on it, not 9 scans)
  *   load     ETL.py:203-285 -> loadDaily/loadMonthly (snake_case DDL schema)
  *
  * Passes per run: the CSV is scanned once, by `base`'s materialization
  * (the in-plan median imputation reads the dedup shuffle it shares with
  * the rows). Each gate materializes its aggregate once, and the outputs
  * read the materialized frames.
  */
object WeatherETL {

  /** Kaggle weatherHistory timestamp shape: `2006-04-01 00:00:00.000 +0200`. */
  val TsFormat = "yyyy-MM-dd HH:mm:ss.SSS Z"

  val CriticalColumns = Seq(
    "Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Visibility (km)", "Pressure (millibars)")

  /** F1: parse with coerce-to-null (pandas errors='coerce', ETL.py:57) —
    * `try_to_timestamp` because ANSI `to_timestamp` throws (SURVEY.md §7
    * watch-list #2). Session TZ = UTC normalizes the `+0200` offsets.
    */
  def parsed(raw: DataFrame): DataFrame =
    raw.withColumn("ts", try_to_timestamp(col("Formatted Date"), lit(TsFormat)))

  /** A5 + A4/F5: global dedup (ETL.py:58) then median-impute the critical
    * columns (ETL.py:61-62 intent — the reference's inplace fillna is a
    * pandas no-op, SURVEY.md §0.1).
    */
  def cleaned(df: DataFrame): DataFrame =
    Aggregates.imputeMedians(df.dropDuplicates(), CriticalColumns)

  /** F2/F3/F4: date, month, Beaufort bucket (ETL.py:65-66, 80-107). */
  def derived(df: DataFrame): DataFrame =
    df.withColumn("date", to_date(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("wind_strength", Winds.windStrength(col("Wind Speed (km/h)")))

  /** A1: daily means of temperature/humidity/wind speed (ETL.py:69-73). */
  def dailyAgg(df: DataFrame): DataFrame =
    df.groupBy(col("date")).agg(
      avg(col("Temperature (C)")).as("temperature_c"),
      avg(col("Humidity")).as("humidity"),
      avg(col("Wind Speed (km/h)")).as("wind_speed_kmh"))

  /** A2 + A3: monthly means + deterministic mode of Precip Type
    * (ETL.py:116-123; tie-break = smallest value, pandas parity).
    */
  def monthlyAgg(df: DataFrame): DataFrame = {
    val means = df.groupBy(col("month")).agg(
      avg(col("Temperature (C)")).as("avg_temperature_c"),
      avg(col("Humidity")).as("avg_humidity"),
      avg(col("Visibility (km)")).as("avg_visibility_km"),
      avg(col("Pressure (millibars)")).as("avg_pressure_millibars"))
    val mode = Aggregates.deterministicMode(
      df, col("month"), col("Precip Type"), "month", "mode_precip_type")
    means.join(mode, Seq("month"), "left")
  }

  /** J1: the fan-out left join (ETL.py:109-113) — daily means joined onto
    * the distinct (date, raw timestamp, wind_strength) detail; output
    * granularity is the finer right side (SURVEY.md §7 watch-list #5).
    */
  def enriched(daily: DataFrame, df: DataFrame): DataFrame = {
    val detail = df
      .select(col("date"), col("Formatted Date").as("formatted_date"), col("wind_strength"))
      .dropDuplicates()
    Joins.fanoutLeft(daily, detail, "date")
  }

  /** V1-V5 over the daily output (ETL.py:142-201 intent): fail-stop gate,
    * one aggregate pass, offending samples in the exception.
    */
  def validatedDaily(daily: DataFrame): DataFrame =
    Validation.enforce(daily, Seq(
      Validation.NotNull("temperature_c"),
      Validation.NotNull("humidity"),
      Validation.NotNull("wind_speed_kmh"),
      Validation.InRange("temperature_c", -50, 50),
      Validation.InRange("humidity", 0, 1),
      Validation.NonNegative("wind_speed_kmh"),
      Validation.Outlier("temperature_c", -30, 40)))

  def validatedMonthly(monthly: DataFrame): DataFrame =
    Validation.enforce(monthly, Seq(
      Validation.NotNull("avg_temperature_c"),
      Validation.InRange("avg_temperature_c", -50, 50),
      Validation.InRange("avg_humidity", 0, 1)))

  /** Load stage (ETL.py:203-285): DDL-shaped snake_case tables with a
    * surrogate id. `monotonically_increasing_id` is unique-not-dense —
    * the documented difference vs SQLite AUTOINCREMENT (SURVEY.md §2.1 S9).
    */
  def loadDaily(enriched: DataFrame): DataFrame =
    enriched
      .drop("date") // ETL.py:213
      .withColumn("id", monotonically_increasing_id())

  def loadMonthly(monthly: DataFrame): DataFrame =
    monthly.withColumn("id", monotonically_increasing_id())

  /** The whole pipeline; returns (daily_weather, monthly_weather).
    *
    * Rows whose timestamp failed to parse are dropped after cleaning (in
    * [[base]]):
    * pandas `groupby` silently drops NaN keys (dropna=True default), so
    * the reference's aggregates never see coerced-null dates — Spark's
    * groupBy would keep a null group; the filter restores parity.
    */
  def run(spark: SparkSession, csvPath: String): (DataFrame, DataFrame) = {
    val rows = base(spark, csvPath)
    val dailyOut = loadDaily(enriched(validatedDaily(dailyAgg(rows)), rows))
    val monthlyOut = loadMonthly(validatedMonthly(monthlyAgg(rows)))
    (dailyOut, monthlyOut)
  }

  /** Extract + transform up to the hourly detail rows (parse -> dedup ->
    * impute -> derive -> drop unparseable timestamps), materialized with
    * `localCheckpoint()`: the daily and monthly branches, both gates and
    * the enrichment join all read these rows, so the CSV is scanned once
    * per run. The timestamp filter sits above the checkpoint: below it,
    * Catalyst would push the filter under the dedup on the rows' side
    * only, and the median aggregate (which must see the unparseable rows
    * too) could no longer share the dedup exchange: two CSV scans.
    */
  def base(spark: SparkSession, csvPath: String): DataFrame =
    derived(cleaned(parsed(Tables.weatherCsv(spark, csvPath))))
      .localCheckpoint()
      .filter(col("ts").isNotNull)
}
