package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

/** Seeded generator for an hourly weather CSV in the Kaggle
  * `weatherHistory.csv` 12-column shape, with the defects the reference
  * pipeline exists to handle:
  *   - ~1% exact duplicate rows;
  *   - ~0.5% empty cells in each critical column;
  *   - ~0.1% `Formatted Date` values in a shape the parser rejects;
  *   - `+0100` / `+0200` offsets (winter / summer time).
  * Every value stays inside the pipeline's validation gates.
  *
  * Alongside the file it returns a [[WeatherGen.Truth]] computed in plain
  * Scala from the generated records, never through Spark, so the ETL
  * outputs can be checked against it. The same (rows, seed) writes a
  * byte-identical file.
  */
object WeatherGen {

  val Header: Seq[String] = Seq("Formatted Date", "Summary", "Precip Type", "Temperature (C)",
    "Apparent Temperature (C)", "Humidity", "Wind Speed (km/h)", "Wind Bearing (degrees)",
    "Visibility (km)", "Loud Cover", "Pressure (millibars)", "Daily Summary")
  /** The pipeline's median-imputed columns, in a record's value order. */
  val Critical: Seq[String] = Seq("Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Visibility (km)", "Pressure (millibars)")

  private val Summaries = Seq("Partly Cloudy", "Mostly Cloudy", "Overcast", "Clear", "Foggy")
  private val DailySummaries = Seq("Partly cloudy throughout the day.",
    "Mostly cloudy until night.", "Foggy in the morning.", "Clear throughout the day.")
  private val Start = LocalDateTime.of(2006, 1, 1, 0, 0)
  private val LocalFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  private val BadFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** Daily means of (temperature, humidity, wind speed) after imputation. */
  final case class DayMeans(temperature: Double, humidity: Double, wind: Double)

  final case class Truth(
      lines: Long,            // data lines in the file, duplicates included
      duplicateRows: Long,    // lines that repeat the line before them exactly
      badTimestamps: Long,    // distinct records whose timestamp cannot parse
      nullCells: Map[String, Long], // empty cells per critical column (distinct records)
      dailyRows: Long,        // rows of the daily output (one per parseable record)
      days: Long,             // distinct UTC dates among parseable records
      months: Long,           // distinct months among parseable records
      sampleDays: Map[LocalDate, DayMeans])

  /** One distinct hourly record: its CSV line, UTC instant (None when the
    * timestamp is unparseable) and critical values (NaN = empty cell).
    */
  private final case class Record(line: String, utc: Option[LocalDateTime], critical: Array[Double])

  private def fmt(x: Double): String = f"$x%.4f"
  private def num(x: Double): Double = fmt(x).toDouble

  private def record(i: Int, r: java.util.Random): Record = {
    val utc = Start.plusHours(i.toLong)
    val summer = utc.getMonthValue >= 4 && utc.getMonthValue <= 10
    val offset = if (summer) 2 else 1
    val local = utc.plusHours(offset.toLong)
    val bad = r.nextDouble() < 0.001
    val date =
      if (bad) s"${local.format(BadFmt)} +0${offset}00"
      else s"${local.format(LocalFmt)} +0${offset}00"
    val season = math.sin(2 * math.Pi * (utc.getDayOfYear - 110) / 365.0)
    val daily = math.sin(2 * math.Pi * (utc.getHour - 9) / 24.0)
    val temp = num(math.max(-25, math.min(38, 11 + 12 * season + 4 * daily + 2.5 * r.nextGaussian())))
    val humidity = num(math.max(0.1, math.min(1.0, 0.75 - 0.01 * (temp - 11) + 0.1 * r.nextGaussian())))
    val wind = num(math.min(60, math.abs(8 + 7 * r.nextGaussian())))
    val visibility = num(2 + 14 * r.nextDouble())
    val pressure = num(1013 + 8 * r.nextGaussian())
    val critical = Array(temp, humidity, wind, visibility, pressure)
      .map(v => if (r.nextDouble() < 0.005) Double.NaN else v)
    def cell(v: Double) = if (v.isNaN) "" else fmt(v)
    val precip = if (r.nextDouble() < 0.005) "" else if (temp > 0) "rain" else "snow"
    val line = Seq(date, Summaries(r.nextInt(Summaries.size)), precip, cell(critical(0)),
      fmt(temp - 1.5 + r.nextGaussian()), cell(critical(1)), cell(critical(2)),
      r.nextInt(360).toDouble.toString, cell(critical(3)), "0.0", cell(critical(4)),
      DailySummaries(r.nextInt(DailySummaries.size))).mkString(",")
    Record(line, if (bad) None else Some(utc), critical)
  }

  /** Spark's exact `median`: interpolated 0.5 percentile of the values. */
  private[perfbench] def median(values: Array[Double]): Double = {
    val v = values.sorted
    val pos = (v.length - 1) * 0.5
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) v(lo) else (hi - pos) * v(lo) + (pos - lo) * v(hi)
  }

  /** Write `rows` distinct hourly records (plus duplicates) to `path`. */
  def write(path: String, rows: Int, seed: Long, sampleDays: Int = 20): Truth = {
    val r = new java.util.Random(seed)
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    val records = new Array[Record](rows)
    var lines = 0L
    var dups = 0L
    try {
      out.write(Header.mkString(",")); out.write('\n')
      for (i <- 0 until rows) {
        val rec = record(i, r)
        records(i) = rec
        out.write(rec.line); out.write('\n'); lines += 1
        if (r.nextDouble() < 0.01) { out.write(rec.line); out.write('\n'); lines += 1; dups += 1 }
      }
    } finally out.close()
    truth(records, lines, dups, new java.util.Random(seed ^ 0x5DEECE66DL), sampleDays)
  }

  private def truth(records: Array[Record], lines: Long, dups: Long, pick: java.util.Random,
                    nSample: Int): Truth = {
    val nulls = Critical.indices.map(c => records.count(_.critical(c).isNaN).toLong)
    // imputation runs before the unparseable rows are dropped, so their
    // values count towards the medians
    val medians = Critical.indices.map(c => median(records.map(_.critical(c)).filterNot(_.isNaN)))
    val parseable = records.filter(_.utc.isDefined)
    val byDay = parseable.groupBy(_.utc.get.toLocalDate)
    val days = byDay.keys.toSeq.sortBy(_.toEpochDay)
    val chosen = Seq.fill(nSample)(days(pick.nextInt(days.size))).distinct
    def mean(rs: Array[Record], c: Int): Double = {
      val vs = rs.map(x => if (x.critical(c).isNaN) medians(c) else x.critical(c))
      vs.sum / vs.length
    }
    Truth(lines, dups, records.length - parseable.length.toLong,
      Critical.zip(nulls).toMap, parseable.length.toLong, days.size.toLong,
      parseable.map(_.utc.get.getMonthValue).distinct.length.toLong,
      chosen.map(d => d -> DayMeans(mean(byDay(d), 0), mean(byDay(d), 1), mean(byDay(d), 2))).toMap)
  }
}
