package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{Arrays, Locale, UUID}

/** Deterministic Kaggle-weatherHistory-shaped CSV fixture (the
  * reference's own input format — /root/reference/ETL.py:31-40 — which
  * the driver's parquet testdata does not cover). Written to /tmp so the
  * driver's DuckDB oracle can `read_csv` the SAME bytes and hash-check
  * the weather pipeline's daily/monthly outputs (q92/q93), moving the
  * SURVEY §2.9 output tables plus F1 (tz-offset timestamp parse) and F5
  * (median imputation) from scalatest-only to oracle-checked.
  *
  * Content is a pure function of the row index (no clock, no RNG):
  * 12 days x 24 hourly readings spanning an April/May month boundary,
  * `+0200` offsets (so UTC normalization shifts date/month groups),
  * periodic empty cells in every critical column (imputation paths),
  * and 12 appended exact-duplicate rows (dedup path). All values stay
  * inside the validation gates so the fail-stop pipeline passes.
  */
object WeatherFixture {

  val Path = "/tmp/graft_weather_fixture.csv"

  val Header: String =
    "Formatted Date,Summary,Precip Type,Temperature (C)," +
      "Apparent Temperature (C),Humidity,Wind Speed (km/h)," +
      "Wind Bearing (degrees),Visibility (km),Loud Cover," +
      "Pressure (millibars),Daily Summary"

  private def f3(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  private def row(d: Int, h: Int): String = {
    val i = d * 24 + h
    val date = java.time.LocalDate.of(2006, 4, 25).plusDays(d.toLong)
    val fdate = f"$date $h%02d:00:00.000 +0200"
    val summary = Seq("Clear", "Partly Cloudy", "Overcast")(i % 3)
    val precip = if (i % 10 < 6) "rain" else "snow"
    val temp = if (i % 41 == 7) "" else f3(10.0 + 12.0 * math.sin(i * 0.37))
    val appTemp = f3(8.5 + 12.0 * math.sin(i * 0.37))
    val humidity = if (i % 37 == 5) "" else f3(0.45 + 0.35 * math.sin(i * 0.53 + 1))
    val wind = if (i % 43 == 11) "" else f3(12.0 + 11.0 * math.sin(i * 0.41 + 2))
    val bearing = f3(((i * 37) % 360).toDouble)
    val visibility = if (i % 47 == 13) "" else f3(9.0 + 6.0 * math.sin(i * 0.29))
    val pressure = if (i % 53 == 17) "" else f3(1012.0 + 14.0 * math.sin(i * 0.19))
    Seq(fdate, summary, precip, temp, appTemp, humidity, wind, bearing,
      visibility, "0.0", pressure, "Synthetic conditions.").mkString(",")
  }

  private lazy val bytes: Array[Byte] = {
    val base = for (d <- 0 until 12; h <- 0 until 24) yield row(d, h)
    val dups = for (d <- 0 until 12) yield row(d, 3)
    (Header +: (base ++ dups)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** Writes the fixture (atomically, idempotently) and returns its path.
    * A file that already holds the expected bytes is left alone; any
    * other is replaced through a temp file unique to this call, so JVMs
    * writing at once never move each other's half-written file in.
    */
  def ensure(): String = synchronized {
    val target = Paths.get(Path)
    if (!(Files.isRegularFile(target) && Arrays.equals(Files.readAllBytes(target), bytes))) {
      val tmp = Paths.get(s"$Path.${UUID.randomUUID}.tmp")
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }
    Path
  }
}
