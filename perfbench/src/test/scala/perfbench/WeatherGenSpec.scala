package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class WeatherGenSpec extends AnyFunSuite {
  private val dir = Files.createTempDirectory("perfbench-weather")

  private def gen(name: String, rows: Int, seed: Long): (Array[Byte], WeatherGen.Truth) = {
    val p = dir.resolve(name).toString
    val t = WeatherGen.write(p, rows, seed)
    (Files.readAllBytes(Paths.get(p)), t)
  }

  test("the same seed writes a byte-identical file and truth record") {
    val (a, ta) = gen("a.csv", 5000, 7)
    val (b, tb) = gen("b.csv", 5000, 7)
    assert(java.util.Arrays.equals(a, b))
    assert(ta == tb)
  }

  test("another seed writes another file") {
    val (a, _) = gen("c.csv", 5000, 7)
    val (b, _) = gen("d.csv", 5000, 8)
    assert(!java.util.Arrays.equals(a, b))
  }

  test("the truth record counts the injected defects") {
    val (bytes, t) = gen("e.csv", 40000, 3)
    val lines = new String(bytes, "UTF-8").split('\n').toSeq
    assert(lines.head == WeatherGen.Header.mkString(","))
    val data = lines.tail
    assert(data.size == t.lines)
    assert(data.size - data.distinct.size == t.duplicateRows)
    assert(t.duplicateRows > 200 && t.duplicateRows < 600)   // ~1%
    assert(t.badTimestamps > 10 && t.badTimestamps < 90)     // ~0.1%
    WeatherGen.Critical.foreach(c => assert(t.nullCells(c) > 100 && t.nullCells(c) < 320)) // ~0.5%
    assert(t.dailyRows == 40000 - t.badTimestamps)
    assert(t.months == 12)
    assert(data.exists(_.contains("+0100")) && data.exists(_.contains("+0200")))
    assert(t.sampleDays.nonEmpty)
  }

  test("the truth median interpolates like Spark's exact median") {
    assert(WeatherGen.median(Array(3.0, 1.0, 2.0)) == 2.0)
    assert(WeatherGen.median(Array(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the query tables are seeded too") {
    val sizes = TestData.Sizes(0.001)
    TestData.Tables.foreach { t =>
      assert(TestData.rows(t, sizes, 5) == TestData.rows(t, sizes, 5), t)
    }
    assert(TestData.rows("lineitem", sizes, 5)._2 != TestData.rows("lineitem", sizes, 6)._2)
  }
}
