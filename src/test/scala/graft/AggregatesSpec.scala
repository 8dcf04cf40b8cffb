package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.operators.Aggregates

final case class TopKRec(g: String, v: Int)

class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("topK aggregator keeps k best per group across partition merges") {
    implicit val ord: Ordering[TopKRec] = Ordering.by(r => (-r.v, r.g))
    val ds = spark.createDataset(
      (1 to 100).map(i => TopKRec(if (i % 2 == 0) "a" else "b", i))).repartition(8)
    val got = ds.groupByKey(_.g)
      .agg(graft.functions.TypedAggs.topK[TopKRec](3).toColumn.name("top"))
      .collect().toMap
    assert(got("a").map(_.v) === Seq(100, 98, 96)) // best-first, pruned to k
    assert(got("b").map(_.v) === Seq(99, 97, 95))
  }

  test("exactPercentilesByRank ≡ the single-buffer percentile aggregate") {
    // real-data parity: the three q05 columns + the q38 quartiles over
    // the sf0.01 lineitem — the exact frames the rewrite serves
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val fracs = Seq(0.25, 0.5, 0.75)
    val got = Aggregates.exactPercentilesByRank(li, cols, fracs)
    val want = li.agg(
      percentile(col(cols.head), array(fracs.map(lit): _*)).as("a0"),
      percentile(col(cols(1)), array(fracs.map(lit): _*)).as("a1"),
      percentile(col(cols(2)), array(fracs.map(lit): _*)).as("a2")).head()
    for ((c, i) <- cols.zipWithIndex; (f, j) <- fracs.zipWithIndex) {
      val w = want.getSeq[Double](i)(j)
      assert(got(c)(j).contains(w), s"$c at $f: ${got(c)(j)} != $w")
      // bit-identical, not just close — the oracle hashes these
      assert(java.lang.Double.doubleToLongBits(got(c)(j).get) ===
        java.lang.Double.doubleToLongBits(w), s"$c at $f bits")
    }
  }

  test("exactPercentilesByRank edge cases: nulls skipped, all-null -> None, 1 row") {
    val df = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, null, 7.5), (3.0, null, 7.5), (2.0, null, 7.5), (null, null, 7.5))
      .toDF("a", "b", "c")
    val got = Aggregates.exactPercentilesByRank(df, Seq("a", "b", "c"), Seq(0.5, 0.9))
    assert(got("b") === Seq(None, None))
    assert(got("c") === Seq(Some(7.5), Some(7.5)))
    // the interpolated draw matches the aggregate's own arithmetic
    val w = df.agg(percentile(col("a"), array(lit(0.5), lit(0.9)))).head()
      .getSeq[Double](0)
    assert(got("a").map(_.get) === w)
    assert(got("a").head === Some(2.0))
  }

  test("deterministicMode picks most frequent, smallest value on ties") {
    val df = Seq(
      (1, "b"), (1, "b"), (1, "a"), // b wins by count
      (2, "z"), (2, "y"),           // tie -> smallest = y
      (3, "x")
    ).toDF("g", "v")
    val got = Aggregates.deterministicMode(df, col("g"), col("v"), "g", "m")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "b", 2 -> "y", 3 -> "x"))
  }

  test("deterministicMode drops null values like pandas mode()") {
    val df = Seq((1, Option("a")), (1, None), (1, None), (2, None))
      .toDF("g", "v")
    val got = Aggregates.deterministicMode(df, col("g"), col("v"), "g", "m")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // group 2 is all-null -> no row at all (the monthly agg joins it back as null)
    assert(got === Map(1 -> "a"))
  }

  test("medians are exact, NA-skipping, interpolating on even counts") {
    val df = Seq(
      (Option(1.0), Option(10.0)),
      (Option(2.0), None),
      (Option(3.0), Option(20.0)),
      (Option(4.0), Option(30.0))
    ).toDF("a", "b")
    val m = Aggregates.medians(df, Seq("a", "b"))
    assert(m("a") === 2.5) // even count interpolates
    assert(m("b") === 20.0) // null skipped
  }

  test("imputeMedians fills only nulls") {
    val df = Seq(Option(1.0), None, Option(3.0)).toDF("a")
    val got = Aggregates.imputeMedians(df, Seq("a"))
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(got === Seq(1.0, 2.0, 3.0))
  }

  test("in-plan imputeMedians ≡ na.fill(medians): NaN cell, all-null column, typed column, no eager job") {
    val df = Seq(
      (Option(1.0), Option.empty[Double], Option(1), "a"),
      (Option(Double.NaN), Option.empty[Double], Option.empty[Int], "b"),
      (None, Option.empty[Double], Option(4), null),
      (Option(3.0), Option.empty[Double], Option(2), "c"),
      (Option(8.0), Option.empty[Double], Option(7), "d")
    ).toDF("x", "all_null", "n", "s")
    val cols = Seq("x", "all_null", "n")
    var got: org.apache.spark.sql.DataFrame = null
    assert(JobTrace(spark) { got = Aggregates.imputeMedians(df, cols) }.jobs === 0)
    val expected = df.na.fill(Aggregates.medians(df, cols))
    assert(got.schema.map(f => f.name -> f.dataType) === expected.schema.map(f => f.name -> f.dataType))
    assert(got.schema("n").dataType === IntegerType)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(expected))
    // the NaN and the null in x both took x's median; all_null stayed null
    assert(got.filter(col("s").isin("b") || col("s").isNull).collect()
      .forall(r => r.isNullAt(1) && !r.getDouble(0).isNaN))
  }

  test("daily/monthly agg skip nulls in avg like pandas mean") {
    val df = Seq(
      ("2024-01-01 10:00:00", Option(2.0)),
      ("2024-01-01 11:00:00", None),
      ("2024-01-01 12:00:00", Option(4.0))
    ).toDF("ts_s", "value").withColumn("ts", to_timestamp(col("ts_s")))
    val d = Aggregates.daily(df, "ts", Seq("value")).head()
    assert(d.getAs[Double]("avg_value") === 3.0) // (2+4)/2, null skipped
    assert(d.getAs[Long]("n") === 3L)            // count(*) counts the row
  }
}
