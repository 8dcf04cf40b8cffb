package graft

import graft.operators.Validation
import graft.operators.Validation._
import org.apache.spark.sql.functions.{col, udf}

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private val checks = Seq(
    NotNull("t"), InRange("t", -50, 50), NonNegative("w"), Outlier("t", -30, 40))

  test("clean frame passes the gate unchanged") {
    val df = Seq((10.0, 1.0), (20.0, 2.0)).toDF("t", "w")
    assert(Validation.enforce(df, checks).count() === 2)
  }

  test("violations throw with counts and sample values") {
    val df = Seq((10.0, 1.0), (99.0, -3.0)).toDF("t", "w")
    val e = intercept[ValidationException] {
      Validation.enforce(df, checks)
    }
    assert(e.getMessage.contains("range_t: 1"))
    assert(e.getMessage.contains("nonneg_w: 1"))
    assert(e.getMessage.contains("99.0")) // sample value surfaced
  }

  test("enforce returns the same multiset, computing the gated input in one action") {
    val rowsComputed = spark.sparkContext.longAccumulator("rows computed")
    val tap = udf { (t: Double) => rowsComputed.add(1); t }.asNondeterministic()
    val df = spark.range(0, 200, 1, 4)
      .select(tap((col("id") % 60).cast("double") - 20.0).as("t"), (col("id") % 7).cast("double").as("w"))
    var gated: org.apache.spark.sql.DataFrame = null
    val trace = JobTrace(spark) { gated = Validation.enforce(df, checks) }
    assert(trace.jobs === 1)
    assert(rowsComputed.value === 200L)
    val expected = spark.range(0, 200, 1, 4)
      .select(((col("id") % 60).cast("double") - 20.0).as("t"), (col("id") % 7).cast("double").as("w"))
      .collect().map(_.toString).sorted.toSeq
    assert(gated.collect().map(_.toString).sorted.toSeq === expected)
    assert(gated.count() === 200L)
    assert(rowsComputed.value === 200L) // downstream actions read the materialized rows
  }

  test("enforce throws with samples before it returns on bad input") {
    val df = Seq((10.0, 1.0), (99.0, -3.0), (-45.0, 2.0)).toDF("t", "w")
    var returned = false
    val e = intercept[ValidationException] {
      Validation.enforce(df, checks)
      returned = true
    }
    assert(!returned)
    assert(e.getMessage.contains("range_t: 1 violations (sample: 99.0)"))
    assert(e.getMessage.contains("nonneg_w: 1 violations (sample: -3.0)"))
    assert(e.getMessage.contains("outlier_t: 2 violations"))
    assert(e.getMessage.contains("-45.0"))
  }

  test("enforce passes an empty frame") {
    val df = Seq((10.0, 1.0)).toDF("t", "w").filter(col("t") > 100)
    assert(Validation.enforce(df, checks).count() === 0L)
  }

  test("report is a single row with one count per check") {
    val df = Seq((Option(10.0), 1.0), (None, 2.0)).toDF("t", "w")
    val r = Validation.report(df, checks).head()
    assert(r.getAs[Long]("n_rows") === 2L)
    assert(r.getAs[Long]("notnull_t") === 1L)
    assert(r.getAs[Long]("nonneg_w") === 0L)
  }
}
