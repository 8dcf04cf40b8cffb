package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def base = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"),
    (col("id") * 0.1).as("x"), map(lit("a"), col("id")).as("m"), array(col("id"), col("k")).as("arr"))

  test("a fingerprint ignores row order and partitioning") {
    val fp = Fingerprint.of(base)
    assert(Fingerprint.of(base.orderBy(desc("id"))) == fp)
    assert(Fingerprint.of(base.repartition(5, col("k"))) == fp)
  }

  test("a changed, lost or duplicated row changes the fingerprint") {
    val fp = Fingerprint.of(base)
    assert(Fingerprint.of(base.filter(col("id") =!= 3)) != fp)
    assert(Fingerprint.of(base.union(base.filter(col("id") === 3))) != fp)
    assert(Fingerprint.of(base.withColumn("k", when(col("id") === 3, 99).otherwise(col("k")))) != fp)
    // a duplicated pair must not cancel out of the xor fold
    assert(Fingerprint.of(base.union(base.filter(col("id") < 2))) != fp)
  }

  test("summation-order noise in a double does not change the fingerprint") {
    val a = spark.createDataFrame(Seq((1, 0.1 + 0.2 + 0.3))).toDF("k", "s")
    val b = spark.createDataFrame(Seq((1, 0.3 + 0.2 + 0.1))).toDF("k", "s")
    assert((0.1 + 0.2 + 0.3) != (0.3 + 0.2 + 0.1))
    assert(Fingerprint.of(a) == Fingerprint.of(b))
  }

  test("repeated column names and empty results fingerprint") {
    val dup = base.select(col("id"), col("id"))
    assert(Fingerprint.of(dup).rows == 1000)
    assert(Fingerprint.of(base.limit(0)) == Fingerprint.Value(0, 0, 0))
  }
}
