package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a result: row count plus two
  * commutative folds of a per-row hash, so a reshuffled result reads the
  * same while a changed, lost or duplicated row does not.
  *
  * Floating values are narrowed to `float` before hashing: the low bits of
  * a double sum depend on the order partial aggregates meet, which varies
  * run to run without the result being wrong. Maps hash through their
  * string form (Spark refuses to hash map values).
  */
object Fingerprint {

  final case class Value(rows: Long, xor: Long, sum: Long) {
    override def toString: String = f"$rows:$xor%016x:$sum%016x"
  }

  private[perfbench] def stable(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case _: MapType => StringType
    case ArrayType(e, n) => ArrayType(stable(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = stable(f.dataType))))
    case other => other
  }

  /** The per-row hash column of `df` (exposed for tests). */
  private[perfbench] def rowHash(df: DataFrame): DataFrame = {
    // positional names: results may repeat a column name
    val byPosition = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      col(s"c$i").cast(stable(f.dataType))
    }
    // a zero-column result still has rows: hash a constant for each
    byPosition.select(xxhash64((if (cols.isEmpty) Seq(lit(0)) else cols): _*).as("h"))
  }

  def of(df: DataFrame): Value = {
    // the sum folds only the low 32 bits of each hash, so it cannot
    // overflow a long for fewer than 2^31 rows
    val r = rowHash(df).agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
