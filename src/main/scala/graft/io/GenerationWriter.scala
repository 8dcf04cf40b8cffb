package graft.io

import scala.annotation.switch
import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, DateFormatClass, Expression, GenericInternalRow, Literal, Pmod, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** One bucket-partitioned parquet write of a table generation, with each
  * file's zone map computed by the write tasks as the rows stream past.
  *
  * The frame is written under `<table>/<genName>/<bucketCol>=<b>/`, as
  * `df.write.mode("overwrite").partitionBy(bucketCol).parquet(...)` would
  * write it (same files, same bytes), through Spark's `FileFormatWriter`
  * with a `WriteJobStatsTracker` — the hook Spark's own
  * `BasicWriteJobStatsTracker` uses for row and byte counts. Per file the
  * tracker keeps the row count, and per stats column the min and max in
  * Spark's ordering of the column's type and the null count; per bloom
  * column it sets the two `pmod(xxhash64(c[, 1L]), bloomBits)` bits of
  * every value (a null hashes to the seed). Only committed tasks' files
  * reach the driver, so nothing reads the files back.
  */
object GenerationWriter {

  /** The name the write's SQL execution reports to listeners. */
  val ExecutionName = "generation write"

  /** One stats column's (min, max) in [[statExpr]]'s rendering (None: no
    * non-null value) and its null count.
    */
  final case class ColumnStats(min: Option[String], max: Option[String], nulls: Long)

  /** One written file: its path relative to the table, its length in
    * bytes, its row count, and the stats of the stats and bloom columns
    * the frame has.
    */
  final case class WrittenFile(rel: String, bytes: Long, rows: Long,
                               columns: Map[String, ColumnStats],
                               blooms: Map[String, Array[Byte]])

  /** A min or max of a column of type `dt` in its canonical string form,
    * which keeps the type's order: timestamps as fixed-width micros in
    * `tz` (None: the session zone, set when the analyzer resolves it),
    * numbers, strings, dates and booleans cast to string. Other types
    * have no order-preserving form and fail.
    */
  def statExpr(e: Expression, dt: DataType, colName: String,
               tz: Option[String]): Expression = dt match {
    case TimestampType => DateFormatClass(e, Literal("yyyy-MM-dd HH:mm:ss.SSSSSS"), tz)
    case _: NumericType | StringType | DateType | BooleanType => Cast(e, StringType, tz)
    case other => throw new IllegalArgumentException(
      s"zone maps support numeric/string/date/timestamp/boolean stats " +
        s"columns; '$colName' is $other")
  }

  /** Writes `df` (which carries `bucketCol`) as the generation `genName`
    * of `table`, replacing whatever a crashed attempt left there, and
    * returns bucket -> the files written into it. Stats and bloom columns
    * the frame lacks are skipped; a stats column of an unsupported type
    * fails before any file is written. `options` are the parquet writer's
    * (for instance `maxRecordsPerFile`).
    */
  def write(df: DataFrame, table: Path, genName: String, bucketCol: String,
            statsCols: Seq[String], bloomCols: Seq[String], bloomBits: Int,
            options: Map[String, String] = Map.empty): Map[Int, Seq[WrittenFile]] = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val bucket = output.find(_.name == bucketCol).getOrElse(throw new IllegalArgumentException(
      s"a generation write needs the bucket column '$bucketCol'"))
    val data = output.filterNot(_.exprId == bucket.exprId)
    def ordinals(cols: Seq[String]) = cols.flatMap { c =>
      val i = data.indexWhere(_.name == c)
      if (i < 0) None else Some((c, i, data(i).dataType))
    }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val stats = ordinals(statsCols)
    stats.foreach { case (c, i, dt) => statExpr(BoundReference(i, dt, nullable = true), dt, c, Some(tz)) }
    val genDir = new Path(table, genName)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val fs = genDir.getFileSystem(hadoopConf)
    if (fs.exists(genDir)) fs.delete(genDir, true)
    val tracker = new ZoneMapTracker(genName, bucketCol, stats, ordinals(bloomCols),
      bloomBits, tz, new SerializableConfiguration(hadoopConf))
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID.toString, genDir.toString)
    SQLExecution.withNewExecutionId(qe, Some(ExecutionName)) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(genDir.toString, Map.empty, plan.output),
        hadoopConf, plan.output.filter(_.exprId == bucket.exprId), None,
        Seq(tracker), options)
    }
    tracker.written.groupBy(_._1).map { case (b, files) => b -> files.map(_._2) }
  }

  private final case class TaskFiles(files: Seq[(Int, WrittenFile)]) extends WriteTaskStats

  /** Collects the zone maps of a write's files; `written` holds the
    * committed tasks' files once the job has committed.
    */
  private final class ZoneMapTracker(genName: String, bucketCol: String,
                                     val stats: Seq[(String, Int, DataType)],
                                     val blooms: Seq[(String, Int, DataType)],
                                     val bloomBits: Int, val tz: String,
                                     val conf: SerializableConfiguration)
      extends WriteJobStatsTracker {
    @transient var written: Seq[(Int, WrittenFile)] = Nil

    def rel(bucket: Int, path: String): String =
      s"$genName/$bucketCol=$bucket/${new Path(path).getName}"

    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker(this)

    override def processStats(taskStats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      written = taskStats.flatMap(_.asInstanceOf[TaskFiles].files)
  }

  private final class TaskTracker(job: ZoneMapTracker) extends WriteTaskStatsTracker {
    private val renderers = job.stats.map { case (c, _, dt) =>
      statExpr(BoundReference(0, dt, nullable = true), dt, c, Some(job.tz))
    }
    // two probe positions per bloom column, generated once per task
    private val positions = if (job.blooms.isEmpty) null else UnsafeProjection.create(
      job.blooms.flatMap { case (_, i, dt) =>
        val v = BoundReference(i, dt, nullable = true)
        Seq(XxHash64(Seq(v), 42L), XxHash64(Seq(v, Literal(1L)), 42L))
      }.map(h => Pmod(h, Literal(job.bloomBits.toLong))))
    private val done = mutable.ArrayBuffer.empty[(Int, WrittenFile)]
    private var bucket = 0
    // open files by path: with concurrent output writers Spark interleaves
    // the rows of several open files; `last` saves the lookup per row
    private var open = Map.empty[String, FileAcc]
    private var lastPath: String = _
    private var last: FileAcc = _

    private final class FileAcc(val bucket: Int) {
      var rows = 0L
      val ranges: Array[ColumnRange] = job.stats.map { case (_, i, dt) => new ColumnRange(i, dt) }.toArray
      val bits: Array[Array[Byte]] = Array.fill(job.blooms.size)(new Array[Byte](job.bloomBits / 8))
    }

    override def newPartition(partitionValues: InternalRow): Unit =
      bucket = partitionValues.getInt(0)

    override def newFile(filePath: String): Unit = open += filePath -> new FileAcc(bucket)

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne lastPath) { lastPath = filePath; last = open(filePath) }
      val acc = last
      acc.rows += 1
      var i = 0
      while (i < acc.ranges.length) { acc.ranges(i).add(row); i += 1 }
      if (positions != null) {
        val p = positions(row)
        var j = 0
        while (j < acc.bits.length) {
          setBit(acc.bits(j), p.getLong(2 * j).toInt)
          setBit(acc.bits(j), p.getLong(2 * j + 1).toInt)
          j += 1
        }
      }
    }

    private def setBit(bits: Array[Byte], p: Int): Unit =
      bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte

    override def closeFile(filePath: String): Unit = {
      val acc = open(filePath)
      open -= filePath
      if (filePath eq lastPath) { lastPath = null; last = null }
      val path = new Path(filePath)
      val bytes = path.getFileSystem(job.conf.value).getFileStatus(path).getLen
      def render(k: Int, v: Option[Any]) =
        v.map(x => renderers(k).eval(new GenericInternalRow(Array[Any](x))).toString)
      val columns =
        if (acc.rows == 0) Map.empty[String, ColumnStats]
        else job.stats.indices.map { k =>
          val r = acc.ranges(k)
          job.stats(k)._1 -> ColumnStats(render(k, r.min), render(k, r.max), r.nulls)
        }.toMap
      val blooms =
        if (acc.rows == 0) Map.empty[String, Array[Byte]]
        else job.blooms.map(_._1).zip(acc.bits).toMap
      done += acc.bucket -> WrittenFile(job.rel(acc.bucket, filePath), bytes, acc.rows,
        columns, blooms)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFiles(done.toSeq)
  }

  /** The running min, max and null count of one column, in Spark's
    * ordering of its type (what `min`/`max` aggregate with: a tie keeps
    * the value seen first, so -0.0 and 0.0 stay as written; NaN is the
    * largest double). Integral, date, timestamp and boolean values
    * compare as longs and floating ones as doubles, read with typed
    * getters; decimals and strings use the type's ordering, and a string
    * is copied only when it becomes the min or max.
    */
  private final class ColumnRange(ordinal: Int, dt: DataType) {
    var nulls = 0L
    private var seen = false
    private val kind: Int = dt match {
      case BooleanType => 0
      case ByteType => 1
      case ShortType => 2
      case IntegerType | DateType => 3
      case LongType | TimestampType => 4
      case FloatType => 5
      case DoubleType => 6
      case _ => 7
    }
    private var lo, hi = 0L
    private var dlo, dhi = 0.0
    private var rlo, rhi: Any = _
    private lazy val ordering = PhysicalDataType.ordering(dt)

    def add(row: InternalRow): Unit =
      if (row.isNullAt(ordinal)) nulls += 1
      else if (kind < 5) {
        val v = (kind: @switch) match {
          case 0 => if (row.getBoolean(ordinal)) 1L else 0L
          case 1 => row.getByte(ordinal).toLong
          case 2 => row.getShort(ordinal).toLong
          case 3 => row.getInt(ordinal).toLong
          case _ => row.getLong(ordinal)
        }
        if (!seen) { lo = v; hi = v; seen = true }
        else if (v < lo) lo = v
        else if (v > hi) hi = v
      } else if (kind < 7) {
        val v = if (kind == 5) row.getFloat(ordinal).toDouble else row.getDouble(ordinal)
        if (!seen) { dlo = v; dhi = v; seen = true }
        else if (SQLOrderingUtil.compareDoubles(v, dlo) < 0) dlo = v
        else if (SQLOrderingUtil.compareDoubles(v, dhi) > 0) dhi = v
      } else {
        val v = row.get(ordinal, dt)
        if (!seen) { rlo = InternalRow.copyValue(v); rhi = rlo; seen = true }
        else if (ordering.lt(v, rlo)) rlo = InternalRow.copyValue(v)
        else if (ordering.gt(v, rhi)) rhi = InternalRow.copyValue(v)
      }

    def min: Option[Any] = if (seen) Some(value(lo, dlo, rlo)) else None
    def max: Option[Any] = if (seen) Some(value(hi, dhi, rhi)) else None

    // the catalyst value of a bound, in the column's own type
    private def value(l: Long, d: Double, r: Any): Any = kind match {
      case 0 => l != 0L
      case 1 => l.toByte
      case 2 => l.toShort
      case 3 => l.toInt
      case 4 => l
      case 5 => d.toFloat
      case 6 => d
      case _ => r
    }
  }
}
