package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.ColBound

/** Writes beside reads on the upsert-table format. Hourly readings keyed
  * by (station_id, ts) start as one snapshot; each round merges a batch
  * (mostly corrections of existing keys, skewed toward recent hours, the
  * rest new hours) with `mergeBatchIntoTable` (the primary op), then does
  * point reads of a few keys and one one-day range read. Every
  * `maintainEvery` rounds the table is compacted and vacuumed. A
  * driver-side model of the latest version per key checks every read and
  * the final snapshot.
  */
final class TableUpsertWorkload(stations: Int, initialHours: Int, batchRows: Int,
                                maintainEvery: Int) extends Workload with AdaptiveSparkPlanHelper {
  val name = "table_upsert"
  val primaryOp = "merge"
  private val KeyCols = Seq("station_id", "ts")
  private val Buckets = 16
  private val Base = 1577836800L / 3600 // 2020-01-01T00:00Z in epoch hours
  private val schema = StructType(Seq(StructField("station_id", IntegerType),
    StructField("ts", TimestampType), StructField("temperature", DoubleType),
    StructField("humidity", DoubleType), StructField("version", LongType)))

  private type Key = (Int, Long) // (station, epoch hour)
  private var model = mutable.HashMap.empty[Key, (Double, Double, Long)]
  private var spark: org.apache.spark.sql.SparkSession = _
  private var table: String = _
  private var rng: java.util.Random = _
  private var batchId = 0L
  private var maxHour = 0L
  private val batches = mutable.ArrayBuffer.empty[Seq[Row]]
  private var bytesWritten = 0L

  private def ts(hour: Long): Timestamp = new Timestamp((Base + hour) * 3600000L)
  private def row(k: Key, v: (Double, Double, Long)): Row = Row(k._1, ts(k._2), v._1, v._2, v._3)
  private def df(rows: Seq[Row], sch: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
  private def reading(version: Long): (Double, Double, Long) =
    (math.round(rng.nextGaussian() * 800) / 100.0 + 10, math.round(rng.nextDouble() * 100) / 100.0, version)

  def setup(ctx: Ctx, k: Int): Unit = {
    val dir = ctx.dir(s"${ctx.work}/setup$k")
    spark = ctx.newSession(dir)
    table = s"$dir/table"
    rng = new java.util.Random(ctx.seed)
    model = mutable.HashMap.empty
    batchId = 0L
    batches.clear()
    bytesWritten = 0L
    maxHour = initialHours - 1L
    for (s <- 0 until stations; h <- 0 until initialHours) model((s, h.toLong)) = reading(0L)
    val initial = model.toSeq.map { case (key, v) => row(key, v) }
    batchId += 1
    EventStreams.mergeBatchIntoTable(df(initial), table, KeyCols, "version", Buckets, batchId,
      statsCols = Some(Seq("ts")))
  }

  /** Two rounds: the first merges still ran slower (JIT). */
  def warmUp(ctx: Ctx): Unit = (1 to 2).foreach(_ => work(ctx))

  /** The next batch: corrections of existing keys (recent hours more
    * often) and every station's readings for the next new hours.
    */
  private def nextBatch(): Seq[Row] = {
    batchId += 1
    val newHours = math.max(1, batchRows / 5 / stations)
    val fresh = for (s <- 0 until stations; h <- 1 to newHours) yield (s, maxHour + h)
    val span = maxHour + 1
    val corrections = Iterator.continually {
      val back = math.floor(span * math.pow(rng.nextDouble(), 3)).toLong
      (rng.nextInt(stations), maxHour - back)
    }.take(batchRows - fresh.size).toSet
    maxHour += newHours
    (corrections.toSeq ++ fresh).map { key =>
      val v = reading(batchId)
      model(key) = v
      row(key, v)
    }
  }

  private def merge(ctx: Ctx): Unit = {
    val rows = nextBatch()
    val batch = df(rows)
    val before = ctx.verifying(Harness.files(table))
    ctx.op(primaryOp, "streaming") {
      EventStreams.mergeBatchIntoTable(batch, table, KeyCols, "version", Buckets, batchId)
    }
    val added = ctx.verifying(Harness.files(table) -- before.keySet)
    if (ctx.measuring) {
      batches += rows
      bytesWritten += added.values.sum
    }
    if (ctx.tracer.on.get()) {
      ctx.count("files_written", added.size.toDouble)
      ctx.count("bytes_written", added.values.sum.toDouble)
    }
  }

  private def scanned(plan: SparkPlan, metric: String): Long =
    collectLeaves(plan).flatMap(_.metrics.get(metric)).map(_.value).sum

  private def rowsOf(rs: Seq[Row]): Set[(Key, (Double, Double, Long))] = rs.map { r =>
    ((r.getAs[Int]("station_id"), r.getAs[Timestamp]("ts").getTime / 3600000L - Base),
      (r.getAs[Double]("temperature"), r.getAs[Double]("humidity"), r.getAs[Long]("version")))
  }.toSet

  private def pointRead(ctx: Ctx): Unit = {
    val keys = model.keys.toIndexedSeq
    val want = Seq.fill(10)(keys(rng.nextInt(keys.size))).distinct
    val probe = df(want.map(k => Row(k._1, ts(k._2))), StructType(schema.fields.take(2)))
    val got = ctx.op("point_read", "streaming") {
      val read = ctx.span("build", "streaming")(
        EventStreams.readUpsertTableForKeys(spark, table, probe, KeyCols))
      (read, ctx.span("exec", "spark")(read.collect().toSeq))
    }
    got.foreach { case (read, rs) => ctx.verifying {
      ctx.check(s"point read of ${want.size} keys returned rows other than the model's")(
        rowsOf(rs) == want.map(k => k -> model(k)).toSet)
      if (ctx.tracer.on.get()) {
        val plan = read.queryExecution.executedPlan
        ctx.count("point_read_files_scanned", scanned(plan, "numFiles").toDouble)
        ctx.count("point_read_rows_scanned", scanned(plan, "numOutputRows").toDouble)
        ctx.count("point_read_hits", rs.size.toDouble)
        ctx.count("point_reads", 1)
      }
    } }
  }

  private def rangeRead(ctx: Ctx): Unit = {
    val day = (maxHour - rng.nextInt((maxHour / 24).toInt.max(1)) * 24L) / 24 * 24
    def at(h: Long) = ts(h).toInstant.toString.replace("T", " ").stripSuffix("Z")
    val got = ctx.op("range_read", "streaming") {
      val read = ctx.span("build", "streaming")(EventStreams.readUpsertTableWhere(spark, table,
        Seq(ColBound("ts", Some(at(day)), Some(at(day + 23))))))
      (read, ctx.span("exec", "spark")(read.collect().toSeq))
    }
    got.foreach { case (read, rs) => ctx.verifying {
      val want = model.iterator.filter { case ((_, h), _) => h >= day && h <= day + 23 }.toSet
      ctx.check(s"range read of hours [$day, ${day + 23}]: ${rs.size} rows, model has ${want.size}")(
        rowsOf(rs) == want)
      if (ctx.tracer.on.get()) {
        val live = EventStreams.readUpsertTable(spark, table).inputFiles.length
        ctx.count("range_read_files_scanned", scanned(read.queryExecution.executedPlan, "numFiles").toDouble)
        ctx.count("range_read_live_files", live.toDouble)
      }
    } }
  }

  def round(ctx: Ctx, i: Int): Unit = ctx.unit(i) {
    work(ctx)
    if ((i + 1) % maintainEvery == 0) maintain(ctx)
  }

  private def work(ctx: Ctx): Unit = {
    merge(ctx)
    (1 to 5).foreach(_ => pointRead(ctx))
    rangeRead(ctx)
  }

  private def maintain(ctx: Ctx): Unit = {
    batchId += 1
    ctx.op("compact", "streaming") {
      EventStreams.compactUpsertTable(spark, table, KeyCols, Buckets, batchId)
    }
    ctx.op("vacuum", "streaming")(EventStreams.vacuumUpsertTable(spark, table))
  }

  /** Bytes of `rows` written once as plain parquet. */
  private def plainBytes(ctx: Ctx, rows: Seq[Row], tag: String): Long = {
    val out = s"${ctx.work}/plain/$tag"
    df(rows).write.parquet(out)
    val (_, bytes) = Harness.du(out)
    Harness.deleteRecursively(new File(out))
    bytes
  }

  def finish(ctx: Ctx): Seq[(String, Double, String)] = {
    EventStreams.vacuumUpsertTable(spark, table)
    val cols = schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
    val snapshot = Fingerprint.of(EventStreams.readUpsertTable(spark, table).select(cols: _*))
    val want = Fingerprint.of(df(model.toSeq.map { case (k, v) => row(k, v) }))
    ctx.check(s"final snapshot fingerprint $snapshot != model $want")(snapshot == want)
    val fsck = EventStreams.fsckUpsertTable(spark, table).collect()
    ctx.check(s"fsck: ${fsck.filterNot(_.getAs[Boolean]("ok")).mkString(", ")}")(
      fsck.forall(_.getAs[Boolean]("ok")))
    val plain = batches.zipWithIndex.map { case (b, i) => plainBytes(ctx, b, s"batch$i") }.sum
    val live = plainBytes(ctx, model.toSeq.map { case (k, v) => row(k, v) }, "live")
    val (_, onDisk) = Harness.du(table)
    def p50(op: String) = ctx.latencies.get(op).map(l => Stats.median(l.toSeq)).getOrElse(Double.NaN)
    val commits = ctx.latencies.getOrElse(primaryOp, Seq.empty[Double]).toSeq
    val (tailName, tail) = if (commits.isEmpty) ("max", Double.NaN) else Stats.tail(commits)
    Seq(("commit_p50_s", p50(primaryOp), "s"), (s"commit_tail_s[$tailName]", tail, "s"),
      ("point_read_p50_s", p50("point_read"), "s"), ("range_read_p50_s", p50("range_read"), "s"),
      ("compact_p50_s", p50("compact"), "s"), ("vacuum_p50_s", p50("vacuum"), "s"),
      ("write_amp", bytesWritten.toDouble / plain, "ratio"),
      ("space_amp", onDisk.toDouble / live, "ratio"),
      ("merges", commits.size.toDouble, "count"), ("live_rows", model.size.toDouble, "count"))
  }
}
