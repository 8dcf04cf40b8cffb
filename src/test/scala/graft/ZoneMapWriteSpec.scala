package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{ColBound, FileStats}

/** A committer whose every write task fails as it starts: the parquet
  * write's fault seam (`spark.sql.parquet.output.committer.class`).
  */
class FailingTaskCommitter(out: Path, ctx: TaskAttemptContext)
    extends FileOutputCommitter(out, ctx) {
  override def setupTask(ctx: TaskAttemptContext): Unit =
    throw new IllegalStateException("injected write-task failure")
}

/** The zone maps the write tasks record for a commit's fresh files equal
  * what one aggregate over those files, grouped by `input_file_name`,
  * computes from the bytes on disk — at every site that writes a table
  * generation, for every supported stats type.
  */
class ZoneMapWriteSpec extends SparkSpec {
  import spark.implicits._

  private val bloomBits = 4096 // EventStreams.bloomBits
  private val statsCols = Seq("k", "b", "y", "h", "i", "l", "f", "d", "z0", "m", "s",
    "dt", "ts", "nul", "w")
  private val bloomCols = Seq("s", "i", "b")

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("b", BooleanType), StructField("y", ByteType),
    StructField("h", ShortType), StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType), StructField("z0", DoubleType),
    StructField("m", DecimalType(12, 3)), StructField("s", StringType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("nul", StringType), StructField("v", LongType)))

  private val floats = Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
    Float.NegativeInfinity, 1.5f, -2.25f, 0.1f)
  private val doubles = Seq(0.0, Double.NegativeInfinity, -0.0, Double.PositiveInfinity,
    3.25, Double.NaN, -1e-300, 0.1)
  // BMP, high-BMP and supplementary-plane characters: code-point order
  // and UTF-16 order disagree between U+FFFD and U+1F600
  private val prefixes = Seq("😀", "�", "abc", "", "Zebra", "𐀀", "é")

  /** Deterministic rows of every supported stats type, with nulls, NaN,
    * ±0.0 and ±Infinity, and timestamps across both DST changes.
    */
  private def rows(ks: Seq[Long], v: Long): DataFrame = {
    val t0 = java.sql.Timestamp.valueOf("2021-03-13 20:00:00").getTime
    val rs = ks.map { k =>
      def orNull(mod: Int, x: Any) = if (k % mod == 0) null else x
      Row(k, orNull(3, k % 2 == 0), orNull(11, ((k * 37) % 256 - 128).toByte),
        ((k * 1237) % 65536 - 32768).toShort, orNull(13, ((k * 7919) % 100000 - 50000).toInt),
        k * 1234567891L - 100000000000L, orNull(17, floats((k % 8).toInt)),
        orNull(19, doubles(((k + v) % 8).toInt)), orNull(5, if (k % 2 == 0) -0.0 else 0.0),
        orNull(7, new java.math.BigDecimal(k * 3141 - 150000).movePointLeft(3)),
        orNull(19, prefixes((k % 7).toInt) + (k % 5)),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(k * 37 - 5000)),
        orNull(23, new java.sql.Timestamp(t0 + k * 97L * 60000L + k * 1234L)), null, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)
  }

  private def withZone[T](tz: String)(f: => T): T = {
    val key = "spark.sql.session.timeZone"
    val orig = spark.conf.get(key)
    spark.conf.set(key, tz)
    try f finally spark.conf.set(key, orig)
  }

  /** The engine's former read-back of freshly written files: one
    * aggregate over exactly those files, grouped by `input_file_name`,
    * plus each file's length on disk.
    */
  private def readBack(t: String, rels: Seq[String]): FileStats = {
    val df = spark.read.parquet(rels.map(r => s"$t/$r"): _*)
    val present = statsCols.filter(df.columns.contains)
    val bPresent = bloomCols.filter(df.columns.contains)
    def render(c: Column, dt: DataType) = dt match {
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      case _ => c.cast("string")
    }
    val aggs = present.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(render(min(col(c)), dt), render(max(col(c)), dt))
    } ++ Seq(count(lit(1)).cast("string")) ++
      present.map(c => count(when(col(c).isNull, 1)).cast("string")) ++
      bPresent.flatMap(c => Seq(
        collect_set(pmod(xxhash64(col(c)), lit(bloomBits)).cast("int")),
        collect_set(pmod(xxhash64(col(c), lit(1L)), lit(bloomBits)).cast("int"))))
    val zone: Map[String, Map[String, (Option[String], Option[String])]] =
      if (present.isEmpty && bPresent.isEmpty) Map.empty
      else df.groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect().map { r =>
        val rel = rels.find(rel => r.getString(0).endsWith("/" + rel)).get
        def s(i: Int) = Option(r.getString(i))
        val n = 1 + 2 * present.size
        val ranges = present.zipWithIndex.flatMap { case (c, i) =>
          Seq(c -> ((s(1 + 2 * i), s(2 + 2 * i))), s"__nl_$c" -> ((s(n + 1 + i), s(n + 1 + i))))
        }
        val blooms = bPresent.zipWithIndex.map { case (c, i) =>
          val bits = new Array[Byte](bloomBits / 8)
          val at = n + 1 + present.size + 2 * i
          (r.getSeq[Int](at) ++ r.getSeq[Int](at + 1)).foreach { p =>
            bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
          }
          s"__bloom_$c" -> ((Some(java.util.Base64.getEncoder.encodeToString(bits)), None))
        }
        rel -> (ranges ++ blooms :+ ("__rows" -> ((s(n), s(n))))).toMap
      }.toMap
    rels.map { rel =>
      val len = Some(new File(t, rel).length.toString)
      rel -> (zone.getOrElse(rel, Map.empty) + ("__bytes" -> ((len, len))))
    }.toMap
  }

  /** The commit `batchId`'s fresh files: recorded stats == the read-back,
    * and the manifest names exactly the parquet files of its generation.
    */
  private def assertParity(t: String, batchId: Long): Seq[String] = {
    val fresh = EventStreams.tableManifest(spark, t).values.flatten
      .filter(_.startsWith(s"gen_$batchId/")).toSeq.sorted
    val onDisk = Option(new File(t, s"gen_$batchId").listFiles).toSeq.flatten
      .filter(_.isDirectory).flatMap(d => d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => s"gen_$batchId/${d.getName}/${f.getName}")).sorted
    assert(fresh === onDisk, s"commit $batchId's manifest against its generation dir")
    assert(fresh.nonEmpty, s"commit $batchId wrote no file")
    val recorded = EventStreams.tableFileStats(spark, t)
    val want = readBack(t, fresh)
    fresh.foreach { rel =>
      assert(recorded.get(rel) === want.get(rel), s"zone maps of $rel")
    }
    fresh
  }

  private def merge(t: String, df: DataFrame, batchId: Long, delta: Boolean = false): Unit =
    EventStreams.mergeBatchIntoTable(df, t, Seq("k"), "v", nBuckets = 4, batchId = batchId,
      delta = delta, statsCols = Some(statsCols), bloomCols = Some(bloomCols))

  private def tableDir(name: String) = Files.createTempDirectory(name).toString + "/t"

  test("every generation write records the zone maps a read-back of its files computes") {
    withZone("America/Los_Angeles") {
      val t = tableDir("graft-zmw")
      merge(t, rows(0L until 120L, 0L), 1L) // first commit
      assert(assertParity(t, 1L).size === 4)
      merge(t, rows(100L until 200L, 1L), 2L) // eager merge
      assertParity(t, 2L)
      EventStreams.deleteFromTable(spark, t, (0L until 60L by 3L).toDF("k"), Seq("k"),
        nBuckets = 4, batchId = 3L)
      assertParity(t, 3L)
      val rep = EventStreams.deleteUpsertTableWhere(spark, t,
        Seq(ColBound("i", Some("-20000"), Some("20000"))), batchId = 4L).get
      assert(rep.filesRewritten > 0)
      assertParity(t, 4L)
      EventStreams.compactUpsertTable(spark, t, Seq("k"), nBuckets = 4, batchId = 5L,
        sortBy = Seq("ts"), maxRecordsPerFile = 10)
      val split = assertParity(t, 5L)
      assert(split.groupBy(_.split('/')(1)).values.exists(_.size > 1),
        s"maxRecordsPerFile must split a bucket: $split")
      EventStreams.compactUpsertTableBuckets(spark, t, Seq("k"), nBuckets = 4,
        batchId = 6L, buckets = Set(0, 1), sortBy = Seq("i"), maxRecordsPerFile = 15)
      assertParity(t, 6L)
      merge(t, rows(190L until 230L, 2L), 7L, delta = true) // delta append
      assertParity(t, 7L)
      // a widened column: the contract named `w` from the first commit,
      // older files lack it (no entry), fresh ones record it
      assert(EventStreams.tableFileStats(spark, t).values.forall(!_.contains("w")))
      merge(t, rows(Seq(5L, 6L), 3L).withColumn("w", $"k".cast("int") * 2), 8L)
      val widened = assertParity(t, 8L)
      assert(widened.forall(rel => EventStreams.tableFileStats(spark, t)(rel).contains("w")))
      // the full fold reads every file under the widened schema: the
      // buckets the widening merge left narrow rewrite with `w` all null
      EventStreams.compactUpsertTable(spark, t, Seq("k"), nBuckets = 4, batchId = 9L)
      val folded = assertParity(t, 9L)
      assert(folded.exists(rel =>
        EventStreams.tableFileStats(spark, t)(rel).get("w") === Some((None, None))))
      assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    }
  }

  test("an unsupported stats type fails with the writer's message before any file is written") {
    val t = tableDir("graft-zmw-bad")
    val df = Seq((1L, Seq(1, 2), 0L), (2L, Seq(3), 0L)).toDF("k", "arr", "v")
    EventStreams.mergeBatchIntoTable(df, t, Seq("k"), "v", nBuckets = 2, batchId = 1L)
    val before = EventStreams.tableFileStats(spark, t)
    val e = intercept[IllegalArgumentException] {
      EventStreams.mergeBatchIntoTable(df, t, Seq("k"), "v", nBuckets = 2, batchId = 2L,
        statsCols = Some(Seq("k", "arr")))
    }
    assert(e.getMessage === "zone maps support numeric/string/date/timestamp/boolean stats " +
      "columns; 'arr' is ArrayType(IntegerType,true)")
    assert(!new File(t, "gen_2").exists(), "the failed merge must write no file")
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(1L))
    assert(EventStreams.tableFileStats(spark, t) === before)
  }

  test("a merge whose write task fails publishes nothing; its replay commits oracle-equal stats") {
    withZone("America/Los_Angeles") {
      val t = tableDir("graft-zmw-fault")
      merge(t, rows(0L until 80L, 0L), 1L)
      val stats1 = EventStreams.tableFileStats(spark, t)
      val snap1 = EventStreams.readUpsertTable(spark, t).collect().map(_.toString).sorted.toSeq
      val key = "spark.sql.parquet.output.committer.class"
      spark.conf.set(key, classOf[FailingTaskCommitter].getName)
      val e = try intercept[SparkException](merge(t, rows(60L until 100L, 1L), 2L))
        finally spark.conf.unset(key)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
      assert(causes.contains("injected write-task failure"), s"fails by name: $causes")
      assert(EventStreams.latestCommittedBatchId(spark, t) === Some(1L), "no manifest published")
      assert(EventStreams.tableFileStats(spark, t) === stats1, "no stats published")
      assert(EventStreams.readUpsertTable(spark, t).collect().map(_.toString).sorted.toSeq ===
        snap1, "readers stay on the old snapshot")
      merge(t, rows(60L until 100L, 1L), 2L) // the replay
      assertParity(t, 2L)
      assert(EventStreams.readUpsertTable(spark, t).count() === 100L)
      val fsck = EventStreams.fsckUpsertTable(spark, t).collect()
      assert(fsck.forall(_.getBoolean(1)), s"fsck after the replay: ${fsck.mkString(", ")}")
    }
  }
}
