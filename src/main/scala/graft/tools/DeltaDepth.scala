package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** RECONCILED-READ COST vs STACKED DELTA DEPTH — the measurement that
  * derives [[graft.operators.Maintenance.defaultFoldDepth]]: a delta
  * table's reads pay one `max_by(struct(version, commit))` aggregate
  * over every file a delta bucket stacks, so read latency climbs with
  * the unfolded depth until a fold re-homogenizes. [[DeltaScale]]
  * measured the WRITE side at depth 1; this sweep stacks deltas on one
  * corpus and times the reconciled read at each depth (median of 3),
  * then folds and times the plain-scan read back — the knee in the
  * curve is where the nightly fold should trigger.
  *
  * Usage: runMain graft.tools.DeltaDepth [outBase] [scale] [depths]
  * Prints one markdown row per measured depth.
  */
object DeltaDepth {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val k = if (args.length > 1) args(1).toInt else 10
    val depths = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
      else Seq(1, 2, 4, 8, 16, 32)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = ScaleCurve.ensureScaled(spark, outBase, k)
    val base = java.nio.file.Files
      .createTempDirectory(s"graft-deltadepth-x$k").toString
    val t = s"$base/d"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("__v", lit(0L))
      .localCheckpoint()
    EventStreams.mergeBatchIntoTable(docs, t, Seq("doc_id"), "__v",
      nBuckets = 16, batchId = 0L, retain = 2, delta = true)
    val tiny = docs.filter(col("doc_id") < 100).drop("__v").localCheckpoint()
    def timedRead(): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        EventStreams.readUpsertTable(spark, t).count()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    println("| unfolded depth | deepest bucket files | reconciled read s | vs depth 1 |")
    println("| --- | --- | --- | --- |")
    var committed = 0
    var base1 = 0.0
    depths.sorted.foreach { d =>
      while (committed < d) {
        committed += 1
        EventStreams.mergeBatchIntoTable(
          tiny.withColumn("__v", lit(committed.toLong)), t,
          Seq("doc_id"), "__v", nBuckets = 16, batchId = committed.toLong,
          retain = 2, delta = true)
      }
      val deepest = EventStreams.tableManifest(spark, t)
        .values.map(_.size).maxOption.getOrElse(0)
      val s = timedRead()
      if (base1 == 0.0) base1 = s
      println(f"| $d | $deepest | $s%.2f | ${s / base1}%.2fx |")
    }
    // fold back: the plain-scan read the nightly fold buys
    EventStreams.compactUpsertTable(spark, t, Seq("doc_id"), 16,
      committed + 1L, retain = 2)
    val folded = timedRead()
    println(f"| folded | ${EventStreams.tableManifest(spark, t)
      .values.map(_.size).maxOption.getOrElse(0)} | $folded%.2f | ${folded / base1}%.2fx |")
    spark.stop()
  }
}
