package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Scale evidence for ZONE MAPS
  * ([[graft.streaming.EventStreams.readUpsertTableWhere]]) — the
  * pruning claim measured: a CONSTANT-width range read against a
  * sort-clustered table should open a near-constant number of files
  * while the table (and its live file count) grows linearly; a plain
  * full-scan filter reads every file at every scale. At 100 TB the
  * files-opened column IS the read cost — a one-day slice of a
  * time-clustered table must not scan the year.
  *
  * Each scale builds a keyed upsert table over the scaled documents
  * corpus (statsCols on `doc_id`), sort-clusters it
  * (`compactUpsertTable(sortBy = doc_id, maxRecordsPerFile = 250)` —
  * sized so every bucket splits into several id-disjoint files at
  * every scale), then reads the SAME fixed id range ([0, 1000) —
  * constant matching rows across scales, the honest slice shape)
  * both ways.
  *
  * Usage: runMain graft.tools.ZoneScale [outBase] [scales]
  * Prints one markdown row per scale.
  */
object ZoneScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("| scale | rows | live files | files opened | pruned read s | full filter s | rows matched |")
    println("| --- | --- | --- | --- | --- | --- | --- |")
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-zonescale-x$k").toString
      val t = s"$base/t"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("__v", lit(0L))
      EventStreams.mergeBatchIntoTable(docs, t, Seq("doc_id"), "__v",
        nBuckets = 16, batchId = 0L, statsCols = Some(Seq("doc_id")))
      EventStreams.compactUpsertTable(spark, t, Seq("doc_id"), 16, 1L,
        sortBy = Seq("doc_id"), maxRecordsPerFile = 250)
      val liveFiles = EventStreams.tableManifest(spark, t)
        .values.map(_.size).sum
      val rows = EventStreams.readUpsertTable(spark, t).count()
      def bestOf3(f: => Long): (Double, Long) = {
        var best = Double.MaxValue; var out = 0L
        for (_ <- 0 until 3) {
          val t0 = System.nanoTime(); out = f
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (best, out)
      }
      val pruned = EventStreams.readUpsertTableWhere(spark, t, Seq(
        EventStreams.ColBound("doc_id", Some("0"), Some("999"))))
      val opened = pruned.inputFiles.length
      val (prunedS, matched) = bestOf3(pruned.count())
      val (fullS, _) = bestOf3(EventStreams.readUpsertTable(spark, t)
        .filter(col("doc_id").between(0L, 999L)).count())
      println(f"| x$k | $rows | $liveFiles | $opened | $prunedS%.2f | " +
        f"$fullS%.2f | $matched |")
    }
    spark.stop()
  }
}
