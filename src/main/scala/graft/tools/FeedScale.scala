package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Scale evidence for the CHANGE FEED
  * ([[graft.streaming.EventStreams.readChangeFeed]]) — the
  * touched-buckets claim measured: a consumer that re-derives "what
  * changed" by diffing two FULL snapshots pays the whole table twice
  * per window, so its cost grows with the corpus; the feed computes the
  * changed-bucket set from manifest metadata and diffs ONLY those
  * buckets, so a fixed-size CDC window costs a fixed fraction of the
  * bucket space no matter how large the table grows. Files opened is
  * the claim itself (wall-clock at these test sizes carries fixed
  * scheduling overhead; at 100 TB the clock follows the files).
  *
  * This sweep builds a 64-bucket delta table from each scaled corpus,
  * commits the SAME 10-key window (one upsert commit + one delete
  * commit), and reads the window back both ways.
  *
  * Usage: runMain graft.tools.FeedScale [outBase] [scales]
  * Prints one markdown row per scale.
  */
object FeedScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("| scale | rows | live files | feed s | feed files | full-diff s | full-diff files | feed rows |")
    println("| --- | --- | --- | --- | --- | --- | --- | --- |")
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-feedscale-x$k").toString
      val t = s"$base/t"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("__v", lit(0L))
        .localCheckpoint()
      def merge(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        EventStreams.mergeBatchIntoTable(b, t, Seq("doc_id"), "__v",
          nBuckets = 64, batchId = id, retain = 4, delta = true)
      merge(docs, 0L)
      // the SAME fixed window at every scale: 8 upserted keys + 2 deleted
      merge(docs.filter(col("doc_id") < 8).withColumn("__v", lit(1L)), 1L)
      EventStreams.deleteFromTable(spark, t,
        spark.range(8, 10).select(col("id").as("doc_id")), Seq("doc_id"),
        nBuckets = 64, batchId = 2L, retain = 4)
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def best3[A](f: => (A, Double)): (A, Double) =
        (1 to 3).map(_ => f).minBy(_._2)
      val (feedFiles, feedS) = best3(timed {
        val df = EventStreams.readChangeFeed(spark, t, 0L, Some(2L))
        val n = df.count()
        require(n == 10, s"feed rows $n != 10")
        df.inputFiles.length
      })
      // the naive consumer: full-snapshot diff at the same boundaries
      val (fullFiles, fullS) = best3(timed {
        val a = EventStreams.readUpsertTableAt(spark, t, 0L)
        val b = EventStreams.readUpsertTableAt(spark, t, 2L)
        val ups = b.exceptAll(a)
        val dels = a.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
        require(ups.unionByName(dels).count() == 10)
        a.inputFiles.length + b.inputFiles.length
      })
      val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
      val rows = EventStreams.readUpsertTable(spark, t).count()
      println(f"| x$k | $rows | $live | $feedS%.2f | $feedFiles | $fullS%.2f | $fullFiles | 10 |")
    }
    spark.stop()
  }
}
