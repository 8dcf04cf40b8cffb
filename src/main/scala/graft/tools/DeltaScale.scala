package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Scale evidence for DELTA MERGES
  * ([[graft.streaming.EventStreams.mergeBatchIntoTable]]
  * `delta = true`) — the write-amplification claim measured: an EAGER
  * tiny merge rewrites every touched bucket, so its wall-clock grows
  * with the CORPUS (at 10x the data each bucket is 10x bigger and a
  * 100-row commit re-encodes all of it); a DELTA merge writes O(batch)
  * and should hold flat across scales. The reconciled read is the cost
  * the delta side pays instead — reported next to it so the trade is
  * visible, not implied.
  *
  * This sweep builds an eager and a delta table from each scaled corpus
  * (the [[ScaleCurve]] dirs), commits the SAME 100-key batch into both,
  * and reports both wall-clocks plus the delta table's reconciled read.
  *
  * Usage: runMain graft.tools.DeltaScale [outBase] [scales]
  * Prints one markdown row per scale.
  */
object DeltaScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("| scale | rows | eager merge s | eager MB written | delta merge s | delta MB written | write amp | delta read s |")
    println("| --- | --- | --- | --- | --- | --- | --- | --- |")
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-deltascale-x$k").toString
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("__v", lit(0L))
        .localCheckpoint() // both builds + the tiny batch reuse one frame
      def build(t: String, delta: Boolean): Unit =
        EventStreams.mergeBatchIntoTable(docs, t, Seq("doc_id"), "__v",
          nBuckets = 16, batchId = 0L, retain = 2, delta = delta)
      build(s"$base/e", delta = false)
      build(s"$base/d", delta = true)
      val tiny = docs.filter(col("doc_id") < 100)
        .withColumn("__v", lit(1L)).localCheckpoint()
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val eagerS = timed(EventStreams.mergeBatchIntoTable(tiny, s"$base/e",
        Seq("doc_id"), "__v", nBuckets = 16, batchId = 1L, retain = 2))
      val deltaS = timed(EventStreams.mergeBatchIntoTable(tiny, s"$base/d",
        Seq("doc_id"), "__v", nBuckets = 16, batchId = 1L, retain = 2,
        delta = true))
      // BYTES WRITTEN is the claim itself (wall-clock at these test
      // sizes is fixed-overhead-dominated; at 100 TB the clock follows
      // the bytes): the eager commit re-encodes every touched bucket,
      // the delta commit lands the batch
      def mb(dir: String): Double = {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(p)) 0.0
        else java.nio.file.Files.walk(p).iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size(_)).sum / 1e6
      }
      val eagerMb = mb(s"$base/e/gen_1")
      val deltaMb = mb(s"$base/d/gen_1")
      val rows = EventStreams.readUpsertTable(spark, s"$base/e").count()
      val readS = timed {
        EventStreams.readUpsertTable(spark, s"$base/d").count(); ()
      }
      println(f"| x$k | $rows | $eagerS%.2f | $eagerMb%.2f | $deltaS%.2f | " +
        f"$deltaMb%.2f | ${eagerMb / deltaMb}%.1fx | $readS%.2f |")
    }
    spark.stop()
  }
}
