package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Scale evidence for the round-14 write-side additions:
  *
  *  1. PREDICATE DELETE ([[EventStreams.deleteUpsertTableWhere]]) — a
  *     FIXED-SIZE age-out (the same doc_id range at every scale) on a
  *     clustered table must touch a fixed number of files no matter
  *     how large the table grows: covered files drop from the manifest
  *     unread, disjoint files carry, only boundaries rewrite. The
  *     files-touched counts are the claim; wall-clock at these sizes
  *     carries fixed scheduling overhead.
  *  2. INCREMENTAL ROLLUP ([[EventStreams.syncRollupFromFeed]]) — a
  *     fixed-size CDC window (100 changed docs) must sync the view at
  *     a cost independent of the corpus, while the naive consumer
  *     (full re-aggregate of the source) grows with it. Three windows
  *     sync once each (a sync commits — it cannot rep in place); the
  *     min is reported against a best-of-3 full recompute.
  *
  * Usage: runMain graft.tools.RetentionScale [outBase] [scales]
  * Prints one markdown row per scale.
  */
object RetentionScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("| scale | rows | live files | sync s | recompute s | delete s | dropped | rewritten | carried |")
    println("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-retscale-x$k").toString
      val (t, ru) = (s"$base/t", s"$base/ru")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("__v", lit(0L)).localCheckpoint()
      val nRows = docs.count()
      EventStreams.mergeBatchIntoTable(docs, t, Seq("doc_id"), "__v",
        nBuckets = 16, batchId = 0L, retain = 4,
        statsCols = Some(Seq("doc_id")))
      // clustered layout: tight per-file doc_id ranges inside each bucket
      EventStreams.compactUpsertTable(spark, t, Seq("doc_id"), 16, 1L,
        sortBy = Seq("doc_id"), maxRecordsPerFile = 128, retain = 4)
      // --- rollup: three fixed-size windows, each synced once ---
      val spec = EventStreams.RollupSpec(Seq("lang", "source"), Seq("n_chars"))
      EventStreams.seedRollupFromSnapshot(spark, t, ru, "ru", spec,
        nBuckets = 4, retain = 4)
      val syncS = (0 until 3).map { w =>
        val lo = w * 100L
        EventStreams.mergeBatchIntoTable(
          docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 100)
            .withColumn("n_chars", col("n_chars") + 1)
            .withColumn("__v", lit((w + 1).toLong)),
          t, Seq("doc_id"), "__v", nBuckets = 16, batchId = 2L + w,
          retain = 8, delta = true)
        timed {
          val r = EventStreams.syncRollupFromFeed(spark, t, ru, "ru", spec,
            nBuckets = 4, retain = 4)
          require(r.isDefined, "window must not be empty")
        }._2
      }.min
      val recomputeS = (1 to 3).map(_ => timed {
        EventStreams.rollupAggregate(
          EventStreams.readUpsertTable(spark, t), spec)
          .queryExecution.toRdd.count()
      }._2).min
      // --- fixed-size age-out: the same absolute range at every scale
      // (replicas live at doc_id >= 10^6, so [0, 2000] is always the
      // same 2001 original rows). The nightly-ops order: fold the CDC
      // deltas first (untimed) so the age-out classifies per FILE —
      // delta-stacking buckets would rewrite whole, which is the
      // documented reconcile rule, not the retention shape ---
      EventStreams.compactUpsertTable(spark, t, Seq("doc_id"), 16, 10L,
        sortBy = Seq("doc_id"), maxRecordsPerFile = 128, retain = 4)
      val liveFiles = EventStreams.tableManifest(spark, t)
        .values.map(_.size).sum
      val (rep, delS) = timed {
        EventStreams.deleteUpsertTableWhere(spark, t,
          Seq(EventStreams.ColBound("doc_id", Some("0"), Some("2000"))),
          batchId = 100L, retain = 4).get
      }
      println(f"| x$k | $nRows | $liveFiles | $syncS%.2f s | $recomputeS%.2f s " +
        f"| $delS%.2f s | ${rep.filesDropped} | ${rep.filesRewritten} " +
        f"| ${rep.filesCarried} |")
    }
    spark.stop()
  }
}
