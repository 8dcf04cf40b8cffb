package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Rag, Similarity, Takedown}
import graft.streaming.EventStreams

/** Scale evidence for the ONE-CALL takedown orchestration
  * ([[graft.operators.Takedown.deleteDocs]]) — the round-11 verdict's
  * missing measurement: q185 sits flat on the per-query curve because
  * its fixture artifacts are small, so the claim "`concurrency` > 1
  * makes the request's wall-clock ≈ the slowest artifact, not the sum"
  * was argued, never measured. This sweep builds the five-artifact set
  * over the x1/x5/x10 scaled corpora (the [[ScaleCurve]] dirs, where
  * the sequence re-lay is the dominant linear cost — deleted ids sit
  * EARLY in the corpus, so the suffix re-lay covers nearly the whole
  * token stream) and times the identical request at concurrency 1 vs 4
  * on fresh artifact copies.
  *
  * Usage: runMain graft.tools.TakedownScale [outBase] [scales]
  * Prints one markdown row per (scale, concurrency):
  * build seconds, takedown seconds, and the c1/c4 speedup per scale.
  */
object TakedownScale {
  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/root/repo/target/scale")
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 5, 10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // early ids -> the sequence suffix re-lay spans ~the whole stream:
    // the shape where the sequence artifact dominates the request
    val deleted = Seq(5L, 123L, 456L)
    println("| scale | concurrency | artifact build | takedown wall-clock |")
    println("| --- | --- | --- | --- |")
    val walls = scala.collection.mutable.Map.empty[(Int, Int), Double]
    for (k <- scales) {
      val dir = ScaleCurve.ensureScaled(spark, outBase, k)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val toks = docs.select(col("doc_id"),
        expr("transform(filter(split(text, ' '), x -> x <> ''), " +
          "t -> cast(pmod(xxhash64(t), 1000) as int))").as("toks"))
        .localCheckpoint() // the request re-reads the corpus asset; fix it once
      for (conc <- Seq(1, 4)) {
        val base = java.nio.file.Files
          .createTempDirectory(s"graft-tdscale-x$k-c$conc").toString
        val tb0 = System.nanoTime()
        EventStreams.mergeBatchIntoTable(
          docs.select(col("doc_id"), col("text"), col("lang"))
            .withColumn("__v", lit(0L)),
          s"$base/corpus", Seq("doc_id"), "__v", nBuckets = 8, batchId = 0L)
        EventStreams.mergeBatchIntoTable(
          Dedup.portableMinhashSignatures(docs),
          s"$base/sigstore", Seq("doc_id"), "doc_id", nBuckets = 8,
          batchId = 0L)
        Packing.materializeShardIncremental(toks, s"$base/seqs",
          seqLen = 128, sepId = 1000, batchId = 0L)
        Rag.indexShard(docs, s"$base/rag", window = 16, stride = 8,
          dim = 16, nPlanes = 4, batchId = 0L)
        Similarity.buildIvfPqIndex(
          spark.read.parquet(s"$dir/embeddings.parquet"), s"$base/idx")
        val buildS = (System.nanoTime() - tb0) / 1e9
        val t0 = System.nanoTime()
        Takedown.deleteDocs(spark, deleted, batchId = 10L,
          ledgerDir = s"$base/ledger",
          sequences = Some((toks, s"$base/seqs", 128, 1000)),
          keyedTables = Seq((s"$base/corpus", "doc_id", 8),
            (s"$base/sigstore", "doc_id", 8)),
          ragIndex = Some(s"$base/rag"), ivfPqIndex = Some(s"$base/idx"),
          concurrency = conc)
        val wallS = (System.nanoTime() - t0) / 1e9
        walls((k, conc)) = wallS
        println(f"| x$k | $conc | $buildS%.2f s | $wallS%.2f s |")
      }
    }
    for (k <- scales if walls.contains((k, 1)) && walls.contains((k, 4)))
      println(f"x$k c1/c4 speedup: ${walls((k, 1)) / walls((k, 4))}%.2fx")
    spark.stop()
  }
}
