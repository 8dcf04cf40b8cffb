package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.plans.SimHash64.simhash64
import graft.functions.Texts

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s", 0L),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "s", 0L), // near-dup of 0
    (2L, "completely different content about spark engines", "en", "s", 0L),
    (3L, "the quick brown fox jumps over the lazy dog", "en", "s", 0L) // exact dup of 0
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("minhash LSH assigns dup cluster representatives") {
    val reps = Dedup.minhashNearDups(docs, shingleN = 1, k = 64, bands = 16,
        minJaccard = 0.75)
      .select("doc_id", "rep_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(3L) === 0L) // exact dup always collapses to the anchor
    assert(reps(1L) === 0L) // near-dup (jaccard 7/9) verified against anchor
    assert(!reps.contains(2L)) // unrelated doc is its own representative
    assert(!reps.contains(0L)) // the representative itself is not listed
  }

  test("minhashDedup keeps exactly the cluster representatives") {
    val kept = Dedup.minhashDedup(docs, minJaccard = 0.75)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L))
  }

  test("simhash: identical docs collide, near-dups are close, distinct far") {
    val fp = docs.select(col("doc_id"), simhash64(Texts.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) === fp(3L))
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(1L)) <= 16)
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) > 16)
  }

  test("simhashNearDups assigns dup cluster representatives (anchor pattern)") {
    val reps = Dedup.simhashNearDups(docs, maxHamming = 16)
      .select("doc_id", "rep_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(3L) === 0L) // exact dup: identical fingerprint, hamming 0
    assert(reps.get(1L).forall(_ === 0L)) // near-dup collapses if within hamming bound
    assert(!reps.contains(0L)) // the representative itself is not listed
  }

  test("fingerprintNearDups respects the hamming threshold") {
    val fp = Seq(
      (0L, 0L),                   // anchor
      (1L, 1L),                   // hamming 1 from 0 — dup
      (2L, 0xFF00FF00FF00FFL),    // far from everything
      (3L, 3L)                    // hamming 2 from 0 — dup
    ).toDF("doc_id", "simhash")
    val out = Dedup.fingerprintNearDups(fp, bandBits = 16, bands = 4, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(1L) === (0L, 1))
    assert(out(3L) === (0L, 2))
    assert(!out.contains(2L))
    assert(!out.contains(0L))
  }

  test("canonicalByQuality keeps the best member per cluster; singletons self-canonical") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 4L), (99L, 2L))
      .toDF("doc_id", "q")
    val out = Dedup.canonicalByQuality(clusters, quality, "q")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // cluster 1: docs 2 and 3 tie at q=9 — the SMALLER id wins
    assert(out(1L) === ((2L, false)))
    assert(out(2L) === ((2L, true)))
    assert(out(3L) === ((2L, false)))
    // cluster 7: tie at q=4 — min id 7 canonical
    assert(out(7L) === ((7L, true)) && out(8L) === ((7L, false)))
    // doc 99 is in no cluster: its own singleton canonical
    assert(out(99L) === ((99L, true)))
  }

  test("connectedComponents closes multi-hop chains into one cluster") {
    // chain 5-3-8 (3 never meets 8 directly), separate pair 10-11,
    // edges given in both orientations/orders to exercise symmetry
    val edges = Seq((5L, 3L), (8L, 5L), (11L, 10L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(3L -> 3L, 5L -> 3L, 8L -> 3L, 10L -> 10L, 11L -> 10L))
  }

  test("portableMinhashSignatures kernel matches the explode+agg form on real corpus text") {
    // parity proof for graft.plans.MinHashAffine (the r17 kernel): both
    // forms over the sf0.001 documents — real tokens, real multi-byte
    // text — must agree slot for slot (same md5 hash family, same
    // affine constants, same Java long arithmetic), same row set
    // (empty-token docs produce no row in either form).
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (0 until 8).map(i => r.getLong(i + 1))).toMap
    val kernel = sigMap(Dedup.portableMinhashSignatures(docs))
    val explode = sigMap(Dedup.portableMinhashSignaturesExplode(docs))
    assert(kernel.nonEmpty)
    assert(kernel === explode)
  }

  test("signatureAgreementDedup: shard dup of a STORED doc is flagged from signatures alone") {
    // history: doc 0; its text never reaches the dedup call — only sigs
    val store = Dedup.portableMinhashSignatures(
      Seq((0L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"))
    val shard = Dedup.portableMinhashSignatures(Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 0
      (11L, "completely different content about spark engines runtime"),
      (12L, "completely different content about spark engines runtime") // dup WITHIN shard
    ).toDF("doc_id", "text"))
    val out = Dedup.signatureAgreementDedup(shard, store)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(10L) === (0L, 8)) // identical text -> identical signature, store anchor
    assert(out(12L) === (11L, 8)) // within-shard anchor also caught
    assert(!out.contains(11L)) // novel doc survives
  }

  test("signature store append: a later shard dedups against earlier survivors via the manifest table") {
    import graft.streaming.EventStreams
    val storeDir = java.nio.file.Files.createTempDirectory("graft-sigstore-spec").toString
    val sigsOf = (rows: Seq[(Long, String)]) =>
      Dedup.portableMinhashSignatures(rows.toDF("doc_id", "text"))
    // batch 0: history enters the store
    EventStreams.mergeBatchIntoTable(
      sigsOf(Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))),
      storeDir, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 0L)
    // shard 1 is novel; ALL its signatures append (batch 1) — dropped
    // dups' sigs too, which is what keeps chains catchable later
    EventStreams.mergeBatchIntoTable(
      sigsOf(Seq((20L, "one two three four five six seven eight nine"))),
      storeDir, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 1L)
    val store = EventStreams.readUpsertTable(spark, storeDir)
    assert(store.count() === 2L)
    // shard 2 contains a dup of shard 1's survivor: caught via the store
    val out = Dedup.signatureAgreementDedup(
        sigsOf(Seq((30L, "one two three four five six seven eight nine"))), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(30L) === 20L)
    // replayed append (same batchId) is a no-op: exactly-once holds
    EventStreams.mergeBatchIntoTable(
      sigsOf(Seq((99L, "should not appear twice in the store ever at all"))),
      storeDir, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 1L)
    assert(EventStreams.readUpsertTable(spark, storeDir).count() === 2L)
  }

  private lazy val vecs = {
    val mk = (id: Long, base: Double) =>
      (id, (0 until 64).map(i => (base + i * 0.01).toFloat).toArray, 0)
    Seq(
      mk(0L, 1.0),
      mk(1L, 1.001), // nearly parallel to 0
      (2L, (0 until 64).map(i => (if (i % 2 == 0) 1.0f else -1.0f)).toArray, 1)
    ).toDF("vec_id", "embedding", "label")
  }

  test("topKvsQuery ranks the nearly-parallel vector first") {
    val top = Similarity.topKvsQuery(vecs, 0L, 2).collect()
    assert(top(0).getLong(0) === 1L)
    assert(top(0).getDouble(2) > 0.999)
  }

  test("embeddingNearDups collapses near-parallel vectors to the anchor") {
    val reps = Dedup.embeddingNearDups(vecs, minCos = 0.99, nPlanes = 2)
      .select("vec_id", "rep_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.get(1L) === Some(0L)) // near-parallel pair collapses
    assert(!reps.contains(2L)) // orthogonal decoy survives
  }

  test("semanticDedup drops the within-cluster near-dup, keeps the cross-cluster decoy") {
    val dropped = Dedup.semanticDedup(vecs, nClusters = 2, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dropped === Map(1L -> 0L)) // near-parallel pair: higher id drops
    // vec 2 (orthogonal) survives even at a permissive threshold: its
    // cosine to anything in its cell is far below minCos
  }

  test("assignCellsByCentroids matches the MLlib transform assignment") {
    // the expression argmin (first minimum on ties) must agree with
    // model.transform cell-for-cell when fed that model's centroids —
    // the train-once serving path and the inline path are one quantizer
    val byModel = Similarity.assignCells(vecs, nlist = 2)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = Similarity.ensureCellCentroids(vecs, "spec:cells", nlist = 2)
    val byExpr = Similarity.assignCellsByCentroids(vecs, cents)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byExpr === byModel)
    // and the centroid-fed semanticDedup decides identically
    val dropped = Dedup.semanticDedup(vecs, nClusters = 2, minCos = 0.99,
        centroids = Some(cents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dropped === Map(1L -> 0L))
  }

  test("ivfTopK finds the nearly-parallel vector in the probe's cell") {
    val got = Similarity.ivfTopK(vecs, Seq(0L), k = 2, nlist = 2, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(1L)) // near-parallel vector shares the k-means cell
  }

  test("pqTopK ranks the near-identical vector first from codes alone") {
    // m=8 subspaces of 8 dims, 2 codes each: vectors 0/1 quantize to the
    // same codes (ADC distance ~ their shared centroid's), the decoy to
    // different ones — the compressed scan alone finds the neighbor
    val got = Similarity.pqTopK(vecs, Seq(0L), k = 2,
        m = 8, codebookSize = 2, dim = 64)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.head._1 === 1L, s"expected vec 1 ranked first, got ${got.toSeq}")
    // and the exact-L2 baseline agrees on the ground truth
    val exact = Similarity.exactL2TopK(vecs, Seq(0L), k = 1)
      .collect().map(_.getLong(1))
    assert(exact.head === 1L)
  }

  test("persistent IVF index: pruned probe reads only probed cell dirs, matches ivfTopK") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.buildIvfIndex(vecs, idx, nlist = 2, maxIter = 5)
    // the layout prunes: a cell filter reads strictly fewer files, all
    // of them under the probed cell dirs
    val all = spark.read.parquet(s"$idx/vectors")
    val cell0 = all.filter(col("cell") === 0)
    cell0.collect() // execute so the scan metrics are final
    val scan = cell0.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // partition pruning is metric-visible: the pruned scan opened fewer
    // files than the directory holds (inputFiles ignores pushed filters,
    // so assert on the EXECUTED scan)
    assert(scan.metrics("numFiles").value < all.inputFiles.length,
      s"expected pruned scan, opened ${scan.metrics("numFiles").value} of ${all.inputFiles.length}")
    // probing the index equals the retrain-per-query path (same seed,
    // same data => same cells)
    val viaIndex = Similarity.queryIvfIndex(spark, idx, Seq(0L), k = 2, nprobe = 1)
      .select("probe_id", "vec_id", "cosine", "rn").collect().toSet
    val direct = Similarity.ivfTopK(vecs, Seq(0L), k = 2, nlist = 2, nprobe = 1)
      .select("probe_id", "vec_id", "cosine", "rn").collect().toSet
    assert(viaIndex === direct)
  }

  test("composed IVF-PQ index: pruned codes scan, residual ADC ranks the neighbor first") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    // layout: codes are hive-partitioned by the coarse cell, raw vectors
    // are NOT in the table (compression is the point)
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.columns.toSet === Set("vec_id", "codes", "cell", "batch"))
    // cold-session probe with the raw vector of vec 0: the near-parallel
    // vec 1 shares its cell AND its residual codes rank it first
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    val got = Similarity.queryIvfPqIndex(spark, idx, Seq((0L, pv)), k = 2, nprobe = 1)
    assert(got.collect().head.getLong(1) === 1L)
    // partition pruning is metric-visible on the EXECUTED scan (the
    // persistent-IVF convention, same standalone-filter probe — the
    // retrieval plan itself is AQE-wrapped): a cell filter opens fewer
    // files than the directory holds
    val probedCell = codes.filter(col("vec_id") === 0L).head().getAs[Int]("cell")
    val cellScan = codes.filter(col("cell") === probedCell)
    cellScan.collect() // execute so the scan metrics are final
    val scan = cellScan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value < codes.inputFiles.length,
      s"expected pruned codes scan, opened ${scan.metrics("numFiles").value} " +
        s"of ${codes.inputFiles.length}")
    // wrong-dimension probes fail loudly with the index's expected dim
    val err = intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndex(spark, idx, Seq((9L, Array(1.0, 2.0))), k = 1)
    }
    assert(err.getMessage.contains("expects 64"))
  }

  test("IVF-PQ append: frozen-artifact encoding, atomic batches, replay no-ops") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    // append a genuinely new direction AND an exact copy of vec 0 under
    // a new id: the copy must encode to IDENTICAL (cell, codes) — the
    // frozen-artifact contract (a retrain would silently re-interpret
    // the codes)
    val v0 = vecs.filter("vec_id = 0").head().getSeq[Float](1)
    val appended = Seq(
      (8L, (0 until 64).map(i => (2.0 + i * 0.02).toFloat), 1),
      (9L, v0, 0)).toDF("vec_id", "embedding", "label")
    Similarity.appendToIvfPqIndex(appended, idx, batchId = 1L)
    val codes = spark.read.parquet(s"$idx/codes")
      .select("vec_id", "cell", "codes").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2).toSeq)).toMap
    assert(codes.keySet === Set(0L, 1L, 2L, 8L, 9L))
    assert(codes(9L) === codes(0L))
    // replayed batch publishes nothing twice
    Similarity.appendToIvfPqIndex(appended, idx, batchId = 1L)
    assert(spark.read.parquet(s"$idx/codes").count() === 5)
    // probing the grown index still ranks the near-parallel vec first
    // (probe plan unchanged: the appended batch dirs are just more
    // prunable cell partitions)
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    val got = Similarity.queryIvfPqIndex(spark, idx, Seq((0L, pv)), k = 2, nprobe = 1)
      .collect().map(_.getLong(1)).toSeq
    assert(got.head === 9L || got.head === 1L) // the exact copy or the near-parallel twin
  }

  test("signature-store takedown: a deleted doc stops suppressing arriving near-dups") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val store = java.nio.file.Files
      .createTempDirectory("graft-sig-del").toString + "/store"
    // history: doc 10 (the future takedown target) + unrelated doc 11
    val hist = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six")).toDF("doc_id", "text")
    EventStreams.mergeBatchIntoTable(Dedup.portableMinhashSignatures(hist),
      store, Seq("doc_id"), "doc_id", nBuckets = 8, batchId = 0L)
    // arriving doc 50 duplicates doc 10's token set exactly (identical
    // signatures by construction) — the store suppresses it
    val shardSigs = Dedup.portableMinhashSignatures(
      Seq((50L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"))
    def decide() = Dedup.signatureAgreementDedup(shardSigs,
        EventStreams.readUpsertTable(spark, store))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(decide() === Seq((50L, 10L)))
    // takedown: doc 10 leaves the committed store; the SAME arriving
    // shard now survives — the deleted doc no longer suppresses
    // look-alikes (the store carries no other trace of it)
    EventStreams.deleteFromTable(spark, store, Seq(10L).toDF("doc_id"),
      Seq("doc_id"), nBuckets = 8, batchId = 1L)
    assert(decide() === Seq.empty)
    // the store still works: doc 11 remains and future merges land
    assert(EventStreams.readUpsertTable(spark, store).count() === 1)
  }

  test("IVF-PQ compaction: probe bit-identical, fewer files, folded-batch replay no-ops") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-compact").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    // three appends -> four batch dirs, each with its own per-cell files
    val batches = (1 to 3).map { b =>
      Seq((10L * b, (0 until 64).map(i => (b + i * 0.01 * b).toFloat), b))
        .toDF("vec_id", "embedding", "label")
    }
    batches.zipWithIndex.foreach { case (df, i) =>
      Similarity.appendToIvfPqIndex(df, idx, batchId = i + 1L)
    }
    def parquetFiles() = {
      val root = java.nio.file.Paths.get(s"$idx/codes")
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    def probe() = Similarity.queryIvfPqIndex(spark, idx, Seq((0L, pv)), k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._2).toSeq
    val before = probe()
    val filesBefore = parquetFiles()
    Similarity.compactIvfPqIndex(spark, idx, batchId = 4L)
    // the consolidated layout opens strictly fewer files (one per cell)
    // and the probe results are BIT-identical — codes are pure rows, so
    // merging dirs cannot change candidates or ADC distances
    assert(parquetFiles() < filesBefore,
      s"expected fewer files after compaction, ${parquetFiles()} vs $filesBefore")
    assert(probe() === before)
    // a replay of an append the compaction folded must NOT resurrect
    // its pre-compaction dir (the manifest high-water mark guards it)
    Similarity.appendToIvfPqIndex(batches(0), idx, batchId = 1L)
    assert(probe() === before)
    val total = spark.read.parquet(s"$idx/codes").count()
    // replayed compaction no-ops too
    Similarity.compactIvfPqIndex(spark, idx, batchId = 4L)
    assert(spark.read.parquet(s"$idx/codes").count() === total)
    // growth continues after compaction: a NEW append lands and probes
    Similarity.appendToIvfPqIndex(
      Seq((99L, vecs.filter("vec_id = 0").head().getSeq[Float](1), 0))
        .toDF("vec_id", "embedding", "label"),
      idx, batchId = 5L)
    assert(probe().exists(_._2 == 99L)) // the exact copy of vec 0 ranks in top-4
  }

  test("flat PQ index takedown: deleteFromTable on the codes upsert table, survivors identical") {
    // the q155 index's codes table IS a keyed upsert table, so the
    // generic committed delete covers it with no index-specific code —
    // the takedown-primitive composition argument
    val idx = java.nio.file.Files.createTempDirectory("graft-pq-del").toString
    Similarity.buildPqIndex(vecs, idx, m = 8, codebookSize = 2, dim = 64)
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    def probe() = Similarity.queryPqIndex(spark, idx, Seq((0L, pv)), k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val before = probe()
    import spark.implicits._
    graft.streaming.EventStreams.deleteFromTable(spark, s"$idx/codes",
      Seq(1L).toDF("vec_id"), Seq("vec_id"), nBuckets = 8, batchId = 1L)
    assert(probe() === before.filterNot(_._1 == 1L))
  }

  test("IVF-PQ takedown: deleted vectors vanish, survivors' ADC answers bit-identical") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-del").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    Similarity.appendToIvfPqIndex(
      Seq((8L, (0 until 64).map(i => (2.0 + i * 0.02).toFloat), 1))
        .toDF("vec_id", "embedding", "label"),
      idx, batchId = 1L)
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    def probe(k: Int) = Similarity
      .queryIvfPqIndex(spark, idx, Seq((0L, pv)), k, nprobe = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val before = probe(10)
    val deleted = Seq(1L, 8L)
    Similarity.deleteFromIvfPqIndex(spark, idx, deleted, batchId = 2L)
    // survivors answer with EXACTLY their pre-delete ADC distances and
    // order (codes untouched by the filter-and-republish)
    val after = probe(10)
    assert(after === before.filterNot(c => deleted.contains(c._1)))
    assert(after.nonEmpty)
    // replayed takedown no-ops; a replayed FOLDED append cannot
    // resurrect the deleted vectors (manifest high-water mark)
    Similarity.deleteFromIvfPqIndex(spark, idx, deleted, batchId = 2L)
    Similarity.appendToIvfPqIndex(
      Seq((8L, (0 until 64).map(i => (2.0 + i * 0.02).toFloat), 1))
        .toDF("vec_id", "embedding", "label"),
      idx, batchId = 1L)
    assert(probe(10) === after)
    // total takedown leaves a READABLE empty index: probes return no
    // rows, not a schema error
    val all = spark.read.parquet(s"$idx/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    Similarity.deleteFromIvfPqIndex(spark, idx, all, batchId = 3L)
    assert(probe(5) === Seq.empty)
  }

  test("semanticDedupBounded scales k with the corpus and still finds planted clones") {
    import spark.implicits._
    // the q138 curve's named cause, as an operator dial: expected cell
    // size held constant => candidate volume linear in n
    assert(Dedup.boundedClusterCount(500L, 100) === 5)
    assert(Dedup.boundedClusterCount(5000L, 100) === 50)
    assert(Dedup.boundedClusterCount(5000L, 100, kMax = 16) === 16)
    assert(Dedup.boundedClusterCount(3L, 100) === 1)
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // plant clones of vectors 0..9 (scaled 1.001 — same direction,
    // near-identical coords: the L2 quantizer must co-cluster each with
    // its original; the q138 fixture argument)
    val clones = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 9000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 1.001 as float))")
          .as("embedding"),
        col("label"))
    val out = Dedup.semanticDedupBounded(e.unionByName(clones),
        targetCellSize = 64, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === (0L until 10L).map(i => (i + 9000L) -> i).toMap)
  }

  test("skew-safe compaction: a planted hot cell splits into bounded files, probes bit-identical") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-skew").toString
    // planted skew: 90 vectors crowd one direction (one hot cell), 6
    // spread the other — small per-vector jitter keeps KMeans fits
    // non-degenerate (distinct points per cluster)
    val hot = (0 until 90).map(i =>
      (i.toLong, (0 until 64).map(d => (1.0 + d * 0.01 + i * 0.001).toFloat), 0))
    val cold = (0 until 6).map(i =>
      (100L + i, (0 until 64).map(d =>
        (if (d % 2 == 0) 1.0f else -1.0f) + i * 0.01f), 1))
    val vs = (hot ++ cold).toDF("vec_id", "embedding", "label")
    Similarity.buildIvfPqIndex(vs.filter(col("vec_id") < 50), idx,
      nlist = 2, m = 8, codebookSize = 2, dim = 64)
    Similarity.appendToIvfPqIndex(
      vs.filter(col("vec_id") >= 50), idx, batchId = 1L)
    val pv = hot.head._2.map(_.toDouble).toArray
    def probe() = Similarity
      .queryIvfPqIndex(spark, idx, Seq((0L, pv)), k = 200, nprobe = 2)
      .select("probe_id", "vec_id", "dist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val pre = probe()
    Similarity.compactIvfPqIndex(spark, idx, batchId = 2L, maxRowsPerFile = 20L)
    assert(probe() === pre) // salting is write-layout only
    // the hot cell's dir holds SEVERAL bounded files, not one giant one
    val hotCell = spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id") === 0L).head().getAs[Int]("cell")
    def filesIn(cell: Int): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/codes"))
      try st.filter(p => p.toString.contains(s"cell=$cell") &&
        p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    assert(filesIn(hotCell) > 1,
      s"hot cell $hotCell should split under maxRowsPerFile=20, " +
        s"got ${filesIn(hotCell)} file(s)")
  }

  test("IVF-PQ trainFraction: sampled fits still encode every vector; 1.0 is bit-identical") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nVecs = e.count()
    val sampled = java.nio.file.Files.createTempDirectory("graft-ivfpq-tf").toString
    Similarity.buildIvfPqIndex(e, sampled, trainFraction = 0.5)
    // the dial trades TRAINING data only: the codes table is complete
    // and the artifact shapes are unchanged
    val codes = spark.read.parquet(s"$sampled/codes")
    assert(codes.select("vec_id").distinct().count() === nVecs)
    assert(spark.read.parquet(s"$sampled/centroids").count() === 8L)
    assert(spark.read.parquet(s"$sampled/codebooks").count() === 8L * 16L)
    // an exact-copy probe still retrieves its source vector first: the
    // sampled quantizer is coarser, not broken
    val pv = e.selectExpr("cast(embedding as array<double>) as v")
      .filter(col("vec_id") === 0).head().getSeq[Double](0).toArray
    val top = Similarity.queryIvfPqIndex(spark, sampled, Seq((9999L, pv)),
      k = 5, nprobe = 8).collect()
    assert(top.length === 5 && top.head.getLong(1) === 0L)
    // trainFraction = 1.0 takes the unsampled path: bit-identical
    // artifacts to the default build (existing indexes never shift)
    val a = java.nio.file.Files.createTempDirectory("graft-ivfpq-tfa").toString
    val b = java.nio.file.Files.createTempDirectory("graft-ivfpq-tfb").toString
    Similarity.buildIvfPqIndex(vecs, a, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    Similarity.buildIvfPqIndex(vecs, b, nlist = 2, m = 8, codebookSize = 2,
      dim = 64, trainFraction = 1.0)
    def dump(dir: String, what: String) =
      spark.read.parquet(s"$dir/$what").collect().map(_.toSeq).toSet
    Seq("centroids", "codebooks", "codes").foreach { w =>
      assert(dump(a, w) === dump(b, w), s"$w differ between 1.0 and default")
    }
    val err = intercept[IllegalArgumentException] {
      Similarity.buildIvfPqIndex(vecs, a, trainFraction = 0.0)
    }
    assert(err.getMessage.contains("trainFraction"))
  }

  test("IVF-PQ rebuild: committed generation ≡ from-scratch, self-drift 0.0, time travel, rollback") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-reb").toString
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the drifted premise: the quantizer trained on a biased slice, the
    // committed corpus has since grown to the full table via appends
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") % 3 === 0), idx)
    Similarity.appendToIvfPqIndex(e.filter(col("vec_id") % 3 =!= 0), idx,
      batchId = 1L)
    val probes = e.selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "dist", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val pre = probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 50, nprobe = 3))
    // REBUILD as generation 1: retrain over the committed corpus
    Similarity.rebuildIvfPqIndex(e, idx, generation = 1L)
    // (a) rebuild ≡ from-scratch: a twin built from the same semi-join
    // source frame (same fixed seed, same rows) probes bit-identically
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-scr").toString
    Similarity.buildIvfPqIndex(
      e.join(Similarity.indexedVecIds(spark, idx), Seq("vec_id"), "left_semi"),
      scratch)
    val reb = probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 50, nprobe = 3))
    assert(reb === probeSet(
      Similarity.queryIvfPqIndex(spark, scratch, probes, 50, nprobe = 3)))
    assert(reb.nonEmpty)
    // (b) the q183 loop CLOSES: re-assigning the index's own corpus
    // under the new frozen centroids reproduces the committed occupancy
    // exactly — PSI is 0.0, not "small"
    val drift = Similarity.cellOccupancyDrift(spark, idx, e).head()
    assert(drift.getDouble(2) === 0.0 && !drift.getBoolean(3))
    // (c) TIME TRAVEL: the retained generation 0 reproduces the
    // pre-rebuild probe results bit-identically
    assert(probeSet(Similarity.queryIvfPqIndexAt(spark, idx, 0L, probes,
      50, nprobe = 3)) === pre)
    // (d) appends extend the ACTIVE generation only
    val extra = e.filter(col("vec_id") === 0).withColumn("vec_id", lit(9000L))
    Similarity.appendToIvfPqIndex(extra, idx, batchId = 1L)
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 10000,
      nprobe = 8)).exists(_._2 == 9000L))
    assert(probeSet(Similarity.queryIvfPqIndexAt(spark, idx, 0L, probes,
      50, nprobe = 3)) === pre)
    // (e) a replayed rebuild no-ops (the appended vector survives)
    Similarity.rebuildIvfPqIndex(e, idx, generation = 1L)
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 10000,
      nprobe = 8)).exists(_._2 == 9000L))
    // (f) ROLLBACK is one ledger commit: generation 0 serves again,
    // bit-identical to the pre-rebuild snapshot; a replayed rebuild of
    // generation 1 after the rollback must NOT silently re-activate it
    Similarity.rollbackIvfPqIndex(spark, idx, generation = 0L)
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 50,
      nprobe = 3)) === pre)
    Similarity.rebuildIvfPqIndex(e, idx, generation = 1L)
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 50,
      nprobe = 3)) === pre)
    // roll forward again: the appended vector is still in generation 1
    Similarity.rollbackIvfPqIndex(spark, idx, generation = 1L)
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 10000,
      nprobe = 8)).exists(_._2 == 9000L))
    // a never-retained generation fails loudly
    val err = intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndexAt(spark, idx, 7L, probes, 5)
    }
    assert(err.getMessage.contains("not retained"))
    // (g) streaming ingest resolves the ACTIVE generation too: the
    // drained shard encodes under generation 1's artifacts and never
    // leaks into the retained generation 0
    val arr = java.nio.file.Files.createTempDirectory("graft-reb-arr").toString
    e.filter(col("vec_id") === 5).withColumn("vec_id", lit(9500L))
      .coalesce(1).write.mode("append").parquet(arr)
    graft.streaming.IndexStream.startIngest(spark, arr, e.schema, idx,
        java.nio.file.Files.createTempDirectory("graft-reb-ck").toString,
        batchIdBase = 5L)
      .awaitTermination()
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 10000,
      nprobe = 8)).exists(_._2 == 9500L))
    assert(!probeSet(Similarity.queryIvfPqIndexAt(spark, idx, 0L, probes,
      10000, nprobe = 8)).exists(_._2 == 9500L))
    // (h) the flat root retires only once the ledger stops retaining it
    val exRet = intercept[IllegalArgumentException] {
      Similarity.retireLegacyIndexRoot(spark, idx)
    }
    assert(exRet.getMessage.contains("retained"))
    Similarity.rebuildIvfPqIndex(e, idx, generation = 2L, retain = 1)
    Similarity.retireLegacyIndexRoot(spark, idx)
    assert(!new java.io.File(s"$idx/codes").exists())
    val exTT = intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndexAt(spark, idx, 0L, probes, 5)
    }
    assert(exTT.getMessage.contains("not retained"))
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 50,
      nprobe = 3)).nonEmpty)
  }

  test("rebuildIfDrifted: stable shard commits nothing, drifted shard flips the ledger") {
    val idx = java.nio.file.Files.createTempDirectory("graft-driftloop-s").toString
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e, idx)
    val r1 = Similarity.rebuildIfDrifted(spark, idx, e, e, generation = 1L).head()
    assert(r1.getDouble(2) === 0.0 && !r1.getBoolean(3) && !r1.getBoolean(4))
    // the monitor-only path leaves NO generation ledger behind
    assert(!new java.io.File(s"$idx/_generations").exists())
    val shifted = e.withColumn("embedding",
      expr("transform(embedding, x -> x + cast(2.0 as float))"))
    val r2 = Similarity.rebuildIfDrifted(spark, idx, e, shifted, generation = 1L).head()
    assert(r2.getDouble(2) > 0.0 && r2.getBoolean(3) && r2.getBoolean(4))
    assert(new java.io.File(s"$idx/_generations").exists())
    // the loop closed: the new generation's self-drift is exactly zero
    assert(Similarity.cellOccupancyDrift(spark, idx, e).head().getDouble(2) === 0.0)
  }

  test("append racing a rebuild fails loudly with the replay remediation, never loses the batch") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-race").toString
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 400), idx)
    val late = e.filter(col("vec_id") >= 400)
    // the race, deterministically provoked: the append resolves its
    // generation root, then a rebuild flips the active generation
    // before the append's publish lands
    val staleRoot = Similarity.activeIndexRoot(spark, idx)
    Similarity.rebuildIvfPqIndex(e.filter(col("vec_id") < 400), idx,
      generation = 1L)
    val ex = intercept[IllegalStateException] {
      Similarity.appendAtRoot(late, idx, staleRoot, batchId = 5L)
    }
    assert(ex.getMessage.contains("concurrent rebuild"))
    assert(ex.getMessage.contains("Re-run the append"))
    // the remediation works: the same-args replay encodes under the NEW
    // active generation (whose codes manifest has no record of batch 5)
    Similarity.appendToIvfPqIndex(late, idx, batchId = 5L)
    val served = Similarity.indexedVecIds(spark, idx)
      .filter(col("vec_id") >= 400).count()
    assert(served === late.count())
  }

  test("two-stage refine: exact re-rank returns exact distances over the ADC candidates") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-ref").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    val pv = vecs.selectExpr("cast(embedding as array<double>) as v")
      .filter("vec_id = 0").head().getSeq[Double](0).toArray
    val got = Similarity.queryIvfPqRefined(spark, idx, vecs,
      Seq((0L, pv)), k = 2, rerank = 3, nprobe = 2).collect()
    // the true nearest ranks first, and the refined distance is the
    // EXACT L2 (bit-equal to the brute-force baseline), not the ADC
    // approximation
    assert(got.head.getLong(1) === 1L)
    val exact = Similarity.exactL2TopK(vecs, Seq(0L), 1).collect().head
    assert(got.head.getDouble(2) === exact.getDouble(2))
  }

  test("randomProjection is deterministic, right-sized, and keeps near-parallel pairs close") {
    val proj = vecs.select(col("vec_id"),
      graft.functions.Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("p", Similarity.randomProjection(col("v"), outDim = 16, dim = 64))
    val rows = proj.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    assert(rows.values.forall(_.length === 16))
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // vec 0 and 1 are near-parallel in 64d; the projection must keep them so
    assert(cos(rows(0L), rows(1L)) > 0.99)
    // deterministic across evaluations (literal matrix, no RNG state)
    val again = proj.collect().map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    assert(rows.keys.forall(k => rows(k).sameElements(again(k))))
  }

  test("lshTopK candidates agree with brute force within the bucket") {
    val got = Similarity.lshTopK(vecs, Seq(0L), k = 2, nPlanes = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = Similarity.topKvsQuery(vecs, 0L, 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(brute)) // LSH returns a subset (same bucket only)
    assert(got.contains(1L))    // the near-parallel vector shares the bucket
  }

  test("contrastivePairs matches a window-argmax reference and honors the cosine bands") {
    import org.apache.spark.sql.expressions.Window
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.contrastivePairs(embs, nPlanes = 4,
      posCos = 0.35, negLo = 0.15).collect()
    assert(got.nonEmpty, "fixture corpus must yield at least one triplet")
    assert(got.map(_.getLong(0)).distinct.length === got.length) // one triplet per anchor
    got.foreach { r =>
      assert(r.getDouble(2) >= 0.35, s"pos_cos out of band: $r")
      assert(r.getDouble(4) >= 0.15 && r.getDouble(4) < 0.35, s"neg_cos out of band: $r")
      assert(r.getLong(1) != r.getLong(0) && r.getLong(3) != r.getLong(0))
    }
    // reference: same candidates, argmax via window row_number
    val e = embs.select(col("vec_id"),
      graft.functions.Vectors.asDouble(col("embedding")).as("v"))
    val b = e.select(col("vec_id"), col("v"),
      Similarity.hyperplaneBucket(col("v"), 4, 64).as("bucket"))
    val cand = b.select(col("vec_id").as("anchor_id"), col("v").as("va"), col("bucket"))
      .join(b.select(col("vec_id"), col("v").as("vb"), col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        round(graft.functions.Vectors.cosine(col("va"), col("vb")), 6).as("cos"))
    val w = Window.partitionBy(col("anchor_id")).orderBy(col("cos").desc, col("vec_id"))
    def pick(f: org.apache.spark.sql.Column) = cand.filter(f)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val ref = pick(col("cos") >= 0.35)
      .select(col("anchor_id"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
      .join(pick(col("cos") >= 0.15 && col("cos") < 0.35)
        .select(col("anchor_id"), col("vec_id").as("neg_id"), col("cos").as("neg_cos")),
        Seq("anchor_id"))
      .collect()
    assert(got.map(_.toSeq).toSet === ref.map(_.toSeq).toSet)
  }

  test("duplicatedSpans merges overlapping grams and counts within-doc repeats") {
    val spanDocs = Seq(
      // docs 0/1 share the 5-grams "a b c d e" and "b c d e f": each
      // doc's two marked positions overlap and merge into ONE 6-token span
      (0L, "a b c d e f g h", "en", "s", 0L),
      (1L, "x a b c d e f y", "en", "s", 0L),
      (2L, "p q r s t u v w", "en", "s", 0L), // fully unique: no rows
      // "m n o p q" repeats WITHIN doc 3 (positions 1 and 10): both
      // occurrences are duplicated substrings, gap 9 >= k keeps them
      // separate spans
      (3L, "m n o p q z y x w m n o p q", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = Dedup.duplicatedSpans(spanDocs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set(
      (0L, 1L, 6L, 6L),
      (1L, 2L, 7L, 6L),
      (3L, 1L, 5L, 5L),
      (3L, 10L, 14L, 5L)))
    // and the scrub drops exactly the span tokens, reassembling in order
    val clean = Dedup.scrubDuplicatedSpans(spanDocs, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(clean(0L) === ((8L, 6L, "g h")))
    assert(clean(1L) === ((8L, 6L, "x y")))
    assert(clean(2L) === ((8L, 0L, "p q r s t u v w"))) // untouched
    assert(clean(3L) === ((14L, 10L, "z y x w")))
  }

  test("index pins: a codes pin holds the pre-delete snapshot through retain=1 sweeps") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def freshIdx(tag: String): String = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-ivfpq-pin$tag").toString
      Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 40), idx,
        nlist = 2, m = 8, codebookSize = 2, dim = 64)
      Similarity.appendToIvfPqIndex(
        e.filter(col("vec_id") >= 40 && col("vec_id") < 60), idx, batchId = 1L)
      idx
    }
    def idsBefore(idx: String, b: Long) =
      Similarity.indexedVecIdsBefore(spark, idx, b)
        .collect().map(_.getLong(0)).toSet
    val idx = freshIdx("a")
    val preIds = idsBefore(idx, 2L)
    assert(preIds === (0L until 60L).toSet)
    // pin BELOW the takedown's batch; the delete consolidates every
    // live dir into one and retain=1 would sweep the pre-delete dirs
    assert(Similarity.pinCodes(spark, idx, "audit", 2L) >= 0L)
    Similarity.deleteFromIvfPqIndex(spark, idx, Seq(0L, 41L),
      batchId = 2L, retain = 1)
    assert(idsBefore(idx, 2L) === preIds, "pinned codes snapshot must survive")
    assert(Similarity.indexedVecIds(spark, idx).collect()
      .map(_.getLong(0)).toSet === preIds -- Set(0L, 41L))
    // sibling, identical lineage, NO pin: the pre-delete dirs are
    // swept — the pin above is causal
    val sib = freshIdx("b")
    Similarity.deleteFromIvfPqIndex(spark, sib, Seq(0L, 41L),
      batchId = 2L, retain = 1)
    intercept[Exception] { idsBefore(sib, 2L) }
    // released: the NEXT codes commit's sweep reclaims the held dirs
    assert(Similarity.unpinCodes(spark, idx, "audit"))
    Similarity.deleteFromIvfPqIndex(spark, idx, Seq(45L),
      batchId = 3L, retain = 1)
    intercept[Exception] { idsBefore(idx, 2L) }
    // pinning with no codes commit below the boundary fails fast
    intercept[IllegalArgumentException] {
      Similarity.pinCodes(spark, freshIdx("c"), "early", 0L)
    }
    // pin-vs-sweep race guard: a snapshot whose dirs a sweep already
    // reclaimed cannot be pinned — the post-publish re-check removes
    // the token and fails with remediation
    val raced = freshIdx("d")
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(s"$raced/codes/batch=0"))
    val err = intercept[IllegalStateException] {
      Similarity.pinCodes(spark, raced, "late", 2L)
    }
    assert(err.getMessage.contains("raced a concurrent retention sweep"))
  }

  test("index pins: a generation pin keeps its generation in the ledger through rebuilds") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-genpin").toString
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e, idx, nlist = 2, m = 8, codebookSize = 2,
      dim = 64)
    val probes = e.selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "dist", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // gen 1 trains on a biased slice so its probes differ observably
    Similarity.rebuildIvfPqIndex(e.filter(col("vec_id") % 2 === 0), idx,
      generation = 1L, nlist = 2, m = 8, codebookSize = 2, dim = 64,
      retain = 1)
    val atGen1 = probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 20,
      nprobe = 2))
    // a pin of a generation the ledger no longer retains fails fast
    intercept[IllegalArgumentException] {
      Similarity.pinGeneration(spark, idx, "late", 0L)
    }
    Similarity.pinGeneration(spark, idx, "hold", 1L)
    assert(Similarity.listGenerationPins(spark, idx) === Map("hold" -> 1L))
    // retain=1 rebuilds would retire gen 1; the pin keeps it in the
    // ledger, so time travel AND rollback stay valid on it
    Similarity.rebuildIvfPqIndex(e, idx, generation = 2L, retain = 1)
    Similarity.rebuildIvfPqIndex(e.filter(col("vec_id") % 3 === 0), idx,
      generation = 3L, retain = 1)
    assert(probeSet(Similarity.queryIvfPqIndexAt(spark, idx, 1L, probes, 20,
      nprobe = 2)) === atGen1, "pinned generation must keep serving")
    // the UNpinned generation 2 was retired by the same retention
    val err = intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndexAt(spark, idx, 2L, probes, 5)
    }
    assert(err.getMessage.contains("not retained"))
    assert(!new java.io.File(s"$idx/gen=2").exists())
    // released: the next rebuild's dirs-bounding drops gen 1 and the
    // sweep reclaims its artifacts
    assert(Similarity.unpinGeneration(spark, idx, "hold"))
    Similarity.rebuildIvfPqIndex(e, idx, generation = 4L, retain = 1)
    intercept[IllegalArgumentException] {
      Similarity.queryIvfPqIndexAt(spark, idx, 1L, probes, 5)
    }
    assert(!new java.io.File(s"$idx/gen=1").exists())
    assert(probeSet(Similarity.queryIvfPqIndex(spark, idx, probes, 20,
      nprobe = 2)).nonEmpty)
    // pin-vs-maintenance race guard: the ledger names a generation
    // whose dir a concurrent sweep reclaimed — the post-publish
    // re-check removes the token and fails with remediation
    Similarity.rebuildIvfPqIndex(e, idx, generation = 5L, retain = 2)
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(s"$idx/gen=4"))
    val raceErr = intercept[IllegalStateException] {
      Similarity.pinGeneration(spark, idx, "late", 4L)
    }
    assert(raceErr.getMessage.contains("raced a concurrent rebuild"))
    assert(Similarity.listGenerationPins(spark, idx) === Map.empty)
    // an expired generation pin stops holding and its token collects
    Similarity.pinGeneration(spark, idx, "leak", 5L, expiresAtMillis = 1L)
    assert(Similarity.listGenerationPins(spark, idx) === Map.empty)
  }

  test("fsckIndex: healthy flat and generational indexes all-ok; damage reported, never thrown") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft-fsck-idx").toString
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 40), idx,
      nlist = 2, m = 8, codebookSize = 2, dim = 64)
    def fsck(d: String) = Similarity.fsckIndex(spark, d)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    // flat pre-generation index: zero ledger commits, still all-ok
    val flat = fsck(idx)
    assert(flat.values.forall(_._1), s"healthy flat index must pass: $flat")
    assert(flat("ledger_parseable") === ((true, 0L)))
    // appends + a rebuild: the generational shape passes too
    Similarity.appendToIvfPqIndex(
      e.filter(col("vec_id") >= 40 && col("vec_id") < 60), idx, batchId = 1L)
    Similarity.rebuildIvfPqIndex(e.filter(col("vec_id") < 60), idx,
      generation = 1L, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    Similarity.appendToIvfPqIndex(
      e.filter(col("vec_id") >= 60 && col("vec_id") < 70), idx, batchId = 1L)
    val healthy = fsck(idx)
    assert(healthy.values.forall(_._1), s"healthy gen index must pass: $healthy")
    assert(healthy("ledger_parseable")._2 === 1L)
    // damage #1: stale inflight litter (a crashed stage)
    assert(new java.io.File(s"$idx/.inflight-gen-9").mkdirs())
    // damage #2: an unreferenced batch dir under the active codes
    assert(new java.io.File(s"$idx/gen=1/codes/batch=99").mkdirs())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"$idx/gen=1/codes/batch=99/junk.parquet"), "junk")
    // damage #3: a dir the latest codes manifest names vanishes
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmrf(java.nio.file.Paths.get(s"$idx/gen=1/codes/batch=1"))
    val damaged = fsck(idx)
    assert(!damaged("no_stale_inflight")._1)
    assert(!damaged("no_orphan_codes")._1 && damaged("no_orphan_codes")._2 === 1L)
    assert(!damaged("codes_dirs_exist")._1)
    assert(damaged("ledger_parseable")._1 && damaged("codes_manifests_parseable")._1)
    // damage #4: the active generation's artifacts vanish wholesale
    rmrf(java.nio.file.Paths.get(s"$idx/gen=1/centroids"))
    val worse = fsck(idx)
    assert(!worse("active_artifacts_complete")._1)
  }

  test("IVF-PQ upsert: old codes hide, replacements serve, time travel keeps the past, fold drops physically") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-ups").toString
    Similarity.buildIvfPqIndex(vecs, idx, nlist = 2, m = 8, codebookSize = 2, dim = 64)
    def ids() = Similarity.indexedVecIds(spark, idx)
      .collect().map(_.getLong(0)).toSet
    assert(ids() === Set(0L, 1L, 2L))
    // upsert: vec 1 moves to the orthogonal direction; vec 2 is removed
    val v2dir = (0 until 64).map(i => (if (i % 2 == 0) 1.0f else -1.0f))
    val moved = Seq((1L, v2dir, 1)).toDF("vec_id", "embedding", "label")
    Similarity.upsertIntoIvfPqIndex(moved, Seq(1L, 2L), idx, batchId = 1L)
    assert(ids() === Set(0L, 1L))
    // the REPLACEMENT serves: vec 1 now encodes like old vec 2 (same
    // direction => same cell + codes), so a probe along that direction
    // finds it
    val pv = v2dir.map(_.toDouble).toArray
    val got = Similarity.queryIvfPqIndex(spark, idx, Seq((99L, pv)), k = 1,
      nprobe = 1).collect()
    assert(got.head.getLong(1) === 1L)
    // a probe along vec 1's OLD direction no longer returns the stale code
    val oldDir = (0 until 64).map(i => 1.0 + i * 0.01).toArray
    val near = Similarity.queryIvfPqIndex(spark, idx, Seq((99L, oldDir)),
      k = 2, nprobe = 2).collect().map(_.getLong(1)).toSet
    assert(near === Set(0L, 1L), "only live rows serve")
    // time travel BELOW the upsert sees the exact old state
    assert(Similarity.indexedVecIdsBefore(spark, idx, 1L)
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    // replayed commit lands nothing new
    Similarity.upsertIntoIvfPqIndex(moved, Seq(1L, 2L), idx, batchId = 1L)
    assert(ids() === Set(0L, 1L))
    // removal-only commit (a takedown window with no replacements)
    Similarity.upsertIntoIvfPqIndex(moved.limit(0), Seq(0L), idx, batchId = 2L)
    assert(ids() === Set(1L))
    // the FOLD makes removals physical and GCs inert tokens; reads equal
    val preFold = Similarity.queryIvfPqIndex(spark, idx, Seq((99L, pv)),
      k = 3, nprobe = 2).collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    Similarity.compactIvfPqIndex(spark, idx, batchId = 3L)
    val postFold = Similarity.queryIvfPqIndex(spark, idx, Seq((99L, pv)),
      k = 3, nprobe = 2).collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(postFold === preFold)
    assert(spark.read.parquet(s"$idx/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L),
      "the fold physically dropped the hidden rows")
    assert(!new java.io.File(s"$idx/codes/_removals").exists() ||
      new java.io.File(s"$idx/codes/_removals").listFiles()
        .count(_.getName.endsWith(".json")) === 0,
      "inert tokens are collected by the fold's sweep")
    // external corruption of a removal token: fsck flags it red (the
    // report-not-throw posture) and reads fail loudly, never silently
    // serve rows an upsert had hidden
    val remDir = new java.io.File(s"$idx/codes/_removals")
    remDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(remDir, "r0000000000000000004.json").toPath,
      "garbage".getBytes("UTF-8"))
    val fsck = Similarity.fsckIndex(spark, idx)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!fsck("removal_tokens_parseable"))
    assert(intercept[IllegalStateException] {
      Similarity.indexedVecIds(spark, idx).collect()
    }.getMessage.contains("unparseable removal token"))
  }

  test("syncIndexFromFeed keeps a serving index fresh from a table's change feed, exactly-once") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val base = java.nio.file.Files.createTempDirectory("graft-idx-feed").toString
    val src = s"$base/src"
    val idx = s"$base/idx"
    def embRow(id: Long, b: Double) =
      (id, (0 until 64).map(i => (b + i * 0.01).toFloat), 0, 0L)
    def merge(rows: Seq[(Long, IndexedSeq[Float], Int, Long)], bid: Long) =
      EventStreams.mergeBatchIntoTable(
        rows.toDF("vec_id", "embedding", "label", "__v"), src,
        Seq("vec_id"), "__v", nBuckets = 4, batchId = bid, retain = 8,
        delta = true)
    merge((0L until 6L).map(k => embRow(k, 1.0 + k * 0.3)), 0L)
    Similarity.buildIvfPqIndex(
      EventStreams.readUpsertTable(spark, src), idx,
      nlist = 2, m = 8, codebookSize = 2, dim = 64)
    EventStreams.bootstrapFeedCursor(spark, src, "idx")
    // already current: a sync is a no-op
    assert(Similarity.syncIndexFromFeed(spark, src, idx, "idx") === None)
    // window: vec 0 moves, vec 6 arrives, vec 3 is taken down
    merge(Seq(embRow(0L, 9.0).copy(_4 = 1L), embRow(6L, 2.5)), 1L)
    EventStreams.deleteFromTable(spark, src, Seq(3L).toDF("vec_id"),
      Seq("vec_id"), nBuckets = 4, batchId = 2L, retain = 8)
    assert(Similarity.syncIndexFromFeed(spark, src, idx, "idx") ===
      Some((0L, 2L, 2L, 1L)))
    def ids() = Similarity.indexedVecIds(spark, idx)
      .collect().map(_.getLong(0)).toSet
    assert(ids() === Set(0L, 1L, 2L, 4L, 5L, 6L))
    // the index serves the MOVED vector: a probe at its new position
    // finds vec 0 nearest
    val pv = (0 until 64).map(i => 9.0 + i * 0.01).toArray
    val got = Similarity.queryIvfPqIndex(spark, idx, Seq((99L, pv)), k = 1,
      nprobe = 2).collect()
    assert(got.head.getLong(1) === 0L)
    // replayed sync: cursor at the watermark — no-op, index unchanged
    assert(Similarity.syncIndexFromFeed(spark, src, idx, "idx") === None)
    assert(ids() === Set(0L, 1L, 2L, 4L, 5L, 6L))
    // the serving loop composes with the index fold
    Similarity.compactIvfPqIndex(spark, idx, batchId = 10L)
    assert(ids() === Set(0L, 1L, 2L, 4L, 5L, 6L))
  }

  test("q199 on a generated embeddings table (64-dim unit vectors, 10 labels): every check holds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the benchmark generator's embeddings shape and stream (seed 1):
    // 500 gaussian vectors normalized to unit length, labels in [0, 10)
    val r = new java.util.Random(1L * 1000003L + 9)
    val rows = (0 until 500).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-q199-gen").toString
    val table = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    table.write.parquet(s"$dir/embeddings.parquet")
    val checks = SparkEntry.q199IndexFeedSync(spark, dir).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(checks.size === 7 && checks.values.forall(identity), s"q199 checks: $checks")
    // q199's index trains on the first 24 vectors: single-vector cells
    // leave all-zero residuals, so a subspace fit finds fewer than
    // codebookSize distinct points — the codebook still holds every code
    val idx = java.nio.file.Files.createTempDirectory("graft-q199-idx").toString
    Similarity.buildIvfPqIndex(table.filter(col("vec_id") < 24), idx)
    val sizes = spark.read.parquet(s"$idx/codebooks").groupBy("subspace").count()
      .collect().map(_.getLong(1)).toSet
    assert(sizes === Set(16L))
  }
}
