package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Packing, Rag, Similarity, Takedown}
import graft.streaming.EventStreams
import graft.functions.Texts

class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs = (0L until 12L).map { i =>
    (i, (0 until 20).map(j => s"w${i}_$j").mkString(" "), "en")
  }.toDF("doc_id", "text", "lang")

  private def cheapToks(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
      expr("transform(filter(split(text, ' '), x -> x <> ''), " +
        "t -> cast(pmod(xxhash64(t), 50) as int))").as("toks"))

  /** The crash injection's repair: the flat (manifest-less) table is
    * below the format floor, so it is deleted and rebuilt as a
    * committed table of the same rows.
    */
  private def rebuildFlat(flat: String, docs: org.apache.spark.sql.DataFrame): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(flat))
    EventStreams.mergeBatchIntoTable(docs.select(col("doc_id"), col("lang")),
      flat, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 0L)
  }

  test("one-call takedown: mid-walk crash + replay leaves every artifact from-scratch-equal") {
    val base = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    val docs = mkDocs
    val deleted = Seq(2L, 5L)
    val retained = docs.filter(!col("doc_id").isin(deleted: _*))
    val toks = cheapToks(docs)
    // ---- build the five artifact kinds + one flat legacy table ------
    val corpus = s"$base/corpus"
    EventStreams.mergeBatchIntoTable(docs.withColumn("__v", lit(0L)),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L)
    val sigstore = s"$base/sigstore"
    EventStreams.mergeBatchIntoTable(Dedup.portableMinhashSignatures(docs),
      sigstore, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 0L)
    val seqs = s"$base/seqs"
    Packing.materializeShardIncremental(toks, seqs, seqLen = 16, sepId = 99,
      batchId = 0L)
    val rag = s"$base/rag"
    Rag.indexShard(docs, rag, window = 8, stride = 4, dim = 16, nPlanes = 4,
      batchId = 0L)
    val idx = s"$base/idx"
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e, idx)
    val preCodes = spark.read.parquet(s"$idx/codes")
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    // the crash injection: a FLAT manifest-less keyed table —
    // deleteFromTable refuses it (below the format floor), killing the
    // walk after sequences/corpus/sigstore completed
    val flat = s"$base/flat"
    docs.select(col("doc_id"), col("lang")).coalesce(1)
      .write.mode("append").parquet(flat)
    val ledgerDir = s"$base/ledger"
    def request(): Unit = Takedown.deleteDocs(spark, deleted, batchId = 10L,
      ledgerDir = ledgerDir,
      sequences = Some((toks, seqs, 16, 99)),
      keyedTables = Seq((corpus, "doc_id", 4), (sigstore, "doc_id", 4),
        (flat, "doc_id", 4)),
      ragIndex = Some(rag), ivfPqIndex = Some(idx))
    // ---- crash mid-walk ---------------------------------------------
    val ex = intercept[EventStreams.FormatFloorException] { request() }
    assert(ex.getMessage.contains("flat root-level part files"))
    val after1 = Takedown.ledger(spark, ledgerDir, 10L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(after1 === Map("sequences-seqs" -> false, "table-corpus" -> false,
      "table-sigstore" -> false))
    // ---- repair (rebuild the flat table) + replay SAME args ----------
    rebuildFlat(flat, docs)
    request()
    val after2 = Takedown.ledger(spark, ledgerDir, 10L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(after2.keySet === Set("sequences-seqs", "table-corpus",
      "table-sigstore", "table-flat", "rag-rag", "ivfpq-idx"))
    assert(after2.values.forall(identity))
    // ---- every artifact equals its from-scratch-without-docs build --
    def keyedRows(dir: String, cols: String*) =
      EventStreams.readUpsertTable(spark, dir).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(keyedRows(corpus, "doc_id", "text", "lang") ===
      retained.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet)
    assert(keyedRows(sigstore, "doc_id") ===
      retained.select("doc_id").collect().map(_.toSeq).toSet)
    assert(keyedRows(flat, "doc_id") ===
      retained.select("doc_id").collect().map(_.toSeq).toSet)
    // sequences: exact layout equality vs a fresh build over retained
    val freshSeqs = s"$base/seqs-scratch"
    Packing.materializeShardIncremental(cheapToks(retained), freshSeqs,
      seqLen = 16, sepId = 99, batchId = 0L)
    def seqRows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .select("seq_id", "tokens", "doc_spans").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getLong(0), s.getLong(1), s.getLong(2))).toSeq))
      .toSet
    assert(seqRows(seqs) === seqRows(freshSeqs))
    assert(seqRows(seqs).nonEmpty)
    // rag: per-doc chunk derivations — survivors bit-identical to a
    // fresh index over the retained corpus
    val freshRag = s"$base/rag-scratch"
    Rag.indexShard(retained, freshRag, window = 8, stride = 4, dim = 16,
      nPlanes = 4, batchId = 0L)
    def ragRows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .select("chunk_key", "v", "bucket").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getLong(2))).toSet
    assert(ragRows(rag) === ragRows(freshRag))
    assert(ragRows(rag).nonEmpty)
    // ivfpq: frozen artifacts — post-delete codes are exactly the
    // pre-delete codes minus the deleted vectors
    val postCodes = spark.read.option("basePath", s"$idx/codes")
      .parquet(s"$idx/codes/batch=10")
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    assert(postCodes === preCodes.filterNot(c => deleted.contains(c._1)))
    // ---- audit: no committed artifact anywhere still references them
    val audit = Takedown.auditDocs(spark, deleted,
      sequenceTable = Some(seqs),
      keyedTables = Seq((corpus, "doc_id"), (sigstore, "doc_id"),
        (flat, "doc_id")),
      ragIndex = Some(rag), ivfPqIndex = Some(idx))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.keySet === Set("sequences-seqs", "sequences-state-seqs",
      "table-corpus", "table-sigstore", "table-flat", "rag-rag", "ivfpq-idx"))
    assert(audit.values.forall(_ === 0L), s"dangling references: $audit")
    // a retained doc still audits as present (the probe works both ways)
    val present = Takedown.auditDocs(spark, Seq(3L),
      keyedTables = Seq((corpus, "doc_id"))).head().getLong(1)
    assert(present === 1L)
    // ---- a completed request replays as a pure no-op ----------------
    request()
    assert(keyedRows(corpus, "doc_id").size === 10)
  }

  test("parallel takedown walk: same committed end state, failures settle per-artifact") {
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-par").toString
    val docs = mkDocs
    val deleted = Seq(1L, 7L)
    val retained = docs.filter(!col("doc_id").isin(deleted: _*))
    val toks = cheapToks(docs)
    val corpus = s"$base/corpus"
    EventStreams.mergeBatchIntoTable(docs.withColumn("__v", lit(0L)),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L)
    val sigstore = s"$base/sigstore"
    EventStreams.mergeBatchIntoTable(Dedup.portableMinhashSignatures(docs),
      sigstore, Seq("doc_id"), "doc_id", nBuckets = 4, batchId = 0L)
    val seqs = s"$base/seqs"
    Packing.materializeShardIncremental(toks, seqs, seqLen = 16, sepId = 99,
      batchId = 0L)
    val rag = s"$base/rag"
    Rag.indexShard(docs, rag, window = 8, stride = 4, dim = 16, nPlanes = 4,
      batchId = 0L)
    // a flat manifest-less table makes ONE artifact fail while its siblings
    // run concurrently: the walk must settle every in-flight step (the
    // survivors' tokens land), rethrow, and leave _complete absent
    val flat = s"$base/flat"
    docs.select(col("doc_id"), col("lang")).coalesce(1)
      .write.mode("append").parquet(flat)
    val ledgerDir = s"$base/ledger"
    def request(): Unit = Takedown.deleteDocs(spark, deleted, batchId = 10L,
      ledgerDir = ledgerDir,
      sequences = Some((toks, seqs, 16, 99)),
      keyedTables = Seq((corpus, "doc_id", 4), (sigstore, "doc_id", 4),
        (flat, "doc_id", 4)),
      ragIndex = Some(rag), concurrency = 4)
    val ex = intercept[EventStreams.FormatFloorException] { request() }
    assert(ex.getMessage.contains("flat root-level part files"))
    val after1 = Takedown.ledger(spark, ledgerDir, 10L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(after1 === Map("sequences-seqs" -> false, "table-corpus" -> false,
      "table-sigstore" -> false, "rag-rag" -> false),
      "every concurrent sibling of the failed artifact must settle and token")
    // repair + parallel replay completes exactly the remainder
    rebuildFlat(flat, docs)
    request()
    val after2 = Takedown.ledger(spark, ledgerDir, 10L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(after2.keySet === Set("sequences-seqs", "table-corpus",
      "table-sigstore", "table-flat", "rag-rag"))
    assert(after2.values.forall(identity))
    // end state identical to the serial walk's contract: every artifact
    // equals its from-scratch-without-docs build
    def keyedRows(dir: String, cols: String*) =
      EventStreams.readUpsertTable(spark, dir).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(keyedRows(corpus, "doc_id", "text", "lang") ===
      retained.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet)
    assert(keyedRows(sigstore, "doc_id") ===
      retained.select("doc_id").collect().map(_.toSeq).toSet)
    assert(keyedRows(flat, "doc_id") ===
      retained.select("doc_id").collect().map(_.toSeq).toSet)
    val freshSeqs = s"$base/seqs-scratch"
    Packing.materializeShardIncremental(cheapToks(retained), freshSeqs,
      seqLen = 16, sepId = 99, batchId = 0L)
    def seqRows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .select("seq_id", "tokens", "doc_spans").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getLong(0), s.getLong(1), s.getLong(2))).toSeq))
      .toSet
    assert(seqRows(seqs) === seqRows(freshSeqs) && seqRows(seqs).nonEmpty)
    val audit = Takedown.auditDocs(spark, deleted,
      sequenceTable = Some(seqs),
      keyedTables = Seq((corpus, "doc_id"), (sigstore, "doc_id"),
        (flat, "doc_id")),
      ragIndex = Some(rag))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.values.forall(_ === 0L), s"dangling references: $audit")
    // completed request replays as a no-op at full concurrency
    request()
    assert(keyedRows(corpus, "doc_id").size === 10)
  }

  test("takedown with export remediation: one call forgets docs in the exported shard files too") {
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-exp").toString
    val docs = mkDocs
    val deleted = Seq(5L)
    val toks = cheapToks(docs)
    val (seqs, shardTable, prov, export) =
      (s"$base/seqs", s"$base/shards", s"$base/prov", s"$base/export")
    Packing.materializeShardIncremental(toks, seqs, seqLen = 16, sepId = 99,
      batchId = 0L)
    val sharded = Packing.trainingShards(
        EventStreams.readUpsertTable(spark, seqs), seqsPerShard = 4)
      .drop("u").localCheckpoint()
    EventStreams.mergeBatchIntoTable(sharded, shardTable,
      Seq("seq_id"), "seq_id", nBuckets = 8, batchId = 0L)
    EventStreams.mergeBatchIntoTable(
      sharded.select(col("shard_id"), col("seq_id"),
          explode(col("doc_spans")).as("sp"))
        .select(col("shard_id"), col("seq_id"), col("sp.doc_id").as("doc_id"),
          col("sp.start").as("start"), col("sp.len").as("len")),
      prov, Seq("seq_id", "doc_id"), "seq_id", nBuckets = 8, batchId = 0L)
    Packing.exportShardFiles(spark, shardTable, export)
    val ledgerDir = s"$base/ledger"
    val cutExpected = Packing.firstTouchedSeq(spark, prov, deleted).get
    def request(): Unit = Takedown.deleteDocs(spark, deleted, batchId = 10L,
      ledgerDir = ledgerDir,
      sequences = Some((toks, seqs, 16, 99)),
      export = Some((shardTable, prov, export)))
    request()
    // ledger sealed, cut committed with the pre-takedown lineage value
    val ledger = Takedown.ledger(spark, ledgerDir, 10L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(ledger === Map("sequences-seqs" -> true, "export-export" -> true))
    val cutPath = java.nio.file.Paths.get(ledgerDir, "batch=10",
      "export-export.cut")
    assert(java.nio.file.Files.readString(cutPath).trim
      === cutExpected.toString)
    // the export equals the frozen-map expectation and carries no
    // deleted text anywhere
    def exportState() = spark.read.parquet(export)
      .select(col("seq_id"), col("tokens"), col("rank"),
        col("shard_id").cast("long").as("shard_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
        r.getLong(2), r.getLong(3))).toSet
    val expected = EventStreams.readUpsertTable(spark, seqs)
      .join(EventStreams.readUpsertTable(spark, shardTable)
        .select(col("seq_id"), col("rank"), col("shard_id")), Seq("seq_id"))
      .select(col("seq_id"), col("tokens"), col("rank"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
        r.getLong(2), r.getLong(3))).toSet
    assert(exportState() === expected && expected.nonEmpty)
    val audit = Takedown.auditDocs(spark, deleted,
      sequenceTable = Some(seqs), exportProv = Some(prov))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.keySet === Set("sequences-seqs", "sequences-state-seqs",
      "export-prov"))
    assert(audit.values.forall(_ === 0L), s"dangling references: $audit")
    // the nastiest crash window: the re-export COMPLETED but its token
    // never landed — provenance no longer holds the deleted docs'
    // lineage, so a replay that re-derived the cut would see None and
    // skip the (already-done) work with a DIFFERENT recorded cut; the
    // committed .cut token must drive the replay to the identical state
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ledgerDir, "batch=10", "export-export.done"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(ledgerDir, "batch=10", "_complete.done"))
    request()
    assert(exportState() === expected)
    assert(java.nio.file.Files.readString(cutPath).trim
      === cutExpected.toString)
    assert(Takedown.ledger(spark, ledgerDir, 10L).collect()
      .forall(_.getBoolean(1)))
    // a full replay of the sealed request is a pure no-op
    request()
    assert(exportState() === expected)
    // ---- second request with the FOLD enabled: whatever holes the
    // re-lay left, the map must read dense after (fold ran) or have
    // been dense already (fold no-oped behind its monitor) — and the
    // export must equal the table either way
    def request2(): Unit = Takedown.deleteDocs(spark, Seq(9L), batchId = 20L,
      ledgerDir = ledgerDir,
      sequences = Some((toks, seqs, 16, 99)),
      export = Some((shardTable, prov, export)),
      rebalance = Some((4, 1.0)))
    request2()
    val ledger2 = Takedown.ledger(spark, ledgerDir, 20L).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(ledger2 === Map("sequences-seqs" -> true, "export-export" -> true,
      "rebalance-export" -> true))
    val mapNow = EventStreams.readUpsertTable(spark, shardTable)
      .select(col("seq_id"), col("rank"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mapNow.map(_._2).sorted.toSeq === (0L until mapNow.length.toLong),
      "map must be dense after a minFill=1.0 fold request")
    val expected2 = EventStreams.readUpsertTable(spark, seqs)
      .join(EventStreams.readUpsertTable(spark, shardTable)
        .select(col("seq_id"), col("rank"), col("shard_id")), Seq("seq_id"))
      .select(col("seq_id"), col("tokens"), col("rank"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
        r.getLong(2), r.getLong(3))).toSet
    assert(exportState() === expected2 && expected2.nonEmpty)
    // the composed request replays as a pure no-op too
    request2()
    assert(exportState() === expected2)
  }

  test("auditDocsAt pins one batch boundary: stable mid-walk where the latest audit is mixed") {
    val base = java.nio.file.Files.createTempDirectory("graft-auditat").toString
    val docs = mkDocs
    val deleted = Seq(2L, 5L)
    val toks = cheapToks(docs)
    val corpus = s"$base/corpus"
    EventStreams.mergeBatchIntoTable(docs.withColumn("__v", lit(0L)),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L)
    val seqs = s"$base/seqs"
    Packing.materializeShardIncremental(toks, seqs, seqLen = 16, sepId = 99,
      batchId = 0L)
    val rag = s"$base/rag"
    Rag.indexShard(docs, rag, window = 8, stride = 4, dim = 16, nPlanes = 4,
      batchId = 0L)
    val idx = s"$base/idx"
    Similarity.buildIvfPqIndex(
      sources.Tables.embeddings(spark, "/root/testdata/sf0.001"), idx)
    // the crash injection (flat manifest-less table): the walk completes
    // sequences + corpus, fails on flat, never reaches rag/ivfpq
    val flat = s"$base/flat"
    docs.select(col("doc_id"), col("lang")).coalesce(1)
      .write.mode("append").parquet(flat)
    val ledgerDir = s"$base/ledger"
    def request(): Unit = Takedown.deleteDocs(spark, deleted, batchId = 10L,
      ledgerDir = ledgerDir,
      sequences = Some((toks, seqs, 16, 99)),
      keyedTables = Seq((corpus, "doc_id", 4), (flat, "doc_id", 4)),
      ragIndex = Some(rag), ivfPqIndex = Some(idx))
    def auditAt(pin: Long) = Takedown.auditDocsAt(spark, deleted, pin,
      sequenceTable = Some(seqs), keyedTables = Seq((corpus, "doc_id")),
      ragIndex = Some(rag), ivfPqIndex = Some(idx))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def auditLatest() = Takedown.auditDocs(spark, deleted,
      sequenceTable = Some(seqs), keyedTables = Seq((corpus, "doc_id")),
      ragIndex = Some(rag), ivfPqIndex = Some(idx))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val preAt = auditAt(10L)
    assert(preAt("sequences-seqs") > 0 && preAt("table-corpus") > 0 &&
      preAt("rag-rag") > 0 && preAt("ivfpq-idx") > 0)
    val ex = intercept[EventStreams.FormatFloorException] { request() } // crash mid-walk
    assert(ex.getMessage.contains("flat root-level part files"))
    // the LATEST audit is now MIXED — it neither confirms nor denies
    val mid = auditLatest()
    assert(mid("sequences-seqs") === 0L && mid("table-corpus") === 0L)
    assert(mid("rag-rag") > 0L && mid("ivfpq-idx") > 0L)
    // the PINNED audit is stable through the walk: identical to before
    assert(auditAt(10L) === preAt)
    // repair (rebuild the flat table) + replay to completion
    rebuildFlat(flat, docs)
    request()
    // post-walk: the pre pin STILL reads the pre-request world; a pin
    // past the request's id window reads the post-request world
    assert(auditAt(10L) === preAt)
    val post = auditAt(12L)
    assert(post.values.forall(_ === 0L), s"dangling at pin 12: $post")
    assert(auditLatest().values.forall(_ === 0L))
  }

  test("pinForAudit: durable pins hold the pinned audit past retention-consuming commits") {
    val base = java.nio.file.Files.createTempDirectory("graft-pinaudit").toString
    val docs = mkDocs
    val deleted = Seq(2L)
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def mkCorpus(dir: String): Unit =
      EventStreams.mergeBatchIntoTable(docs.withColumn("__v", lit(0L)),
        dir, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L)
    val corpus = s"$base/corpus"
    mkCorpus(corpus)
    val idx = s"$base/idx"
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 40), idx,
      nlist = 2, m = 8, codebookSize = 2, dim = 64)
    Similarity.appendToIvfPqIndex(
      e.filter(col("vec_id") >= 40 && col("vec_id") < 60), idx, batchId = 1L)
    // pins FIRST (the contract: take the hold before scheduling the
    // request), labeled by the request, at the request's boundary
    val pins = Takedown.pinForAudit(spark, "req10", 10L,
      keyedTables = Seq(corpus), ivfPqIndex = Some(idx))
    assert(pins.keySet === Set("table-corpus", "ivfpq-idx"))
    Takedown.deleteDocs(spark, deleted, batchId = 10L,
      ledgerDir = s"$base/ledger",
      keyedTables = Seq((corpus, "doc_id", 4)), ivfPqIndex = Some(idx))
    // retention-consuming aftermath: retain=1 commits whose sweeps
    // would reclaim the pre-request snapshot on an unpinned artifact
    EventStreams.mergeBatchIntoTable(
      docs.filter(col("doc_id") === 0L).withColumn("__v", lit(11L)),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 11L, retain = 1)
    Similarity.deleteFromIvfPqIndex(spark, idx, Seq(55L), batchId = 11L,
      retain = 1)
    def auditAt(pin: Long) = Takedown.auditDocsAt(spark, deleted, pin,
      keyedTables = Seq((corpus, "doc_id")), ivfPqIndex = Some(idx))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the pinned audit still reads the pre-request world, days later
    val pre = auditAt(10L)
    assert(pre === Map("table-corpus" -> 1L, "ivfpq-idx" -> 1L))
    // ... and the post-request world is clean
    assert(auditAt(12L).values.forall(_ === 0L))
    // a REBUILD flips the active generation and its codes batch-ids
    // restart at 0: the UNLABELED audit silently answers from the new
    // epoch (0 refs — the one answer a pre-request audit must never
    // return), while the audit NAMING ITS PIN keeps resolving the
    // pinned flat epoch the request was taken against
    Similarity.rebuildIvfPqIndex(e.filter(col("vec_id") < 60), idx,
      generation = 1L, nlist = 2, m = 8, codebookSize = 2, dim = 64,
      retain = 1)
    val unlabeled = Takedown.auditDocsAt(spark, deleted, 10L,
      ivfPqIndex = Some(idx))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unlabeled("ivfpq-idx") === 0L) // the wrong-epoch hazard, live
    val labeled = Takedown.auditDocsAt(spark, deleted, 10L,
      keyedTables = Seq((corpus, "doc_id")), ivfPqIndex = Some(idx),
      pinLabel = Some("req10"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labeled === pre, "the labeled audit must survive the rebuild")
    // the generation-0 pin keeps the adopted flat root in the ledger
    // and fsck stays green on the pinned shape
    assert(Similarity.fsckIndex(spark, idx).collect().forall(_.getBoolean(1)))
    // twin corpus, identical lineage, NO pin: the same aftermath sweeps
    // the pre-request snapshot — the pin is causal, not incidental
    val twin = s"$base/twin"
    mkCorpus(twin)
    EventStreams.deleteFromTable(spark, twin, deleted.toDF("doc_id"),
      Seq("doc_id"), 4, batchId = 10L, retain = 2)
    EventStreams.mergeBatchIntoTable(
      docs.filter(col("doc_id") === 0L).withColumn("__v", lit(11L)),
      twin, Seq("doc_id"), "__v", nBuckets = 4, batchId = 11L, retain = 1)
    intercept[Exception] {
      Takedown.auditDocsAt(spark, deleted, 10L,
        keyedTables = Seq((twin, "doc_id"))).collect()
    }
    // release (idempotent) + explicit vacuum reclaims the held storage;
    // the pre-request snapshot is gone, the latest is untouched
    Takedown.releaseAudit(spark, "req10", keyedTables = Seq(corpus),
      ivfPqIndex = Some(idx))
    Takedown.releaseAudit(spark, "req10", keyedTables = Seq(corpus),
      ivfPqIndex = Some(idx))
    assert(EventStreams.vacuumUpsertTable(spark, corpus, retain = 1) > 0)
    intercept[Exception] { auditAt(10L) }
    assert(EventStreams.readUpsertTable(spark, corpus)
      .filter(col("doc_id").isin(deleted: _*)).count() === 0L)
  }

  test("pinForAudit: a partial failure releases the pins already taken") {
    val base = java.nio.file.Files.createTempDirectory("graft-pinfail").toString
    val good = s"$base/good"
    EventStreams.mergeBatchIntoTable(
      Seq((1L, 0L)).toDF("doc_id", "__v"), good, Seq("doc_id"), "__v",
      nBuckets = 4, batchId = 0L)
    // the second table has no committed snapshot below the boundary:
    // its pin fails fast — and the FIRST table's already-taken pin
    // must not be stranded as an unreleased (never-expiring) hold
    val empty = s"$base/empty"
    intercept[IllegalArgumentException] {
      Takedown.pinForAudit(spark, "req", 5L, keyedTables = Seq(good, empty))
    }
    assert(EventStreams.listPins(spark, good) === Map.empty)
  }

  test("auditDocs audits a legacy sequence state that pre-dates carry_spans") {
    val base = java.nio.file.Files.createTempDirectory("graft-legacyaudit").toString
    val seqs = s"$base/seqs"
    Packing.materializeShardIncremental(cheapToks(mkDocs), seqs,
      seqLen = 16, sepId = 99, batchId = 0L)
    // replace the state with the PRE-WIDENING schema (no carry_spans) —
    // the oldest committed tables, exactly the ones most likely to
    // harbor missed deletes, look like this
    val stateDir = s"$seqs/_tokstate"
    locally {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(stateDir))
      try st.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally st.close()
    }
    EventStreams.mergeBatchIntoTable(
      Seq((0, 100L, 39L, Seq(1, 2), 0L))
        .toDF("k", "total_tokens", "max_doc_id", "carry", "__v"),
      stateDir, Seq("k"), "__v", nBuckets = 1, batchId = 0L)
    // the audit must ADOPT the missing column (empty span list), not
    // throw AnalysisException — a legacy carry genuinely tracked no spans
    val audit = Takedown.auditDocs(spark, Seq(3L),
      sequenceTable = Some(seqs)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit(s"sequences-state-seqs") === 0L)
    assert(audit(s"sequences-seqs") > 0L, "doc 3 is still in the table")
  }

  test("Rag chunk keys round-trip through the one shared stride definition") {
    // the audit (Takedown.auditDocs) and the index takedown
    // (Rag.deleteDocs) both recover doc ids via Rag.docIdOf — pin the
    // inverse against the builder so a stride change cannot break one
    // side silently
    val docs = Seq((7L, (0 until 13).map(i => s"w$i").mkString(" ")),
      (123456789L, (0 until 6).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = Rag.chunkVectors(docs, window = 4, stride = 2, dim = 8)
      .localCheckpoint()
    assert(chunks.count() > 2)
    assert(chunks.filter(Rag.docIdOf(col("chunk_key")) =!= col("doc_id"))
      .count() === 0L)
  }
  test("pinned audit reads a committed-EMPTY artifact as 0 refs, not an error (ADVICE r12)") {
    val base = java.nio.file.Files.createTempDirectory("graft-audit-empty").toString
    val t = s"$base/t"
    // a watermark-advance-only first commit: the resolving manifest
    // EXISTS but names no files — committed-empty, not nothing-committed
    EventStreams.mergeBatchIntoTable(Seq.empty[(Long, Long)].toDF("doc_id", "__v"),
      t, Seq("doc_id"), "__v", nBuckets = 2, batchId = 0L)
    def audit(asOf: Long) = Takedown.auditDocsAt(spark, Seq(1L, 2L), asOf,
      keyedTables = Seq((t, "doc_id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit(1L) === Map("table-t" -> 0L))
    // total takedown: every row dies; the post-request pinned audit's
    // PRIMARY verdict is the 0 that confirms the takedown
    EventStreams.mergeBatchIntoTable(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "__v"),
      t, Seq("doc_id"), "__v", nBuckets = 2, batchId = 1L, retain = 2)
    EventStreams.deleteFromTable(spark, t, Seq(1L, 2L).toDF("doc_id"),
      Seq("doc_id"), nBuckets = 2, batchId = 2L, retain = 2)
    assert(audit(3L) === Map("table-t" -> 0L))
    // pre-request boundary still sees the rows; no-manifest-below still
    // fails fast (the auditDocsAt contract is unchanged there)
    assert(audit(2L) === Map("table-t" -> 2L))
    intercept[IllegalArgumentException] {
      Takedown.auditDocsAt(spark, Seq(1L), 0L, keyedTables = Seq((t, "doc_id")))
        .collect()
    }
  }

  test("pinForAudit failure never releases a PRE-EXISTING hold under the same label (ADVICE r12)") {
    val base = java.nio.file.Files.createTempDirectory("graft-pin-keep").toString
    val t = s"$base/t"
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("doc_id", "v", "__v"),
        t, Seq("doc_id"), "__v", nBuckets = 2, batchId = id, retain = 4)
    merge(0L, 0L); merge(1L, 1L); merge(2L, 2L)
    val first = Takedown.pinForAudit(spark, "aud", asOfBatch = 2L,
      keyedTables = Seq(t))
    assert(first === Map("table-t" -> 1L))
    // a second pinForAudit under the SAME label at a DIFFERENT boundary
    // fails loudly — and must leave the earlier audit's hold intact
    // (the old blanket releaseAudit deleted it while the error message
    // implied it still existed)
    intercept[IllegalStateException] {
      Takedown.pinForAudit(spark, "aud", asOfBatch = 3L, keyedTables = Seq(t))
    }
    assert(EventStreams.listPins(spark, t) === Map("aud" -> 1L),
      "the pre-existing hold must survive the failed re-pin")
  }

  test("purgeDocs: after the audit window, deleted content is provably gone from every readable surface") {
    val base = java.nio.file.Files.createTempDirectory("graft-purge").toString
    val (corpus, root, ledger) = (s"$base/corpus", s"$base/bak", s"$base/ledger")
    val docs = mkDocs
    val deleted = Seq(2L, 5L)
    EventStreams.mergeBatchIntoTable(docs.withColumn("__v", lit(0L)),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L, retain = 8)
    EventStreams.mergeBatchIntoTable(
      Seq((0L, "updated", "en", 1L)).toDF("doc_id", "text", "lang", "__v"),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 9L, retain = 8)
    // a PRE-delete backup: it still holds the docs until rotated
    EventStreams.backupUpsertTable(spark, corpus, s"$root/b1")
    // the audit hold, then the takedown (request id window 10..11)
    Takedown.pinForAudit(spark, "aud", asOfBatch = 10L,
      keyedTables = Seq(corpus))
    Takedown.deleteDocs(spark, deleted, batchId = 10L, ledgerDir = ledger,
      keyedTables = Seq((corpus, "doc_id", 4)))
    def purge() = Takedown.purgeDocs(spark, deleted, purgeBelowBatch = 10L,
      keyedTables = Seq((corpus, "doc_id")),
      backups = Seq((root, "doc_id")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(2), r.getLong(3)))).toMap
    // while the audit hold lives, the purge refuses and the pre-delete
    // world is (by design) still fully readable
    val blocked = purge()
    assert(blocked(("table-corpus", "holds_released")) === ((false, 1L)))
    assert(blocked(("table-corpus", "purge_acted"))._1 === false)
    assert(!blocked(("table-corpus", "retained_snapshots_zero_refs"))._1,
      "pre-delete snapshots must still yield the docs while pinned")
    assert(!blocked(("table-corpus", "below_cut_travel_refuses"))._1)
    assert(!blocked(("table-corpus", "pre_delete_feed_window_refuses"))._1,
      "the feed can still replay the pre-delete window while history lives")
    assert(!blocked(("backup-bak", "backups_zero_refs"))._1)
    // the pinned audit still answers from the pre-delete world
    assert(Takedown.auditDocsAt(spark, deleted, 10L,
      keyedTables = Seq((corpus, "doc_id"))).collect()
      .map(_.getLong(1)).sum === 2L)
    // audit window closes: release, rotate the backup, purge for real
    Takedown.releaseAudit(spark, "aud", keyedTables = Seq(corpus))
    val p = purge()
    assert(p(("table-corpus", "holds_released")) === ((true, 0L)))
    assert(p(("table-corpus", "purge_acted"))._1)
    assert(p(("table-corpus", "below_cut_travel_refuses"))._1,
      "time travel below the cut must refuse after the purge")
    assert(p(("table-corpus", "retained_snapshots_zero_refs")) === ((true, 0L)))
    assert(p(("table-corpus", "pre_delete_feed_window_refuses"))._1)
    assert(!p(("backup-bak", "backups_zero_refs"))._1,
      "the pre-delete backup still holds the docs — the red row names it")
    // rotation: replace the stale backup with a post-delete one
    val rootPath = new org.apache.hadoop.fs.Path(s"$root/b1")
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(rootPath, true)
    EventStreams.backupUpsertTable(spark, corpus, s"$root/b2")
    // replay: all green, nothing further reclaimed
    val p2 = purge()
    assert(p2.values.forall(_._1), s"replayed purge must be all green: $p2")
    assert(p2(("table-corpus", "purge_acted"))._2 === 0L,
      "a replayed purge reclaims nothing")
    // the post-delete world is intact
    assert(EventStreams.readUpsertTable(spark, corpus).count() === 10L)
    intercept[Exception] {
      EventStreams.readUpsertTableAt(spark, corpus, 9L)
    }
    // the composed index refuses the same way while a generation pin
    // holds a pre-delete epoch readable
    val idx = s"$base/idx"
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e, idx, nlist = 2, m = 8, codebookSize = 2,
      dim = 64)
    Similarity.pinIndexForAudit(spark, idx, "aud-idx", batchId = 10L)
    def purgeIdx() = Takedown.purgeDocs(spark, deleted, purgeBelowBatch = 10L,
      ivfPqIndex = Some(idx), vecIds = Some(Seq(999999L)))
      .collect().map(r => (r.getString(1), (r.getBoolean(2), r.getLong(3)))).toMap
    val heldIdx = purgeIdx()
    assert(!heldIdx("holds_released")._1 && !heldIdx("purge_acted")._1,
      "a live generation pin must block the index purge")
    Takedown.releaseAudit(spark, "aud-idx", ivfPqIndex = Some(idx))
    val freeIdx = purgeIdx()
    assert(freeIdx("holds_released")._1 && freeIdx("purge_acted")._1)
    assert(freeIdx("serving_zero_refs") === ((true, 0L)))
    // the healthy purge proves every snapshot READ, not just counted
    assert(p2(("table-corpus", "snapshots_unreadable")) === ((true, 0L)))
  }

  test("takedown x OCC: a disjoint ingest merge interleaving the walk — both land, pinned audit stable, ledger sealed") {
    val base = java.nio.file.Files.createTempDirectory("graft-td-occ").toString
    val (corpus, ledger) = (s"$base/corpus", s"$base/ledger")
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(i => (i, s"text $i", 0L)).toDF("doc_id", "text", "__v"),
      corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 0L, retain = 8)
    val bks = (0L until 16L).toDF("doc_id")
      .withColumn("b", pmod(hash(col("doc_id")), lit(4)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kDel = 0L
    val kIngest = bks.find { case (k, b) => b != bks(kDel) && k != kDel }.get._1
    Takedown.pinForAudit(spark, "aud", asOfBatch = 10L,
      keyedTables = Seq(corpus))
    def auditAt(pin: Long): Long = Takedown.auditDocsAt(spark, Seq(kDel), pin,
      keyedTables = Seq((corpus, "doc_id"))).collect().map(_.getLong(1)).sum
    // the ingest merge (id 9, a DIFFERENT bucket) lands between the
    // takedown delete leg's staging and its publish — the walk's own
    // commit must rebase, and NEITHER writer's rows may be lost
    var raced = false
    Takedown.deleteDocs(spark, Seq(kDel), batchId = 10L, ledgerDir = ledger,
      keyedTables = Seq((corpus, "doc_id", 4)),
      beforeCommit = () => if (!raced) {
        raced = true
        EventStreams.mergeBatchIntoTable(
          Seq((kIngest, "ingested", 1L)).toDF("doc_id", "text", "__v"),
          corpus, Seq("doc_id"), "__v", nBuckets = 4, batchId = 9L,
          retain = 8)
      })
    assert(raced)
    val rows = EventStreams.readUpsertTable(spark, corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(kDel), "the takedown's delete must land")
    assert(rows(kIngest) === "ingested",
      "the interleaved ingest must survive the takedown's rebase")
    assert(rows.size === 15)
    // the delete leg recorded its TRUE parent — it rebased, it did not
    // rename over the ingest
    val baseTag = EventStreams.tableHistory(spark, corpus)
      .filter(col("batch_id") === 10L).select("base").head().getLong(0)
    assert(baseTag === 9L)
    // the PINNED audit stays stable: the asOf-10 boundary now resolves
    // to the interloper's snapshot (9), which still holds the doc —
    // the pre-delete world, race or no race
    assert(auditAt(10L) === 1L)
    // ledger sealed + replay is a no-op that changes nothing
    val before = EventStreams.latestCommittedBatchId(spark, corpus)
    Takedown.deleteDocs(spark, Seq(kDel), batchId = 10L, ledgerDir = ledger,
      keyedTables = Seq((corpus, "doc_id", 4)))
    assert(EventStreams.latestCommittedBatchId(spark, corpus) === before)
    assert(Takedown.auditDocs(spark, Seq(kDel),
      keyedTables = Seq((corpus, "doc_id"))).collect().map(_.getLong(1)).sum === 0L)
    assert(EventStreams.fsckUpsertTable(spark, corpus)
      .collect().forall(_.getBoolean(1)), "fsck green after the raced walk")
  }

  test("purgeDocs: a snapshot that fails to read reports red, never counts as zero refs (ADVICE r15)") {
    val base = java.nio.file.Files.createTempDirectory("graft-purge-ur").toString
    val corpus = s"$base/corpus"
    val docs = (0L until 8L).map(i => (i, s"text $i", 0L))
      .toDF("doc_id", "text", "__v")
    EventStreams.mergeBatchIntoTable(docs, corpus, Seq("doc_id"), "__v",
      nBuckets = 2, batchId = 0L, retain = 4)
    Takedown.deleteDocs(spark, Seq(2L), batchId = 10L,
      ledgerDir = s"$base/ledger", keyedTables = Seq((corpus, "doc_id", 2)))
    // damage a RETAINED (post-cut) snapshot out-of-band: its read now
    // throws — the proof-of-deletion must surface that as red instead
    // of silently coercing the count to zero
    val victim = EventStreams.tableManifest(spark, corpus).values.flatten.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$corpus/$victim"))
    val p = Takedown.purgeDocs(spark, Seq(2L), purgeBelowBatch = 10L,
      keyedTables = Seq((corpus, "doc_id")))
      .collect().map(r => (r.getString(1), (r.getBoolean(2), r.getLong(3)))).toMap
    assert(!p("snapshots_unreadable")._1 && p("snapshots_unreadable")._2 >= 1L,
      "an unreadable retained snapshot must flag red — verification never ran")
  }
}
