package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.Texts
import graft.operators.{Curation, Dedup, Sampling}

/** INCREMENTAL corpus curation — q136's batch composition run shard by
  * shard under `Trigger.AvailableNow` (the production analog of the
  * reference's `@daily` re-run, ETL.py:20, without re-reading history):
  * each micro-batch of new documents passes the SAME stages
  * (`operators.Curation`), with the cross-shard state carried by two
  * manifest-committed tables (`EventStreams.mergeBatchIntoTable` —
  * atomic, replay-idempotent, time-travelable):
  *
  *   - STATE table (doc_id, sha, s0..s7, toks): one row per
  *     quality-passing, exact-unique doc ever processed — content sha
  *     for exact dedup, portable MinHash signature for banding, token
  *     SET for the Jaccard verify. Near-dup-DROPPED docs' rows are
  *     kept too: batch semantics verify members against bucket anchors
  *     regardless of the anchor's own fate, so forgetting dropped docs
  *     would break batch-equivalence (a~b~c chains). No raw text is
  *     retained.
  *   - SINK table (doc_id, lang, n_tokens, split): the curated
  *     survivor set, grown by upsert.
  *
  * EQUIVALENCE (proven in StreamingSpec): provided shards arrive in
  * ascending doc_id order — the natural shape of a growing corpus —
  * N incremental passes produce exactly the survivor set of one batch
  * `Curation.curate` over the concatenated corpus. The contract is
  * ENFORCED, not assumed: a one-row committed watermark table tracks
  * the max doc_id ever processed, and a shard arriving at or below it
  * fails fast (see `curateShard`) instead of silently diverging from
  * batch semantics. Why: quality,
  * decontamination, and split are stateless per-row; exact dedup keeps
  * the min id per sha, which under ascending arrival is always the
  * FIRST-seen sha; and the LSH stage's bucket anchors (min id per
  * band key) are stable once seen — a later doc can never become the
  * anchor of an earlier bucket, so member-vs-anchor decisions made
  * per-shard against (state ∪ shard) equal the batch decisions.
  *
  * 100 TB posture: per shard, history is touched ONLY through the
  * state table — text-free rows, read via the manifest (no directory
  * listing), bucketed so the sha/band joins shuffle the (small) shard
  * side against a bounded slice. The corpus text of past shards is
  * never re-scanned — the whole point vs re-running batch q136 daily.
  */
object CurationStream {

  /** One shard through stages 1–5 against the persisted state; commits
    * the state append and the survivor upsert under the micro-batch id
    * (both idempotent on replay — exactly-once end to end). Exposed for
    * direct (synchronous) testing; `start` wires it to a stream.
    */
  def curateShard(shard: DataFrame, evalSlice: DataFrame,
                  stateDir: String, sinkDir: String, batchId: Long,
                  nGram: Int = 5): Unit = {
    val spark = shard.sparkSession
    // ---- arrival-order watermark (fail-fast) -------------------------
    // The batch-equivalence proof above REQUIRES ascending doc_id
    // arrival: exact dedup keeps min-id-per-sha and LSH anchors are
    // min-id-per-band-key, so a BACKFILLED shard carrying ids below
    // anything already processed could silently flip which copy batch
    // semantics would have kept (the late small-id doc should have been
    // the anchor). Rather than produce silently-divergent output, the
    // contract violation fails fast with a clear error; the operator
    // re-shards the backfill above the watermark (fresh ids) or rebuilds
    // from batch. The watermark is its own ONE-ROW committed table —
    // not derived from the state table, because quality-REJECTED docs
    // never enter state yet still advance what "seen" means, and a
    // one-row read is O(1) where a state-table max is O(state).
    // Read AS OF the previous batch (the `hist` replay rule): on
    // crash-replay of batch N the watermark table may already hold N's
    // own commit, and a latest-read would fail the replay against its
    // own max.
    val wmDir = s"$stateDir/_watermark"
    val bounds = shard.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val shardBounds = if (bounds.isNullAt(0)) None
      else Some((bounds.getLong(0), bounds.getLong(1)))
    shardBounds.foreach { case (shardMin, _) =>
      EventStreams.readUpsertTableBefore(spark, wmDir, batchId)
        .map(_.agg(max(col("max_doc_id"))).head().getLong(0))
        .foreach { wm =>
          if (shardMin <= wm) throw new IllegalStateException(
            s"out-of-order shard arrival: batch $batchId carries doc_id $shardMin " +
              s"<= watermark $wm (max doc_id already processed). Incremental " +
              "curation is batch-equivalent only under ascending doc_id " +
              "arrival (min-id anchors are stable only then); re-shard the " +
              "backfill above the watermark or re-run the batch pipeline.")
        }
    }
    // The watermark COMMIT happens last (after the state/sink commits,
    // end of this method): committing it first would mean a failure
    // mid-curation leaves the watermark advanced, and resubmitting the
    // failed shard under a NEW batchId is falsely rejected as
    // out-of-order — only a same-batchId replay would recover. With the
    // commit last, any crash point replays cleanly: the as-of-previous
    // reads (`hist`, and the watermark read above) already make a
    // same-batchId replay compute exactly what the crashed run did, and
    // a new-batchId resubmit passes the check because the watermark
    // never advanced.
    // ------------------------------------------------------------------
    // one tiny barrier per shard (micro-batches are bounded): the shard
    // survivor set feeds sha-dedup, signing, banding, verification and
    // the sink write — the q136 fan-out, at shard scale
    val qual = Curation.qualityGate(shard).localCheckpoint()
    val withSha = qual.withColumn("sha", sha2(col("text"), 256))
    val shardUnique = withSha.join(
      withSha.groupBy(col("sha")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // history = the state table AS OF the previous batch, never
    // "latest": on crash-replay of batch N the state table may already
    // hold N's own commit (state merges before the sink, below), and a
    // latest-read would anti-join the replayed shard against its OWN
    // shas — emptying newUnique and committing an EMPTY sink batch
    // under N, permanently losing the shard's survivors. The pre-batch
    // snapshot makes the replay compute exactly what the crashed run
    // computed (retain=2 on the state merge keeps its files readable).
    val hist: Option[DataFrame] =
      EventStreams.readUpsertTableBefore(spark, stateDir, batchId)
    // exact dedup vs history: the sha join carries 32-byte hashes only
    val newUnique = hist.fold(shardUnique)(h =>
      shardUnique.join(h.select(col("sha")), Seq("sha"), "left_anti"))
    val slotCols = (0 until 8).map(i => s"s$i")
    // n_tokens rides in state for [[reselectCanonicals]]: the keep-best
    // quality score must cover DROPPED members too (they are exactly
    // the candidates a re-selection may promote), and their text —
    // hence their token count — is gone after this shard
    val shardState = newUnique
      .select(col("doc_id"), col("sha"), col("n_tokens"),
        array_distinct(Texts.tokens(col("text"))).as("toks"))
      .join(Dedup.portableMinhashSignatures(
        newUnique.select(col("doc_id"), col("text"))), Seq("doc_id"))
      .localCheckpoint()
    val allState = hist.fold(shardState)(h =>
      // n_tokens post-dates early state tables: adopt legacy rows with
      // 0 (length unknown — any member with a known length outranks
      // them in keep-best; ties keep min doc_id as always)
      EventStreams.withColumnDefault(h, "n_tokens", lit(0L))
        .select(shardState.columns.map(col): _*).unionByName(shardState))
    // q89/q136 banding over (state ∪ shard) — anchors are stable
    // under ascending arrival, so these decisions equal batch
    // decisions. The banding/anchor rule and the Jaccard verify are
    // the SAME code the batch stage runs (Dedup.bandedAnchorCandidates
    // / verifiedAnchorPairs via Curation.lshAssignments).
    val dropped = Dedup.bandedAnchorCandidates(
        allState.select((col("doc_id") +: slotCols.map(col)): _*))
      // decisions are for THIS shard; history was decided in its shard
      .join(shardState.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .transform(cand => Dedup.verifiedAnchorPairs(cand,
        allState.select(col("doc_id"), col("toks").as("ts")), minJaccard = 0.8))
      .select(col("doc_id")).distinct()
    val d2 = newUnique.select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))
      .join(dropped, Seq("doc_id"), "left_anti")
    val evalGrams = Curation.grams(evalSlice, nGram).select(col("gram")).distinct()
    val contaminated = Curation.grams(d2, nGram)
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
    val d3 = d2.join(contaminated, Seq("doc_id"), "left_anti")
    // materialize the decisions BEFORE the state commit: the survivor
    // plan still references the state table's current generation, and
    // the state merge below sweeps superseded files — an unmaterialized
    // `out` would read deleted parquet
    val out = Sampling.withSplitPortable(d3, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"))
      .localCheckpoint()
    // two commits under one batchId: replay after a crash between them
    // re-runs the shard against the batchId-1 state snapshot (see
    // `hist` above), recomputes the identical decisions, the
    // already-committed state merge no-ops, and the sink merge applies
    // — exactly-once for the pair. retain=2 keeps the previous
    // snapshot's files through this batch's sweep for exactly that
    // replay read.
    EventStreams.mergeBatchIntoTable(
      shardState.select((col("doc_id") +: col("sha") +: col("n_tokens") +:
        col("toks") +: slotCols.map(col)): _*),
      stateDir, Seq("doc_id"), "doc_id", nBuckets = 8, batchId = batchId,
      retain = 2)
    EventStreams.mergeBatchIntoTable(out, sinkDir,
      Seq("doc_id"), "doc_id", nBuckets = 8, batchId = batchId)
    shardBounds.foreach { case (_, shardMax) =>
      import spark.implicits._
      EventStreams.mergeBatchIntoTable(
        Seq((0, shardMax)).toDF("k", "max_doc_id"), wmDir,
        Seq("k"), "max_doc_id", nBuckets = 1, batchId = batchId, retain = 2)
    }
  }

  /** Drain everything new under `corpusDir` through the curation
    * stages and stop (`Trigger.AvailableNow` — the scheduled-cadence
    * shape: each invocation is one "daily" pass; the file-source
    * checkpoint remembers which shard files are already processed).
    */
  def start(spark: SparkSession, corpusDir: String, schema: StructType,
            evalSlice: DataFrame, stateDir: String, sinkDir: String,
            checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(corpusDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateShard(batch, evalSlice, stateDir, sinkDir, batchId)
      }
      .start()

  /** Score one arriving shard against the COMMITTED quality models
    * ([[graft.operators.Models]] — frozen LM counts + LR weights, the
    * production gate's serving shape) and upsert the scores into a
    * committed sink keyed by doc_id. No training happens here: the
    * models were built once (`Models.buildLmModel` /
    * `Models.buildLrModel`); each shard pays one narrow scoring pass,
    * with unseen tokens handled by the LM's add-one backoff. FULL outer
    * join because the two signals have different scoreability floors
    * (LM needs >= 2 tokens, LR >= 1) — a gate consuming the sink
    * decides what an unscorable signal means. Idempotent per batchId
    * (crash-replay no-ops); no arrival-order watermark is needed,
    * unlike [[curateShard]]: scoring is per-row against frozen state,
    * so ANY arrival order produces the same final table.
    */
  def scoreShard(shard: DataFrame, lmModelDir: String, lrModelDir: String,
                 scoresDir: String, batchId: Long): Unit = {
    val spark = shard.sparkSession
    val lm = graft.operators.Models.scoreWithLmModel(spark, lmModelDir, shard)
    val lr = graft.operators.Models.scoreWithLrModel(
      spark, lrModelDir, shard, "doc_id", "text")
    EventStreams.mergeBatchIntoTable(
      lm.join(lr, Seq("doc_id"), "full").localCheckpoint(),
      scoresDir, Seq("doc_id"), "doc_id", nBuckets = 8, batchId = batchId)
  }

  /** The streaming wrapper for [[scoreShard]]: drain new corpus shards
    * and score each against the committed models
    * (`Trigger.AvailableNow`, the [[start]] convention).
    */
  def startScoring(spark: SparkSession, corpusDir: String, schema: StructType,
                   lmModelDir: String, lrModelDir: String, scoresDir: String,
                   checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(corpusDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreShard(batch, lmModelDir, lrModelDir, scoresDir, batchId)
      }
      .start()

  /** PERIODIC keep-best RE-SELECTION — the batch half of the survivor
    * policy the append-only stream cannot express inline (see
    * `Curation.curate`'s keepBest note: a later, better cluster member
    * would have to RETRACT a committed survivor). This runs the q171
    * canonical selection over the ACCUMULATED committed state —
    * entirely text-free: LSH bands re-derive from the STORED
    * signatures, the Jaccard verify from the STORED token sets, the
    * quality score from the STORED n_tokens (dropped members carry all
    * three precisely so this pass can promote them) — and commits a
    * (doc_id, cluster_id, canonical_id, is_canonical, n_tokens)
    * decision table as one idempotent generation. Downstream exporters
    * consume the decision table to swap survivors; the curation sink
    * itself stays append-only (the retraction happens at READ/export
    * time, the lakehouse convention). Scale shape: the banding/verify/
    * closure/argmax chain of q89+q115+q171 over state rows that never
    * carry text.
    */
  def reselectCanonicals(spark: SparkSession, stateDir: String,
                         decisionsDir: String, batchId: Long,
                         minJaccard: Double = 0.8): Unit = {
    val slotCols = (0 until 8).map(i => s"s$i")
    val st = EventStreams.withColumnDefault(
        EventStreams.readUpsertTable(spark, stateDir), "n_tokens", lit(0L))
      // barrier: state feeds banding, both verify sides, and the
      // quality frame (the q136 fan-out rule)
      .localCheckpoint()
    val edges = Dedup.verifiedAnchorPairs(
        Dedup.bandedAnchorCandidates(
          st.select((col("doc_id") +: slotCols.map(col)): _*)),
        st.select(col("doc_id"), col("toks").as("ts")), minJaccard)
      .groupBy(col("doc_id")).agg(min(col("anchor")).as("rep_id"))
    val cc = Dedup.connectedComponents(edges, "doc_id", "rep_id")
      .select(col("node").as("doc_id"), col("cluster_id"))
    EventStreams.mergeBatchIntoTable(
      Dedup.canonicalByQuality(cc,
          // coalesce: rows adopted from a pre-widening state generation
          // carry NULL n_tokens (schema adoption) and score as 0
          st.select(col("doc_id"),
            coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens")),
          "n_tokens")
        .withColumn("__v", lit(batchId)).localCheckpoint(),
      decisionsDir, Seq("doc_id"), "__v", nBuckets = 8, batchId = batchId)
  }

  /** DRIFT-monitor one arriving shard against the committed calibration
    * histograms ([[graft.operators.Models.scoreDrift]]) and log the
    * per-(lang, signal) PSI verdicts keyed by the shard's batchId — the
    * "is the calibration stale" ledger the frozen-gate serving story
    * needs: when a shard's PSI crosses the alert threshold, the
    * committed drift table says so durably, per shard, without anyone
    * re-deriving a distribution. Idempotent per batchId; no arrival
    * watermark (per-shard derivation against frozen state).
    */
  def driftShard(shard: DataFrame, modelRoot: String, driftDir: String,
                 batchId: Long): Unit = {
    val spark = shard.sparkSession
    EventStreams.mergeBatchIntoTable(
      graft.operators.Models.scoreDrift(spark, modelRoot, shard)
        .withColumn("batch_id", lit(batchId)).localCheckpoint(),
      driftDir, Seq("batch_id", "lang", "signal"), "batch_id",
      nBuckets = 1, batchId = batchId)
  }

  /** GATE one arriving shard with the fully-served calibrated ensemble
    * (`Models.serveEnsembleGate` — committed LM/LR models + committed
    * per-language cuts) and upsert the per-doc decisions. The frozen
    * calibration is the point: a document's keep decision is identical
    * whichever shard it arrives in, so N shard passes produce exactly
    * the batch gate's decision table (ModelsSpec). Idempotent per
    * batchId; no arrival watermark (per-row decisions against frozen
    * state).
    */
  def gateShard(shard: DataFrame, modelRoot: String, decisionsDir: String,
                batchId: Long): Unit = {
    val spark = shard.sparkSession
    EventStreams.mergeBatchIntoTable(
      graft.operators.Models.serveEnsembleGate(spark, modelRoot, shard)
        .localCheckpoint(),
      decisionsDir, Seq("doc_id"), "doc_id", nBuckets = 8, batchId = batchId)
  }

  /** The streaming wrapper for [[gateShard]] (`Trigger.AvailableNow`,
    * the [[start]] convention).
    */
  def startGating(spark: SparkSession, corpusDir: String, schema: StructType,
                  modelRoot: String, decisionsDir: String,
                  checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(corpusDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateShard(batch, modelRoot, decisionsDir, batchId)
      }
      .start()
}
