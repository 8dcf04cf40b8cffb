package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CHANGE FEED AS A CHECKPOINTED STREAMING SOURCE — the round-14 gap:
  * every feed consumer (replica, rollup view, index sync) hand-managed
  * its cursor and had to be poked by an external scheduler. This
  * wraps the consumers in the CurationStream/IndexStream convention
  * (`Trigger.AvailableNow` + `foreachBatch` + idempotent committed
  * windows) so they ride Structured Streaming's own machinery:
  *
  *   - the STREAMED INPUT is the source table's manifest list (the
  *     `.json` files under `_manifests`, a plain file source): every
  *     commit lands exactly one new tiny file, so each commit wakes one
  *     micro-batch and the checkpoint remembers which commits have
  *     already woken the consumer — an idle table costs a listing,
  *     never a data read;
  *   - the BATCH BODY runs the existing cursor-pinned sync
  *     ([[EventStreams.syncRollupFromFeed]] /
  *     [[EventStreams.syncReplicaFromFeed]]), which consumes the
  *     whole `(cursor, watermark]` window at O(changed) cost and
  *     advances the cursor LAST.
  *
  * EXACTLY-ONCE stays where it always was — the cursor pin: the
  * Spark checkpoint is only the SCHEDULER (which commits have been
  * seen), the cursor is the source of truth for what has been
  * APPLIED. A crash anywhere replays the batch; the sync re-reads
  * the same window (its base snapshot held readable by the cursor
  * pin), committed halves no-op on their watermarks, and an
  * already-advanced cursor makes the replay a pure no-op. A batch
  * that observes commits the PREVIOUS batch's sync already consumed
  * (the sync always runs to the CURRENT watermark, which may be ahead
  * of the batch's discovered files) no-ops the same way — the wake-up
  * and the window are deliberately decoupled.
  *
  * One stream per (source, consumer): the sync functions' cursor
  * monotonicity makes a second concurrent stream fail loudly rather
  * than double-apply.
  */
object FeedStream {

  /** The streamed manifest list of `srcDir` — one line per committed
    * manifest body; content is ignored (the wake-up signal is the
    * FILE), so the fixed `text` schema needs no inference.
    * `maxFilesPerTrigger` paces the SCHEDULER for continuous mode:
    * each micro-batch wakes on at most that many new commit files, so
    * a giant backlog drains across many batches instead of one.
    */
  private def manifestStream(spark: SparkSession, srcDir: String,
                             maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    r2.text(s"${srcDir.stripSuffix("/")}/_manifests/*.json")
  }

  /** Drain the source's unconsumed commits into the incremental
    * AGGREGATE VIEW ([[EventStreams.syncRollupFromFeed]]) and stop
    * (`Trigger.AvailableNow` — the nightly cadence; run it on a clock
    * for continuous freshness). Seed the rollup + cursor first
    * ([[EventStreams.seedRollupFromSnapshot]]).
    */
  def startRollupSync(spark: SparkSession, srcDir: String,
                      rollupDir: String, consumer: String,
                      spec: EventStreams.RollupSpec, nBuckets: Int,
                      checkpointDir: String,
                      retain: Int = 1): StreamingQuery =
    manifestStream(spark, srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        EventStreams.syncRollupFromFeed(spark, srcDir, rollupDir, consumer,
          spec, nBuckets, retain)
        ()
      }
      .start()

  /** Drain the source's unconsumed commits into the REPLICA
    * ([[EventStreams.syncReplicaFromFeed]]) and stop. Seed the
    * replica + cursor first (backup/restore +
    * [[EventStreams.advanceFeedCursor]], or
    * [[EventStreams.bootstrapFeedCursor]] for an empty-start replica
    * fed from the first commit).
    */
  def startReplicaSync(spark: SparkSession, srcDir: String,
                       replicaDir: String, consumer: String,
                       versionCol: String, nBuckets: Int,
                       checkpointDir: String,
                       delta: Boolean = false,
                       retain: Int = 1): StreamingQuery =
    manifestStream(spark, srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        EventStreams.syncReplicaFromFeed(spark, srcDir, replicaDir, consumer,
          versionCol, nBuckets, delta, retain)
        ()
      }
      .start()

  /** CONTINUOUS replica sync (round 16): a STANDING
    * `Trigger.ProcessingTime` stream for a replica that must stay
    * fresh without an external scheduler poking AvailableNow runs.
    * Rate-limited on BOTH sides so one giant backlog never becomes one
    * giant window: `maxCommitsPerBatch` caps the file source's wake-up
    * batch (maxFilesPerTrigger) AND the sync's own window
    * ([[EventStreams.syncReplicaFromFeed]]'s `maxCommits` — offsets
    * are commit ids, each micro-batch advances the cursor at most that
    * many commits). A backlog bigger than the cap drains across
    * consecutive micro-batches; a crash mid-drain replays clean (the
    * cursor-pin exactly-once argument is per-window and unchanged); an
    * IDLE tick costs the file source's listing only — no batch body
    * runs, no data file opens. Stop with `query.stop()`; the same
    * checkpoint resumes either trigger mode.
    */
  def startReplicaSyncContinuous(spark: SparkSession, srcDir: String,
                                 replicaDir: String, consumer: String,
                                 versionCol: String, nBuckets: Int,
                                 checkpointDir: String,
                                 intervalMs: Long = 500,
                                 maxCommitsPerBatch: Int = 16,
                                 delta: Boolean = false,
                                 retain: Int = 1): StreamingQuery = {
    require(maxCommitsPerBatch >= 1,
      s"maxCommitsPerBatch must be >= 1, got $maxCommitsPerBatch")
    manifestStream(spark, srcDir, maxCommitsPerBatch)
      .writeStream
      .trigger(Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        EventStreams.syncReplicaFromFeed(spark, srcDir, replicaDir, consumer,
          versionCol, nBuckets, delta, retain,
          maxCommits = maxCommitsPerBatch)
        ()
      }
      .start()
  }

  /** Drain the source's unconsumed commits into the composed IVF-PQ
    * serving index ([[graft.operators.Similarity.syncIndexFromFeed]]
    * — O(changed window) upserts/removals, never a table re-scan) and
    * stop. Build the index from the current snapshot and
    * [[EventStreams.bootstrapFeedCursor]] first. Completes the
    * consumer trio: replica, rollup view, index.
    */
  def startIndexSync(spark: SparkSession, srcDir: String,
                     indexDir: String, consumer: String,
                     checkpointDir: String): StreamingQuery =
    manifestStream(spark, srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.operators.Similarity.syncIndexFromFeed(spark, srcDir,
          indexDir, consumer)
        ()
      }
      .start()
}
