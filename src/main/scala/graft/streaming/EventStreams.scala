package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming analog of the reference's `@daily` batch recurrence
  * (SURVEY.md §2.8 / milestone 3): the same declarative transforms bound
  * to `readStream` instead of `read` — the payoff of keeping operators as
  * `DataFrame => DataFrame`.
  *
  * State posture at scale: watermarks bound all aggregation state;
  * `dropDuplicatesWithinWatermark` bounds dedup state; the custom
  * stateful op keeps O(1) state per key via mapGroupsWithState.
  */
object EventStreams {

  /** Events-shaped schema with µs timestamps (what a streaming file
    * source of this table looks like after ns-truncation).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1h counts with late-data handling — works identically on a
    * batch frame (no watermark effect) and a stream (10 min watermark
    * bounds state; append mode emits finalized windows only).
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming dedup on event_id with bounded state. */
  def dedupedWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the static side is a dimension
    * lookup, re-read per micro-batch by Spark (so dim updates between
    * batches are picked up); broadcast automatically when small.
    */
  def enrichedWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-STREAM inner join with an event-time interval condition:
    * errors matched to same-user purchases in the preceding `gapSeconds`.
    * Both sides carry watermarks + the time-range predicate, so Spark
    * can bound the join state (rows age out once the watermark passes
    * the interval) — the streaming twin of `Joins.rangeJoinBucketed`.
    */
  def errorPurchaseIntervalJoin(events: DataFrame, gapSeconds: Long = 60L): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("e_ts"), col("event_id").as("e_id"))
      .withWatermark("e_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    errors.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("e_ts") - expr(s"interval $gapSeconds seconds") &&
        col("p_ts") <= col("e_ts"))
      .select(col("e_id"), col("p_id"), col("user_id"))
  }

  /** Native session windows (`session_window`): dynamic-gap event-time
    * sessions as a first-class groupBy key — the built-in alternative
    * to [[closedSessions]] when per-session aggregates suffice (state
    * and merging handled by the engine, bounded by the watermark).
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("start"),
        col("session_window.end").as("end"),
        col("n_events"))

  final case class SessionOut(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

  /** Open-session state for closedSessions (object-level: method-local
    * case classes don't get stable Encoders).
    */
  final case class Open(n: Long, startUs: Long, endUs: Long)

  /** Event-time session windows emitted ON CLOSE via
    * flatMapGroupsWithState + event-time timeout: state per user is one
    * open session (O(1)); a session is emitted when the watermark passes
    * its gap timeout. The streaming twin of `Joins.sessionize`.
    */
  def closedSessions(spark: SparkSession, events: DataFrame,
                     gapSeconds: Long = 1800L): Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout

    events
      .withWatermark("ts", "10 minutes")
      // the watermarked ts column must survive up to the stateful op —
      // projecting it away fails the streaming plan check
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Open, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n, s.startUs, s.endUs))
          } else {
            val gapUs = gapSeconds * 1000000L
            var closed = List.empty[SessionOut]
            var open = state.getOption
            rows.map(_._3).toSeq.sorted.foreach { us =>
              open match {
                case Some(o) if us - o.endUs <= gapUs =>
                  open = Some(o.copy(n = o.n + 1, endUs = us))
                case Some(o) =>
                  closed ::= SessionOut(uid, o.n, o.startUs, o.endUs)
                  open = Some(Open(1L, us, us))
                case None =>
                  open = Some(Open(1L, us, us))
              }
            }
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp((o.endUs + gapUs) / 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Production sink path: hourly aggregates written per micro-batch to
    * partitioned parquet via foreachBatch (the pattern for sinks Spark
    * has no native streaming writer for — here it also lets us
    * repartition-by-partition-column before the write so each batch
    * produces one file per hour instead of cores x hours).
    */
  def hourlyToParquet(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyByType(events)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("hour", date_format(col("ws"), "yyyy-MM-dd-HH"))
          .repartition(col("hour"))
          .write.mode("append").partitionBy("hour").parquet(outDir)
      }
      .start()

  /** The reference's `@daily` batch recurrence, Spark-native: a
    * streaming query with `Trigger.AvailableNow` drains exactly the
    * backlog accumulated since the last run, commits its offsets to the
    * checkpoint, and STOPS — incremental batch processing with
    * streaming's exactly-once offset tracking, scheduled externally
    * like any cron/batch job (ETL.py's schedule_interval='@daily',
    * without re-reading data already processed). Re-invoking with the
    * same checkpoint processes only files that arrived since.
    *
    * State posture at 100 TB: for state-heavy recurrences set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider so operator state lives on local disk, not executor heap
    * (exercised in StreamingSpec).
    */
  def runAvailableNow(df: DataFrame, outDir: String,
                      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()

  /** Partition column of the upsert sink table: `pmod(hash(keys), n)`.
    * Key-derived, so every version of a key lands in the same partition
    * and a batch's merge footprint is exactly the partitions its keys
    * hash into.
    */
  val upsertBucketCol = "__bucket"

  /** Streaming CDC compaction: each micro-batch of change rows is
    * MERGEd into a keyed parquet table via `Load.upsertLatest` inside
    * foreachBatch — the canonical keep-latest sink when the target store
    * has no native MERGE. See [[mergeBatchIntoTable]] for the merge
    * contract (bucket-partitioned table, touched-partitions-only
    * rewrite, batchId exactly-once sidecar).
    */
  def upsertToParquet(changes: DataFrame, tableDir: String, keyCols: Seq[String],
                      versionCol: String, nBuckets: Int = 16,
                      retain: Int = 1, compactEvery: Int = 0,
                      delta: Boolean = false,
                      statsCols: Option[Seq[String]] = None,
                      bloomCols: Option[Seq[String]] = None): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // delta = the CDC-trickle posture: each micro-batch commits
        // O(batch) instead of rewriting its touched buckets; pair with
        // a Maintenance `folds` leg (or compactEvery) to bound read
        // depth. statsCols: zone maps per committed file (the range-
        // read pruning contract, [[readUpsertTableWhere]]); bloomCols:
        // equality-probe sketches for unsorted high-cardinality columns
        mergeBatchIntoTable(batch, tableDir, keyCols, versionCol, nBuckets, batchId,
          retain, compactEvery, delta, statsCols, bloomCols)
      }
      .start()

  /** Schema adoption, merge side (for WIDENED schemas — ADVICE r10):
    * align an on-disk frame to the incoming batch's schema by
    * defaulting columns the table was committed without — NULL for
    * data columns; -1 for the version column, so adopted rows always
    * LOSE version ties to any real batch instead of turning
    * null-versioned (max_by drops all-null groups, which would null
    * out untouched older keys). Columns the table has but the batch
    * lacks still fail loudly — narrowing is a writer bug, not a
    * migration.
    */
  private[graft] def alignTo(onDisk: DataFrame, target: DataFrame,
                             versionCol: String): DataFrame =
    target.schema.fields.foldLeft(onDisk) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name,
        (if (f.name == versionCol) lit(-1) else lit(null)).cast(f.dataType))
    }

  /** True when the batch carries columns the on-disk frame lacks — the
    * widening event that flips the manifest's sticky `mixed` flag.
    */
  private def widens(onDisk: DataFrame, target: DataFrame): Boolean =
    target.schema.fieldNames.exists(f => !onDisk.columns.contains(f))

  /** Schema adoption, read side: default one column a committed table
    * may pre-date (e.g. `carry_spans` on packing state, `n_tokens` on
    * curation state). Only fills a WHOLLY absent column; tables with
    * mixed-generation files surface the widened column with NULLs in
    * pre-widening rows (the manifest reads merge schemas), which
    * consumers default with coalesce where a semantic zero exists.
    */
  private[graft] def withColumnDefault(df: DataFrame, name: String,
                                       default: org.apache.spark.sql.Column): DataFrame =
    if (df.columns.contains(name)) df else df.withColumn(name, default)

  /** One micro-batch MERGE into a keyed parquet table, committed through
    * a MANIFEST — the object-store-safe commit protocol.
    *
    * Why not rename-swapping bucket directories: `fs.rename` is an
    * atomic metadata move on HDFS but copy+delete (non-atomic, O(data))
    * on S3-style stores, so a reader racing a dir swap can observe a
    * half-swapped bucket. Here data files are NEVER moved or replaced:
    *   - each merge writes its rewritten buckets as NEW part files under
    *     an immutable generation dir `gen_<batchId>/__bucket=<b>/`;
    *   - the COMMIT is one small file `_manifests/<batchId>.json` naming
    *     every live data file of every bucket (written to a temp name,
    *     then renamed — a single tiny-object move, which even on S3-like
    *     semantics makes the manifest appear atomically, never
    *     partially). Readers resolve the highest committed manifest and
    *     read exactly the files it names: a read that interleaves
    *     anywhere between staging and publish sees the PREVIOUS
    *     consistent snapshot (StreamingSpec interleaves one to prove it);
    *   - superseded files are garbage-collected only AFTER the commit,
    *     and every merge re-sweeps anything unreferenced, so a crash
    *     between publish and GC self-heals on the next batch. `retain`
    *     widens the GC to keep the newest N snapshots' files, making
    *     [[readUpsertTableAt]] time travel possible.
    *
    * Scale posture is unchanged from the dir-swap design: the table is
    * bucketed by [[upsertBucketCol]] = `pmod(hash(keys), nBuckets)`, a
    * merge reads and rewrites ONLY the buckets containing this batch's
    * keys, so per-batch I/O is O(touched buckets), not O(table).
    *
    * DELTA MODE (`delta = true`, opt-in): even O(touched buckets) is
    * the wrong order for a high-frequency CDC trickle at 100 TB — a
    * 100-row merge into a 100 GB bucket rewrites the bucket. A delta
    * merge instead APPENDS the compacted batch as new files on the
    * touched buckets' live lists (write = O(batch), the one genuinely
    * scale-proportional cost) and records a `reconcile` spec
    * (keyCols, versionCol) in the manifest; every reader resolves
    * latest-per-key through [[reconcileRows]] — winner = greatest
    * (version, commit), so a replayed eager history and a delta
    * history read identically, with version ties pinned to the later
    * commit. Read cost grows with delta depth until a FOLD:
    * [[compactUpsertTable]] (or an eager merge of the affected
    * buckets, or the Maintenance `folds` leg's depth-gated pass)
    * rewrites buckets unique-keyed and drops the spec. Same commit
    * protocol, same replay guard, same sweep/pins/time-travel/backup
    * behavior — the manifest file LISTS simply grow until folded.
    * Deletes on a delta table reconcile the touched buckets first, so
    * a takedown still removes every version of a key in one commit.
    *
    * EAGER MERGE PLAN (one exchange): the touched buckets' current
    * rows and the raw batch, both tagged with [[upsertBucketCol]], are
    * hash-partitioned ONCE on the bucket into min(touched buckets,
    * default parallelism) partitions ([[mergeByBucket]]); each task then
    * resolves latest-per-key with the same `max_by(version)` arbitration
    * as [[graft.operators.Load.upsertLatest]] (grouping on (bucket,
    * keys), which that partitioning already satisfies, so no second
    * exchange) and writes its rows straight out. Every bucket's rows
    * land in exactly one task, so the bucket-partitioned write still
    * produces EXACTLY ONE data file per touched bucket (the write opens
    * one file per partition value per task).
    * The write tasks compute each fresh file's zone maps and byte
    * length as they write it ([[writeGeneration]]), so no job reads the
    * fresh files back and no generation dir is listed.
    * Delta merges and first commits keep the other plan (compact the
    * batch, `repartition(touched)`, write).
    *
    * Exactly-once across foreachBatch replays: the manifest's batchId is
    * the applied-batch watermark (foreachBatch replays only the last
    * uncommitted batch, so one high-water mark is the whole ledger); a
    * replayed batchId returns before touching data. A crash mid-merge
    * leaves an uncommitted generation dir that the replay overwrites.
    * The table is its committed manifest: a directory without one is
    * created by the first commit, and one holding data of an older,
    * manifest-less layout is refused before anything is written
    * ([[requireFormatFloor]]).
    */
  def mergeBatchIntoTable(batch: DataFrame, tableDir: String, keyCols: Seq[String],
                          versionCol: String, nBuckets: Int, batchId: Long,
                          retain: Int = 1, compactEvery: Int = 0,
                          delta: Boolean = false,
                          statsCols: Option[Seq[String]] = None,
                          bloomCols: Option[Seq[String]] = None,
                          beforeCommit: () => Unit = () => (),
                          beforeRename: () => Unit = () => (),
                          beforeShardRename: Int => Unit = _ => ()): Unit = {
    import org.apache.hadoop.fs.Path
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = batch.sparkSession
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the head manifest, listed and read ONCE: every contract below
    // parses from this one body
    val head = manifestList(fs, table).lastOption.map(manifestAt(fs, _))
    if (head.isEmpty) requireFormatFloor(fs, table)
    if (head.exists(_.batchId >= batchId)) return // replayed batch: already merged
    // sticky mixed-schema flag: once a widening merge commits, narrow
    // files may linger in untouched buckets, so readers must merge
    // schemas until the table is rebuilt (conservative, rare)
    val mixed = head.exists(_.mixed)
    // a table with committed delta history carries its reconcile spec
    // in the manifest; the spec is the table's key contract — a merge
    // under different keys/version would corrupt every resolution
    val prevReconcile = head.flatMap(_.reconcile)
    // stats contract: sticky like the key contract — None inherits the
    // table's recorded columns, Some(cols) sets/overrides, Some(Nil)
    // drops zone maps for commits from here on
    val effStatsCols = statsCols.getOrElse(head.flatMap(_.statsCols).getOrElse(Seq.empty))
    // bloom contract: sticky exactly like statsCols
    val effBloomCols = bloomCols.getOrElse(head.flatMap(_.bloomCols).getOrElse(Seq.empty))
    // column-id contract: carried verbatim (only renameColumn and the
    // materializing fold rewrite it); old-era bucket reads translate
    val prevColIds = head.flatMap(_.colIds)
    prevReconcile.foreach { case (ks, v) =>
      require(ks == keyCols && v == versionCol,
        s"$tableDir has delta history keyed (${ks.mkString(",")}) " +
          s"versioned '$v'; this merge's (${keyCols.mkString(",")})/'" +
          s"$versionCol' disagrees — one key contract per table")
    }
    // bucket-count guard (round 17, the re-bucket contract): a merge's
    // nBuckets must MATCH the committed manifest's — an incremental
    // write under a different count would hash this batch's keys into a
    // layout the untouched buckets don't share, silently stranding rows
    // where point reads never look. Only the FULL rewrite
    // ([[compactUpsertTable]], which re-hashes every row) may change
    // the count.
    head.map(_.nBuckets).foreach { rec =>
      require(rec == nBuckets,
        s"$tableDir is committed with nBuckets=$rec; this merge passed " +
          s"$nBuckets — incremental writes cannot re-bucket (touched " +
          "buckets would hash differently than untouched ones). " +
          "compactUpsertTable re-buckets the whole table in one commit.")
    }
    // version contract (round 17): sticky like keyedBy — adopted by the
    // first r17+ merge, required to match afterwards (same-key upserts
    // arbitrate on ONE column; the SQL write surface builds its batches
    // from the recorded name). ONE legal migration: re-versioning onto
    // a column the table does not yet have (the widened-version shape
    // the ADVICE-r10 cuts tables use — adopted rows take version -1 and
    // lose ties to any real batch); re-versioning onto an EXISTING
    // column stays refused (that is the accident this guard exists for).
    head.flatMap(_.versionedBy).foreach { v =>
      if (v != versionCol) {
        val onDisk = head.map(_.live).getOrElse(Map.empty)
          .values.flatten.headOption.map { f =>
            readFilesTranslated(spark, table, prevColIds, Seq(f),
              mergeSchema = false).schema.fieldNames.toSet
          }.getOrElse(Set.empty[String])
        require(!onDisk.contains(versionCol),
          s"$tableDir records version contract '$v'; this merge's " +
            s"'$versionCol' is an existing column — one version " +
            "contract per table (re-version onto a NEW column, or " +
            "rebuild)")
      }
    }
    // maintenance cadence (round-11 debt #2): a sink that opted into
    // compaction (`compactEvery > 0`) HEALS a flagged table on its next
    // merge — every live bucket joins the touched set, so the whole
    // table rewrites under the current schema in this same commit (one
    // batchId, one manifest) and the flag drops. One-shot by
    // construction: the flag is gone afterwards, so only the first
    // merge after a widening pays the full rewrite. Tables without a
    // cadence keep the flag until an explicit [[compactUpsertTable]].
    val homogenize = compactEvery > 0 && mixed
    var widenedThisBatch = false

    val live: Map[Int, Seq[String]] = head.map(_.live).getOrElse(Map.empty)
    val bucketOf = pmod(hash(keyCols.map(col): _*), lit(nBuckets))
    // compact the batch to one row per key, tagged with its bucket
    val compacted = graft.operators.Load.upsertLatest(
        batch, batch.limit(0), keyCols, versionCol)
      .withColumn(upsertBucketCol, bucketOf)
    // bounded collect: at most nBuckets small ints, one job collecting a
    // per-partition set (no distinct shuffle). The raw batch's buckets
    // are those of `compacted` (upsertLatest keeps every key group), so
    // the compaction's shuffle is not rerun
    val batchTouched = batch.select(bucketOf).queryExecution.toRdd
      .mapPartitions { rows =>
        val seen = scala.collection.mutable.BitSet.empty
        rows.foreach(r => seen += r.getInt(0))
        Iterator.single(seen.toArray)
      }
      .collect().flatten
    val touched =
      (if (homogenize) batchTouched ++ live.keys else batchTouched)
        .distinct.sorted
    // a delta merge APPENDS; but a homogenizing heal must still
    // rewrite, so that merge runs eager even on a delta-opted sink
    // (rare, one-shot by construction)
    val effectiveDelta = delta && !homogenize
    // (new live set, the fresh files' stats)
    val (newLive, freshStats) =
      if (touched.isEmpty) (live, Map.empty: FileStats) // empty batch: manifest advances the watermark only
      else {
        // current state of ONLY the touched buckets, by explicit file
        // list from the manifest (never a directory listing); leaf-file
        // reads carry no partition column, so the bucket is recomputed
        // from the keys (deterministic)
        val currentRels = touched.toSeq.flatMap(live.get).flatten
        val out: DataFrame =
          if (effectiveDelta || currentRels.isEmpty) {
            // a widening merge can still strand narrow files in
            // untouched (or, delta: unread) buckets; probe one live
            // footer for the sticky-flag decision. Compare WITHOUT the
            // internal bucket tag — data files never carry it (it is
            // the partition dir), and including it read every delta
            // merge as "widening", leaving delta tables permanently
            // mixed-flagged (round-15 fix, caught by the recluster spec)
            val probe = live.values.flatten.headOption
            // probe through the era translation: an old-era file read
            // raw would compare the OLD name against the batch's new
            // one and flag every post-rename delta merge as "widening"
            if (probe.exists(f => widens(
                readFilesTranslated(spark, table, prevColIds, Seq(f),
                  mergeSchema = false),
                compacted.drop(upsertBucketCol))))
              widenedThisBatch = true
            compacted.repartition(touched.length, col(upsertBucketCol)) // one file per bucket per merge
          } else {
            val raw = readFilesTranslated(spark, table, prevColIds,
              currentRels, mergeSchema = mixed)
            // committed delta history resolves BEFORE the eager fold —
            // an unreconciled union would let a superseded version
            // win a (version, ·) tie against its own later commit
            val current = prevReconcile.map { case (ks, v) =>
                reconcileRows(raw, ks, v) }.getOrElse(raw)
              .withColumn(upsertBucketCol, bucketOf)
            if (widens(current, compacted)) widenedThisBatch = true
            // the raw batch joins the single exchange: the per-key
            // aggregate compacts it and merges it in one pass
            val incoming = batch.withColumn(upsertBucketCol, bucketOf)
            mergeByBucket(alignTo(current, incoming, versionCol), incoming,
              keyCols, versionCol,
              math.min(touched.length, spark.sparkContext.defaultParallelism))
          }
        markInFlight(fs, table, batchId)
        val (rewritten, stats) = writeGeneration(out, table, batchId,
          effStatsCols, effBloomCols)
        val outLive =
          if (effectiveDelta)
            // APPEND on the touched buckets' lists — the bucket's prior
            // files stay live and the new ones stack on top (commit order
            // recovered from the gen_<id> path segment at read)
            live ++ rewritten.map { case (b, fls) =>
              b -> (live.getOrElse(b, Seq.empty) ++ fls) }
          else (live -- touched) ++ rewritten
        (outLive, stats)
      }
    // a homogenizing merge rewrote EVERY live bucket under the batch's
    // schema — no narrow file can remain (even if this batch widened
    // again), so the flag drops in this same commit
    val outMixed =
      if (homogenize && touched.nonEmpty) false
      else mixed || widenedThisBatch
    // the reconcile spec is sticky like `mixed`: set by a delta merge,
    // carried while ANY bucket may still hold unfolded deltas, dropped
    // by the full rewrites (homogenize here, [[compactUpsertTable]])
    val outReconcile =
      if (effectiveDelta) Some((keyCols, versionCol))
      else if (homogenize && touched.nonEmpty) None
      else prevReconcile
    // COMMIT HOOK: runs after this batch's staging, immediately before
    // its manifest publish — the coordination/validation seam (and how
    // the optimistic-concurrency specs provoke a deterministic race:
    // the hook runs a second writer to completion, forcing this
    // publish through the rebase path)
    beforeCommit()
    publishManifest(fs, table, batchId, nBuckets, newLive, outMixed,
      touched = Some(touched.toSeq), reconcile = outReconcile,
      keyedBy = Some(keyCols), fileStats = freshStats,
      statsCols = if (effStatsCols.nonEmpty) Some(effStatsCols) else None,
      bloomCols = if (effBloomCols.nonEmpty) Some(effBloomCols) else None,
      base = Some(head.map(_.batchId)),
      statsTz = resolveStatsTz(spark, table, head.flatMap(_.statsTz),
        effStatsCols.nonEmpty || effBloomCols.nonEmpty),
      beforeRename = beforeRename,
      colIds = prevColIds,
      versionedBy = Some(versionCol),
      beforeShardRename = beforeShardRename)
    sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
    // bound the manifest chain (every manifest is a full snapshot; see
    // compactManifests) — keeps `_manifests/` listing O(compactEvery)
    // instead of O(batches) over the sink's lifetime. Compaction is
    // OPT-IN (default 0): the original sink contract documents the
    // manifest chain as an audit trail retained forever, and a nonzero
    // default would silently prune existing sinks' commit history and
    // time travel past ~compactEvery batches. Long-lived sinks should
    // pass compactEvery explicitly (or call compactManifests on a
    // schedule) once the O(batches) listing cost matters. The same
    // opt-in also enables the mixed-schema healing rewrite above.
    if (compactEvery > 0 && manifestList(fs, table).size > compactEvery)
      compactManifests(spark, tableDir, math.max(retain, compactEvery))
  }

  /** The eager merge aggregate in ONE exchange: `current ∪ incoming`
    * (both carrying [[upsertBucketCol]]) hash-partitioned on the bucket
    * into `nParts` partitions, then one row per key — the row with the
    * highest `versionCol`, the [[graft.operators.Load.upsertLatest]]
    * arbitration (`max_by` over a struct, so `incoming` may repeat a
    * key). Grouping on (bucket, keys) is satisfied by the bucket
    * partitioning, so the aggregate adds no exchange, and every bucket's
    * rows stay in one partition. Columns come out keys first, then the
    * others in `current`'s order, then the bucket.
    */
  private def mergeByBucket(current: DataFrame, incoming: DataFrame,
                            keyCols: Seq[String], versionCol: String,
                            nParts: Int): DataFrame = {
    val all = current.unionByName(incoming)
    val group = upsertBucketCol +: keyCols
    val others = all.columns.filterNot(group.contains).toSeq
    all.repartition(nParts, col(upsertBucketCol))
      .groupBy(group.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(versionCol)).as("__r"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__r.`$c`").as(c)) :+
        col(upsertBucketCol): _*)
  }

  /** Committed DELETE from a keyed upsert table — the takedown
    * primitive ([[mergeBatchIntoTable]]'s inverse, same commit
    * protocol): rows matching `keys` on `keyCols` are removed by
    * rewriting ONLY the buckets containing those keys (per-delete I/O
    * is O(touched buckets), not O(table)), and the COMMIT is the next
    * manifest naming the rewritten files — a reader racing the delete
    * sees the previous consistent snapshot until the tiny manifest
    * rename lands. Replayed batchIds no-op; `retain` keeps the
    * pre-delete snapshot's files readable for time travel (the
    * takedown-audit window). An empty key set still advances the
    * applied-batch watermark. A bucket whose rows all die leaves the
    * manifest (empty buckets carry no files). Like the merge, it
    * refuses a directory that holds a manifest-less older layout
    * before anything is written ([[requireFormatFloor]]).
    */
  def deleteFromTable(spark: SparkSession, tableDir: String, keys: DataFrame,
                      keyCols: Seq[String], nBuckets: Int, batchId: Long,
                      retain: Int = 1,
                      beforeCommit: () => Unit = () => (),
                      beforeRename: () => Unit = () => ()): Unit = {
    import org.apache.hadoop.fs.Path
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the head manifest, listed and read once (as in the merge)
    val head = manifestList(fs, table).lastOption.map(manifestAt(fs, _))
    if (head.isEmpty) requireFormatFloor(fs, table)
    if (head.exists(_.batchId >= batchId)) return // replayed batch
    // same bucket-count guard as the merge (round 17): an incremental
    // delete under a different count would probe the wrong buckets
    head.map(_.nBuckets).foreach { rec =>
      require(rec == nBuckets,
        s"$tableDir is committed with nBuckets=$rec; this delete passed " +
          s"$nBuckets — incremental writes cannot re-bucket; " +
          "compactUpsertTable re-buckets the whole table in one commit.")
    }
    val live: Map[Int, Seq[String]] = head.map(_.live).getOrElse(Map.empty)
    val mixed = head.exists(_.mixed)
    val prevReconcile = head.flatMap(_.reconcile)
    // zone maps: a delete inherits the table's stats contract (it must
    // not silently drop the pruning the table opted into)
    val delStatsCols = head.flatMap(_.statsCols).getOrElse(Seq.empty)
    val delBloomCols = head.flatMap(_.bloomCols).getOrElse(Seq.empty)
    // barrier: the key frame feeds the touched-bucket collect AND the
    // anti-join (two consumers, the curateShard rule)
    val delKeys = keys.select(keyCols.map(col): _*).distinct()
      .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
      .localCheckpoint()
    // bounded collect: at most nBuckets small ints
    val touched = delKeys.select(upsertBucketCol).distinct()
      .collect().map(_.getInt(0)).sorted.filter(live.contains)
    val (newLive, delStats) =
      if (touched.isEmpty) (live, Map.empty: FileStats)
      else {
        val raw = readFilesTranslated(spark, table, head.flatMap(_.colIds),
          touched.toSeq.flatMap(live.get).flatten, mergeSchema = mixed)
        // delta history reconciles FIRST: the delete folds the touched
        // buckets unique-keyed, so every version of a removed key dies
        // in this one commit and survivors keep their winning row
        val remaining = prevReconcile.map { case (ks, v) =>
            reconcileRows(raw, ks, v) }.getOrElse(raw)
          .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
          .join(delKeys.select(keyCols.map(col): _*), keyCols, "left_anti")
        markInFlight(fs, table, batchId)
        val (rewritten, stats) = writeGeneration(
          remaining.repartition(touched.length, col(upsertBucketCol)),
          table, batchId, delStatsCols, delBloomCols)
        val out = if ((live -- touched).isEmpty && rewritten.isEmpty) {
          // the delete emptied the whole table: partitionBy writes no
          // file for an empty bucket, and a fileless manifest would
          // strand readers on schema inference — land ONE explicit
          // empty (schema-carrying) file instead, so the table reads
          // back as zero rows and later merges work normally
          val b = touched.head
          val genName = s"gen_$batchId"
          val d = new Path(new Path(table, genName), s"$upsertBucketCol=$b")
          remaining.drop(upsertBucketCol).limit(0).coalesce(1)
            .write.mode("overwrite").parquet(d.toString)
          val fls = fs.listStatus(d)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => s"$genName/$upsertBucketCol=$b/${f.getPath.getName}").toSeq
          Map(b -> fls)
        } else (live -- touched) ++ rewritten
        (out, stats)
      }
    // commit hook (the mergeBatchIntoTable seam — see there)
    beforeCommit()
    // untouched buckets may still hold unfolded deltas — carry the spec
    publishManifest(fs, table, batchId, nBuckets, newLive, mixed,
      touched = Some(touched.toSeq), reconcile = prevReconcile,
      keyedBy = Some(keyCols), fileStats = delStats,
      statsCols = if (delStatsCols.nonEmpty) Some(delStatsCols) else None,
      bloomCols = if (delBloomCols.nonEmpty) Some(delBloomCols) else None,
      base = Some(head.map(_.batchId)),
      statsTz = resolveStatsTz(spark, table, head.flatMap(_.statsTz),
        delStatsCols.nonEmpty || delBloomCols.nonEmpty),
      beforeRename = beforeRename,
      colIds = head.flatMap(_.colIds))
    sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
  }

  /** Can a file with these recorded stats hold a row matching every
    * bound? Missing stats are conservative (yes); an all-null column
    * matches no range. Shared by the delete classifier and the
    * retention monitor so they can never disagree.
    */
  private[streaming] def statsOverlap(stats: FileStats,
                           typed: Seq[(String, DataType, Option[String], Option[String])],
                           rel: String): Boolean =
    typed.forall { case (c, dt, lo, hi) =>
      // an EMPTY interval (lo > hi — e.g. contradictory equalities
      // intersected by the scan extractor) matches no row in ANY file,
      // whatever its stats say; this is also what keeps the bloom
      // probe's keep-first-literal shortcut sound (ZoneMapFileIndex
      // .extractEqualities) — the range path prunes the contradiction
      // before the bloom layer can decide anything
      if (lo.isDefined && hi.isDefined && statCompare(dt, lo.get, hi.get) > 0)
        false
      else stats.get(rel).flatMap(_.get(c)) match {
        case None => true // no stats: conservative, treat as overlapping
        case Some((None, None)) => false // all-null: no row matches
        case Some((Some(mn), Some(mx))) =>
          lo.forall(l => statCompare(dt, mx, l) >= 0) &&
            hi.forall(h => statCompare(dt, mn, h) <= 0)
        case Some(_) => true
      }
    }

  /** RETENTION MONITOR — is a [[deleteUpsertTableWhere]] due, from
    * METADATA alone? Returns (overlapping live files, contract
    * covers): the count of live files whose recorded stats could hold
    * a matching row (files without stats count — conservative), and
    * whether the table's stats contract covers every bound column.
    * The nightly retention leg acts only on (backlog > 0, covers) —
    * without the contract the backlog can never drain (stat-less
    * rewrites stay "overlapping" forever) and acting would re-rewrite
    * the same files night after night; the leg reports that red
    * instead of thrashing. One manifest + shard-stats read, no data
    * files.
    */
  def retentionBacklog(spark: SparkSession, tableDir: String,
                       bounds: Seq[ColBound]): (Int, Boolean) = {
    import org.apache.hadoop.fs.Path
    require(bounds.nonEmpty, "retentionBacklog needs at least one bound")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = manifestList(fs, table).lastOption.getOrElse(
      return (0, false))
    val covers = manifestAt(fs, manifest).statsCols.exists(cs =>
      bounds.forall(b => cs.contains(b.column)))
    val allFiles = readManifest(fs, manifest)._2.values.flatten.toSeq
    if (allFiles.isEmpty) return (0, covers)
    val schema = spark.read
      .parquet(new Path(table, allFiles.head).toString).schema
    val typed = bounds.map { b =>
      require(schema.fieldNames.contains(b.column),
        s"$tableDir has no column '${b.column}' to bound on")
      val dt = schema(b.column).dataType
      (b.column, dt, b.lo.map(canonicalBound(dt, _)),
        b.hi.map(canonicalBound(dt, _)))
    }
    val stats = manifestFileStats(fs, manifest)
    (allFiles.count(statsOverlap(stats, typed, _)), covers)
  }

  /** COMMIT LOG AS A DATAFRAME — the table's retained manifest chain,
    * one row per commit, from metadata alone: (batch_id, kind — the
    * writer's tag, "write" when untagged; base — the parent watermark
    * the commit was built on, when recorded; n_buckets, n_files,
    * n_rows — summed from per-file stats when EVERY live file carries
    * one, else null: refusal over guessing, the
    * [[tableRowCountFromStats]] rule; mixed / reconcile / keyed_by
    * contract flags). "What happened to this table and when" is one
    * bounded scan of tiny objects — the chain is already bounded by
    * [[compactManifests]], and pinned snapshots stay listed.
    */
  def tableHistory(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).map { p =>
      val (id, live) = readManifest(fs, p)
      val (_, base, kind) = manifestCommitMeta(fs, p)
      val files = live.values.flatten.toSeq
      val stats = manifestFileStats(fs, p)
      val counts = files.map(rel =>
        stats.get(rel).flatMap(_.get(statsRowsKey)).flatMap(_._1))
      val nRows: Option[Long] =
        if (files.isEmpty) Some(0L)
        else if (counts.exists(_.isEmpty)) None
        else Some(counts.flatten.map(_.toLong).sum)
      (id, kind.getOrElse("write"), base.flatten,
        manifestAt(fs, p).nBuckets, files.size.toLong, nRows,
        manifestAt(fs, p).mixed, manifestAt(fs, p).reconcile.isDefined,
        manifestAt(fs, p).keyedBy.map(_.mkString(",")))
    }.toDF("batch_id", "kind", "base", "n_buckets", "n_files", "n_rows",
      "mixed", "reconcile", "keyed_by")
  }

  /** Outcome of one [[deleteUpsertTableWhere]] commit: how the live
    * files classified. `filesDropped` left the manifest WITHOUT being
    * read (zone maps + null counts proved every row matched);
    * `filesCarried` kept their pointers untouched (provably disjoint
    * from the predicate); only `filesRewritten` paid a read + write.
    * At 100 TB a retention delete ("everything older than T") on a
    * time-clustered table drops whole months metadata-only and
    * rewrites only the boundary files.
    */
  final case class DeleteWhereReport(batchId: Long, filesDropped: Int,
                                     filesRewritten: Int, filesCarried: Int,
                                     bucketsTouched: Int)

  /** PREDICATE DELETE with metadata-only file drops — the retention
    * shape: delete every row matching a conjunction of inclusive
    * [[ColBound]]s (the [[readUpsertTableWhere]] predicate language;
    * NULL in a bound column never matches, so those rows survive).
    * The result equals rewriting the table as
    * `readUpsertTable(...).filter(!pred)` — but the commit classifies
    * each live file against its recorded zone maps first:
    *
    *  - DISJOINT (recorded range cannot overlap any bound, or all-null
    *    in a bound column): the file CARRIES — pointer, stats and
    *    bytes untouched;
    *  - FULLY COVERED (every bound column's recorded min AND max lie
    *    inside the bound and its recorded null count is zero — every
    *    row provably matches): the file DROPS from the manifest
    *    without being read, the metadata-only path;
    *  - otherwise it REWRITES: read, keep `!coalesce(pred, false)`,
    *    land under this commit's generation.
    *
    * Soundness under deltas rides the per-bucket reconcile rule: in a
    * bucket stacking multiple commit ordinals a row's visibility is
    * not per-file (a dropped winner would resurrect a superseded
    * version), so any OVERLAPPING delta bucket reconciles whole and
    * rewrites (folding it as a side effect); single-ordinal buckets
    * are unique-keyed by the merge contract and classify per file.
    * Files without recorded stats (pre-contract commits) or null
    * counts (pre-r14 stats) conservatively rewrite — never drop.
    *
    * Commit protocol is [[deleteFromTable]]'s: staged generation,
    * manifest publish naming only CHANGED buckets (untouched buckets
    * reuse pointers — O(changed) metadata), inherited stats/bloom
    * contracts with fresh files re-statted, post-commit sweep.
    * Replayed batchIds return None. Requires a committed manifest and
    * a recorded key contract (rewritten rows re-bucket by key hash).
    */
  def deleteUpsertTableWhere(spark: SparkSession, tableDir: String,
                             bounds: Seq[ColBound], batchId: Long,
                             retain: Int = 1): Option[DeleteWhereReport] = {
    import org.apache.hadoop.fs.Path
    require(bounds.nonEmpty, "deleteUpsertTableWhere needs at least one bound")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = manifestList(fs, table).lastOption.getOrElse(
      throw new IllegalStateException(
        s"$tableDir has no committed manifest; run one mergeBatchIntoTable " +
          "before deleteUpsertTableWhere"))
    val (prevId, live) = readManifest(fs, manifest)
    if (prevId >= batchId) return None // replayed batch
    val nBuckets = manifestAt(fs, manifest).nBuckets
    val mixed = manifestAt(fs, manifest).mixed
    val prevReconcile = manifestAt(fs, manifest).reconcile
    val keyCols = manifestAt(fs, manifest).keyedBy.getOrElse(
      throw new IllegalStateException(
        s"$tableDir's manifest records no key contract (pre-r14 writer); " +
          "predicate deletes re-bucket rewritten rows by key — run one " +
          "merge so the table adopts it"))
    val delStatsCols = manifestAt(fs, manifest).statsCols.getOrElse(Seq.empty)
    val delBloomCols = manifestAt(fs, manifest).bloomCols.getOrElse(Seq.empty)
    val allFiles = live.values.flatten.toSeq
    val zero = DeleteWhereReport(batchId, 0, 0, allFiles.size, 0)
    def commit(newLive: Map[Int, Seq[String]], touched: Seq[Int],
               freshStats: FileStats): Unit = {
      publishManifest(fs, table, batchId, nBuckets, newLive, mixed,
        touched = Some(touched), reconcile = prevReconcile,
        keyedBy = Some(keyCols), fileStats = freshStats,
        statsCols = if (delStatsCols.nonEmpty) Some(delStatsCols) else None,
        bloomCols = if (delBloomCols.nonEmpty) Some(delBloomCols) else None,
        base = Some(Some(prevId)),
        // "kind":"delete" marks this commit's carry+rewrite bucket mix
        // as UNIQUE-KEYED BY CONSTRUCTION (carried and rewritten files
        // partition the bucket's rows) — fsck's delta_spec_present
        // reads it to tell the legal mix from a lost reconcile spec
        kind = Some("delete"),
        statsTz = resolveStatsTz(spark, table, manifestAt(fs, manifest).statsTz,
          delStatsCols.nonEmpty || delBloomCols.nonEmpty),
        colIds = manifestAt(fs, manifest).colIds)
      sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
    }
    if (allFiles.isEmpty) { commit(live, Seq.empty, Map.empty); return Some(zero) }
    // LOGICAL schema (era-translated): bounds name current columns
    val schema = readFilesTranslated(spark, table,
      manifestAt(fs, manifest).colIds, Seq(allFiles.head),
      mergeSchema = false).schema
    val typed = bounds.map { b =>
      require(schema.fieldNames.contains(b.column),
        s"$tableDir has no column '${b.column}' to delete on")
      val dt = schema(b.column).dataType
      (b.column, dt, b.lo.map(canonicalBound(dt, _)),
        b.hi.map(canonicalBound(dt, _)))
    }
    val stats = manifestFileStats(fs, manifest)
    // the read-side overlap test: can this file hold a matching row?
    def overlaps(rel: String): Boolean = statsOverlap(stats, typed, rel)
    // the drop-side coverage proof: does EVERY row provably match?
    def fullyCovered(rel: String): Boolean = typed.forall { case (c, dt, lo, hi) =>
      val noNulls = stats.get(rel).flatMap(_.get(nullKey(c)))
        .flatMap(_._1).contains("0")
      noNulls && (stats.get(rel).flatMap(_.get(c)) match {
        case Some((Some(mn), Some(mx))) =>
          lo.forall(l => statCompare(dt, mn, l) >= 0) &&
            hi.forall(h => statCompare(dt, mx, h) <= 0)
        case _ => false // no/partial range recorded: not provable
      })
    }
    // classify per bucket: (carried, dropped, plain rewrites) at file
    // granularity; an OVERLAPPING delta-stacking bucket reconciles and
    // rewrites whole (per-file visibility is unsound there)
    val deltaBuckets: Set[Int] =
      if (prevReconcile.isEmpty) Set.empty
      else live.filter(_._2.map(fileOrdinal).distinct.size > 1).keySet
    var carried = Map.empty[Int, Seq[String]]
    var drops = List.empty[String]
    var plainRewrite = List.empty[String]
    var deltaRewrite = List.empty[String]
    live.foreach { case (b, fls) =>
      if (deltaBuckets(b)) {
        if (fls.exists(overlaps)) deltaRewrite :::= fls.toList
        else carried += b -> fls
      } else {
        val (hit, miss) = fls.partition(overlaps)
        val (covered, partial) = hit.partition(fullyCovered)
        drops :::= covered.toList
        plainRewrite :::= partial.toList
        if (miss.nonEmpty) carried += b -> miss
      }
    }
    val touched = live.keySet.filter(b =>
      carried.get(b).map(_.toSet) != live.get(b).map(_.toSet)).toSeq.sorted
    if (touched.isEmpty) { // nothing overlaps: a pure watermark advance
      commit(live, Seq.empty, Map.empty)
      return Some(zero.copy(bucketsTouched = 0))
    }
    val keep = { // rows where the predicate is NOT true (NULL survives)
      val pred = bounds.map { b =>
        val dt = schema(b.column).dataType
        val lo = b.lo.map(v => col(b.column) >= lit(v).cast(dt))
        val hi = b.hi.map(v => col(b.column) <= lit(v).cast(dt))
        (lo.toSeq ++ hi.toSeq).reduce(_ && _)
      }.reduce(_ && _)
      !coalesce(pred, lit(false))
    }
    // era translation (round 16): boundary files written before a
    // rename read under their physical names and project to current —
    // the keep-predicate and the re-bucket hash reference current
    // names, and the survivors land current-named under this commit's
    // ordinal
    def scan(rels: Seq[String]) = readFilesTranslated(spark, table,
      manifestAt(fs, manifest).colIds, rels, mergeSchema = mixed)
    val survivorParts = Seq(
      if (plainRewrite.isEmpty) None else Some(scan(plainRewrite).filter(keep)),
      if (deltaRewrite.isEmpty) None
      else Some(prevReconcile.map { case (ks, v) =>
        reconcileRows(scan(deltaRewrite), ks, v) }.get.filter(keep))).flatten
    val (rewritten, freshStats) =
      if (survivorParts.isEmpty) (Map.empty[Int, Seq[String]], Map.empty: FileStats)
      else {
        markInFlight(fs, table, batchId)
        val survivors = survivorParts
          .reduce(_.unionByName(_, allowMissingColumns = true))
          .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
        writeGeneration(survivors.repartition(touched.length, col(upsertBucketCol)),
          table, batchId, delStatsCols, delBloomCols)
      }
    val merged = (live.keySet ++ rewritten.keySet).flatMap { b =>
      val fls = carried.getOrElse(b, Seq.empty) ++ rewritten.getOrElse(b, Seq.empty)
      if (fls.isEmpty) None else Some(b -> fls)
    }.toMap
    val newLive = if (merged.isEmpty) {
      // the delete emptied the table: land ONE explicit schema-carrying
      // empty file (the deleteFromTable convention — a fileless
      // manifest strands readers on schema inference)
      val b = touched.head
      markInFlight(fs, table, batchId)
      val genName = s"gen_$batchId"
      val d = new Path(new Path(table, genName), s"$upsertBucketCol=$b")
      scan(allFiles.take(1)).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(d.toString)
      val fls = fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$genName/$upsertBucketCol=$b/${f.getPath.getName}").toSeq
      Map(b -> fls)
    } else merged
    commit(newLive, touched, freshStats)
    Some(DeleteWhereReport(batchId, drops.size,
      plainRewrite.size + deltaRewrite.size,
      allFiles.size - drops.size - plainRewrite.size - deltaRewrite.size,
      touched.size))
  }

  /** Read back the logical table the upsert sink maintains: exactly the
    * files the latest committed manifest names (a consistent snapshot —
    * an in-flight merge's staged generation is invisible until its
    * manifest publishes). A table with no committed file fails by name
    * ([[noSnapshot]]).
    */
  def readUpsertTable(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).lastOption
      .map(p => (p, readManifest(fs, p))) match {
      case Some((p, (_, live))) if live.valuesIterator.exists(_.nonEmpty) =>
        // mergeSchema only for flagged snapshots; the reconcile spec
        // (delta tables) resolves latest-per-key — both through
        // [[readSnapshotFiles]], the one reader funnel
        readSnapshotFiles(spark, table, fs, p, live)
      case committed => noSnapshot(fs, table, committed.isDefined)
    }
  }

  /** BUCKET-PRUNED POINT READ: the table restricted to `keys`, reading
    * ONLY the buckets those keys hash into — the audit/point-lookup
    * primitive. A takedown audit or spot-check against a 100 TB table
    * asks after a handful of keys; a full scan + filter reads every
    * bucket to answer it, while the bucketing already knows where the
    * keys live. Resolution: one manifest read, the probe frame CAST to
    * the table's own key types (one-footer probe — the bucket hash is
    * type-sensitive) and bucket-tagged with `pmod(hash(keys),
    * nBuckets)`; when the manifest records its key contract (every
    * r14+ writer) a partial-key probe fails loudly; the at-most-
    * nBuckets touched bucket ids collected (bounded by contract), and
    * only their files scanned; a delta table's reconcile spec applies
    * to the subset (buckets partition keys, so the restriction is
    * reconcile-closed). The final semi join broadcasts the tiny key
    * frame. Requires a committed manifest (its bucket map is what the
    * read prunes by).
    */
  def readUpsertTableForKeys(spark: SparkSession, tableDir: String,
                             keys: DataFrame,
                             keyCols: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = manifestList(fs, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; the point read prunes by " +
          "the manifest's bucket map — run one mergeBatchIntoTable first"))
    pointReadAtManifest(spark, tableDir, table, fs, manifest, keys, keyCols)
  }

  /** [[readUpsertTableForKeys]] AS OF a batch boundary: the bucket-
    * pruned point read against the manifest committed STRICTLY BELOW
    * `batchId` — what a PINNED audit uses so a handful-of-keys check
    * against a historical snapshot reads the keys' buckets, not the
    * pinned file set. Mirrors [[readUpsertTableBeforeOpt]]'s shape:
    * None = no manifest below the boundary; Some(None) = the resolving
    * snapshot is committed-empty; Some(Some(df)) = the pruned read.
    */
  def readUpsertTableForKeysBefore(spark: SparkSession, tableDir: String,
                                   keys: DataFrame, keyCols: Seq[String],
                                   batchId: Long): Option[Option[DataFrame]] = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).map(p => (p, readManifest(fs, p)))
      .filter(_._2._1 < batchId).lastOption
      .map {
        case (p, (_, live)) if live.valuesIterator.exists(_.nonEmpty) =>
          Some(pointReadAtManifest(spark, tableDir, table, fs, p, keys, keyCols))
        case _ => None // committed empty: a snapshot of zero rows
      }
  }

  /** The key contract of the manifest resolving STRICTLY BELOW
    * `batchId` — the record a pinned audit must validate against (the
    * contract could have been adopted only after the pin).
    */
  def tableKeyedByBefore(spark: SparkSession, tableDir: String,
                         batchId: Long): Option[Seq[String]] = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).map(p => (p, manifestAt(fs, p).batchId))
      .filter(_._2 < batchId).lastOption
      .flatMap(p => manifestAt(fs, p._1).keyedBy)
  }

  private def pointReadAtManifest(spark: SparkSession, tableDir: String,
                                  table: org.apache.hadoop.fs.Path,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  manifest: org.apache.hadoop.fs.Path,
                                  keys: DataFrame,
                                  keyCols: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (_, live) = readManifest(fs, manifest)
    val nBuckets = manifestAt(fs, manifest).nBuckets
    // probing a PARTIAL key would hash into the wrong buckets and read
    // empty where rows exist — when the manifest records its key
    // contract (every r14+ writer), a mismatched probe fails loudly
    manifestAt(fs, manifest).keyedBy.foreach(ks =>
      require(ks == keyCols,
        s"$tableDir is keyed (${ks.mkString(",")}); a point read on " +
          s"(${keyCols.mkString(",")}) would hash into the wrong buckets"))
    val allFiles = live.values.flatten.toSeq
    if (allFiles.isEmpty) return readUpsertTable(spark, tableDir).limit(0)
    // one-footer probe: the bucket hash is TYPE-sensitive (a long key
    // probed as an int hashes elsewhere) — align the probe frame to
    // the table's own key types before tagging
    val schema = spark.read
      .parquet(new Path(table, allFiles.head).toString).schema
    // barrier: the key frame feeds the bucket collect AND the semi probe
    val k = keys
      .select(keyCols.map(c => col(c).cast(schema(c).dataType).as(c)): _*)
      .distinct()
      .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
      .localCheckpoint()
    // bounded collect: at most nBuckets small ints
    val buckets = k.select(upsertBucketCol).distinct().collect()
      .map(_.getInt(0)).toSet
    val wanted = live.filter(kv => buckets.contains(kv._1) && kv._2.nonEmpty)
    if (wanted.isEmpty)
      // none of the requested buckets holds files: empty result with
      // the table's schema, no data scan (limit 0 prunes the read)
      return readUpsertTable(spark, tableDir).limit(0)
    // ZONE MAPS compose with the bucket prune: when the table records
    // stats on every key column and holds no unfolded deltas, files in
    // the wanted buckets whose key range cannot cover the probe's
    // [min, max] never open (within-bucket file pruning is only sound
    // on reconcile-free snapshots — the readUpsertTableWhere rule).
    // Metadata stays O(wanted buckets): only their shards' stats read.
    val statCols = manifestAt(fs, manifest).statsCols.getOrElse(Seq.empty)
    val zonePrunable = manifestAt(fs, manifest).reconcile.isEmpty &&
      keyCols.nonEmpty && keyCols.forall(statCols.contains) &&
      keyCols.forall(c => statSupported(schema(c).dataType))
    val scanSet =
      if (!zonePrunable) wanted
      else {
        val stats = bucketFileStats(fs, manifest, Some(wanted.keySet))
        // bounded collect: one row of 2 canonical strings per key col
        val rangeRow = k.select(keyCols.flatMap { c =>
          val dt = schema(c).dataType
          Seq(statValue(min(col(c)), dt, c), statValue(max(col(c)), dt, c))
        }: _*).head()
        val ranges = keyCols.zipWithIndex.map { case (c, i) =>
          (c, schema(c).dataType, rangeRow.getString(2 * i),
            rangeRow.getString(2 * i + 1))
        }
        if (ranges.exists(r => r._3 == null || r._4 == null)) wanted // null keys: skip
        else {
          def overlaps(rel: String): Boolean = ranges.forall { case (c, dt, lo, hi) =>
            stats.get(rel).flatMap(_.get(c)) match {
              case None => true // no stats recorded: conservative
              case Some((None, None)) => false // all-null file
              case Some((Some(mn), Some(mx))) =>
                statCompare(dt, mx, lo) >= 0 && statCompare(dt, mn, hi) <= 0
              case Some(_) => true
            }
          }
          wanted.map { case (b, fls) => b -> fls.filter(overlaps) }
            .filter(_._2.nonEmpty)
        }
      }
    if (scanSet.isEmpty) return readUpsertTable(spark, tableDir).limit(0)
    readSnapshotFiles(spark, table, fs, manifest, scanSet)
      .join(broadcast(k.drop(upsertBucketCol)), keyCols, "left_semi")
  }

  /** TIME TRAVEL: the table as of the newest committed batchId <= the
    * requested one. The commit HISTORY is known as far back as the
    * manifest chain reaches (bounded by the sink's `compactEvery` —
    * see [[compactManifests]]); the snapshot's DATA files are readable
    * as long as the sink's `retain` window still covers them
    * (retain = 1 keeps only the current snapshot's files; larger
    * values trade storage for readable history — the standard
    * lakehouse snapshot-retention dial).
    */
  def readUpsertTableAt(spark: SparkSession, tableDir: String, batchId: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = manifestList(fs, table)
      .map(p => (p, readManifest(fs, p)))
      .filter(_._2._1 <= batchId).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no committed snapshot at or before batch $batchId in $tableDir"))
    readSnapshotFiles(spark, table, fs, snap._1, snap._2._2)
  }

  /** The table as of the newest committed manifest STRICTLY BEFORE
    * `batchId`, or None when no such snapshot exists (the first batch
    * — or its replay). This is the read a foreachBatch body must use
    * for a state table IT ALSO WRITES under the same batchId: on
    * crash-replay of batch N the state table may already hold N's own
    * commit, and reading "latest" would feed the batch its own output
    * (e.g. an exact-dedup anti-join that empties the replayed shard,
    * silently losing its survivors downstream). Pair with `retain >= 2`
    * on the state merge so the pre-batch snapshot's data files survive
    * the batch-N sweep for the replay to read.
    */
  def readUpsertTableBefore(spark: SparkSession, tableDir: String,
                            batchId: Long): Option[DataFrame] =
    readUpsertTableBeforeOpt(spark, tableDir, batchId).flatten

  /** [[readUpsertTableBefore]] with the COMMITTED-EMPTY case made
    * distinguishable (ADVICE r12): a takedown that kills every row of a
    * bucket leaves the resolving manifest with no files, which is a
    * real committed snapshot of zero rows — the primary verdict of a
    * total-takedown audit — not "nothing committed". Returns None when
    * NO manifest is committed strictly below `batchId`; Some(None) when
    * the resolving manifest exists but names no files (committed
    * empty); Some(Some(df)) for a readable snapshot.
    */
  def readUpsertTableBeforeOpt(spark: SparkSession, tableDir: String,
                               batchId: Long): Option[Option[DataFrame]] = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table)
      .map(p => (p, readManifest(fs, p)))
      .filter(_._2._1 < batchId).lastOption
      .map {
        case (p, (_, live)) if live.valuesIterator.exists(_.nonEmpty) =>
          Some(readSnapshotFiles(spark, table, fs, p, live))
        case _ => None // committed empty: a snapshot of zero rows
      }
  }

  /** Highest committed batchId of a keyed upsert table — the
    * applied-batch watermark (None when nothing is committed).
    * The guard multi-commit operations use to decide, on replay,
    * whether a half of their commit pair already landed.
    */
  def appliedBatch(spark: SparkSession, tableDir: String): Option[Long] =
    headManifest(spark, tableDir).map(_.batchId)

  /** The live (bucket -> data files) map of the latest committed
    * manifest — empty when nothing is committed. Exposed for inspection
    * and tests (e.g. asserting a merge left untouched buckets'
    * files byte-identical).
    */
  def tableManifest(spark: SparkSession, tableDir: String): Map[Int, Seq[String]] =
    headManifest(spark, tableDir).map(_.live).getOrElse(Map.empty)

  /** The newest committed batchId of an upsert table, None if nothing
    * has committed. Exposed for train-once guards (a builder that must
    * refuse to overwrite an existing committed model — Models q161/q166
    * — checks this before merging) and for tests.
    */
  def latestCommittedBatchId(spark: SparkSession, tableDir: String): Option[Long] =
    headManifest(spark, tableDir).map(_.batchId)

  private def manifestsDir(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_manifests")

  /** A table directory holding data in a layout older than the
    * manifest format; [[requireFormatFloor]] names the layout found.
    */
  final class FormatFloorException(val table: String, val layout: String)
    extends IllegalStateException(s"$table holds $layout and no committed " +
      "manifest: that layout is below the table format floor, which reads " +
      "and writes only manifest-committed tables; rebuild the table by " +
      "merging its rows into a new directory")

  /** A read of a table with no committed snapshot that carries a schema:
    * nothing is committed, or the head manifest names no file.
    */
  final class NoSnapshotException(val table: String, val committedEmpty: Boolean)
    extends IllegalStateException(
      if (committedEmpty) s"$table's committed snapshot names no file, so it has no schema to read"
      else s"$table has no committed manifest to read")

  /** The FORMAT FLOOR, the one check every entry point runs on a table
    * without a committed manifest (so a normal commit makes no extra
    * filesystem call). Such a directory may be absent, empty, or hold
    * the debris of an uncommitted first commit (`gen_<id>/`,
    * `_inflight/`, `_manifests/`). If it holds data of a manifest-less
    * older layout, this throws [[FormatFloorException]] naming it
    * before anything is written: the post-commit sweep deletes every
    * file no manifest names, so a first commit over such a directory
    * would delete its data.
    */
  private def requireFormatFloor(fs: org.apache.hadoop.fs.FileSystem,
                                 table: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(table)) {
      val layouts = fs.listStatus(table).toSeq.flatMap { st =>
        (st.isFile, st.getPath.getName) match {
          case (true, n) if n.endsWith(".parquet") => Some("flat root-level part files")
          case (false, n) if n.startsWith(s"$upsertBucketCol=") =>
            Some(s"manifest-less $upsertBucketCol=* dirs")
          case (false, n) if n == "_commits" || n.startsWith("_staging_") =>
            Some("the dir-swap sink's _commits/ markers or _staging_* dirs")
          case (false, "current" | "_retiring") => Some("the sketch sink's current/ dir")
          case _ => None
        }
      }.distinct
      if (layouts.nonEmpty) throw new FormatFloorException(table.toString, layouts.mkString(" and "))
    }

  /** A read of a table that has no committed file to read: an older
    * layout fails the format floor; otherwise the table has no
    * committed manifest, or its head names no file (an empty first
    * batch) and so carries no schema — [[NoSnapshotException]].
    */
  private def noSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                         table: org.apache.hadoop.fs.Path, committed: Boolean): Nothing = {
    if (!committed) requireFormatFloor(fs, table)
    throw new NoSnapshotException(table.toString, committed)
  }

  /** Committed manifest files, oldest → newest (zero-padded names sort
    * by batchId).
    */
  private def manifestList(fs: org.apache.hadoop.fs.FileSystem,
                           table: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val dir = manifestsDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  /** IN-FLIGHT STAGING TOKENS (optimistic concurrency): a writer drops
    * `_inflight/<batchId>` BEFORE staging its generation dir and
    * [[publishManifest]] removes it after the commit rename, so a
    * CONCURRENT writer's post-commit sweep can tell an in-flight
    * staging (token present, id uncommitted — protect it) from
    * superseded debris. A token whose id IS committed is a crash
    * leftover (died between rename and token delete) — sweeps collect
    * it and treat the generation normally (it is manifest-referenced).
    * A token whose id is never committed nor replayed protects its
    * staging indefinitely — bounded debris an operator reclaims by
    * replaying or abandoning the id (delete the token, then vacuum);
    * the alternative (sweeping a live writer's staging) silently
    * corrupts its commit.
    */
  private def inflightDir(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_inflight")

  private def markInFlight(fs: org.apache.hadoop.fs.FileSystem,
                           table: org.apache.hadoop.fs.Path,
                           batchId: Long): Unit = {
    val d = inflightDir(table)
    fs.mkdirs(d)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, f"$batchId%020d"), true)
    out.close()
  }

  /** The uncommitted in-flight ids (protected from sweeps); stale
    * tokens (id already committed) are collected on the way.
    */
  private def inflightIds(fs: org.apache.hadoop.fs.FileSystem,
                          table: org.apache.hadoop.fs.Path): Set[Long] = {
    val d = inflightDir(table)
    if (!fs.exists(d)) Set.empty
    else {
      val committedIds = manifestList(fs, table)
        .flatMap(p => p.getName.takeWhile(_ != '.').toLongOption).toSet
      fs.listStatus(d).filter(_.isFile).flatMap { t =>
        t.getPath.getName.toLongOption match {
          case Some(id) if committedIds(id) =>
            fs.delete(t.getPath, false); None // stale: its publish landed
          case other => other
        }
      }.toSet
    }
  }

  /** A whole small metadata file (manifest list, shard, token) as text. */
  private def readText(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** `"a","b"` (the body of a writer-format JSON string array) as a Seq. */
  private def quotedList(s: String): Seq[String] =
    if (s.isEmpty) Seq.empty
    else s.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq

  /** One committed manifest list, its body read ONCE: every field below
    * parses lazily from that same body, so a caller that needs several
    * of them (a merge reads mixed, reconcile, the contracts and the live
    * set of the head) pays one listing and one small-object read.
    *
    * TWO shapes exist (round 13 sharded the metadata):
    *   - SHARDED (current writer): the list file carries per-bucket
    *     POINTERS (`"shards":{"<b>":"<shard file>"}`) into
    *     `_manifests/shards/`, each shard file holding one bucket's
    *     full live-file list. A commit rewrites only the touched
    *     buckets' shard files plus the tiny list — O(changed) metadata
    *     per commit instead of re-serializing every live file of every
    *     bucket (the pre-r13 design's one super-linear term at 100 TB).
    *     Shard files are IMMUTABLE and shared across lists.
    *   - INLINE, the backup shape (`"buckets":{...}` with the file
    *     arrays in the list body, [[inlineManifestBody]]): what a backup
    *     commits and a restore reads; the first commit after an inline
    *     head writes the sharded shape (all buckets, once).
    *
    * The JSON is this sink's own writer format (no escapes needed —
    * paths are `gen_<id>/__bucket=<b>/part-*.parquet`), parsed with
    * regexes rather than a JSON dependency.
    */
  private final class Manifest(fs: org.apache.hadoop.fs.FileSystem,
                               val path: org.apache.hadoop.fs.Path) {
    lazy val body: String = readText(fs, path)
    private def first(re: String): Option[String] =
      re.r.findFirstMatchIn(body).map(_.group(1))
    private def list(field: String): Option[Seq[String]] =
      first(s""""$field":\\[([^\\]]*)\\]""").map(quotedList)

    lazy val batchId: Long = first(""""batchId":(-?\d+)""")
      .getOrElse(throw new IllegalStateException(s"malformed manifest $path")).toLong
    lazy val nBuckets: Int = first(""""nBuckets":(\d+)""").map(_.toInt)
      .getOrElse(throw new IllegalStateException(s"manifest $path lacks nBuckets"))
    /** See [[manifestCommitMeta]]. */
    lazy val base: Option[Option[Long]] = first(""""base":(-?\d+)""")
      .map(b => Some(b.toLong).filter(_ != -1L))
    lazy val kind: Option[String] = first(""""kind":"([a-z_]+)"""")
    /** Does this manifest mark the table's live set as MIXED-schema —
      * i.e. some committed file pre-dates a schema widening? Set sticky
      * by the first widening merge; readers pay the parquet schema-merge
      * only for flagged snapshots (unflagged tables read one footer, the
      * common case — the ADVICE-r10 adoption without a per-read tax).
      */
    lazy val mixed: Boolean = body.contains(""""mixed":1""")
    /** The RECONCILE spec — present iff the snapshot may hold more than
      * one row per key (DELTA merges committed since the last full
      * fold): `(key columns, version column)`. Readers resolve the
      * latest row per key with it ([[reconcileRows]]); its absence is
      * the contract that every live bucket is unique-keyed and reads
      * are a plain scan (the eager-merge fast path). Carried
      * manifest-to-manifest once set; dropped by [[compactUpsertTable]]
      * and by a homogenizing full rewrite, which fold every delta away.
      */
    lazy val reconcile: Option[(Seq[String], String)] =
      """"reconcile":\{"keys":\[([^\]]*)\],"version":"([^"]+)"\}""".r
        .findFirstMatchIn(body).map(m => (quotedList(m.group(1)), m.group(2)))
    /** The KEY CONTRACT — the key columns the table's commits merge on,
      * recorded by every writer since r14 (`"keyedBy":[...]`). Distinct
      * from the reconcile spec: `keyedBy` is pure metadata (no read-path
      * cost — eager tables never reconcile), present so point-read and
      * audit paths can PROVE a probe key is the table's whole key
      * instead of guessing; legacy manifests lack it and those paths
      * fall back to full scans. None for pre-r14 manifests.
      */
    lazy val keyedBy: Option[Seq[String]] = list("keyedBy")
    /** See [[versionedTag]]. */
    lazy val versionedBy: Option[String] = first(""""versionedBy":"([^"]+)"""")
    /** The STATS CONTRACT — the columns whose per-file min/max every
      * commit since the contract was set records. Sticky like the key
      * contract: merges/deletes/compactions inherit it by default, so a
      * nightly fold never silently drops the pruning a table opted
      * into. None for tables that never opted in.
      */
    lazy val statsCols: Option[Seq[String]] = list("statsCols").filter(_.nonEmpty)
    /** See [[tableBloomCols]]. */
    lazy val bloomCols: Option[Seq[String]] = list("bloomCols")
    /** The TIME ZONE the table's zone-map stats render in — recorded
      * by every stats-bearing commit since r15, because timestamp stats
      * are `date_format`-rendered WALL CLOCKS: a probe rendered in a
      * different zone compares offset strings and can prune files that
      * hold matching rows (silently wrong results). The contract is ONE
      * zone per table: writers require their session zone to match the
      * recorded one (a full [[compactUpsertTable]] recomputes every
      * file's stats and may ADOPT a new zone); readers render timestamp
      * probes in the RECORDED zone, so reads are exact from any session.
      * None for pre-r15 manifests (readers fall back to the session
      * zone — the pre-r15 behavior).
      */
    lazy val statsTz: Option[String] = first(""""statsTz":"([^"]+)"""")
    /** See [[ColIds]]. */
    lazy val colIds: Option[ColIds] = {
      val start = body.indexOf(""""colIds":{""")
      if (start < 0) None
      else {
        val open = body.indexOf('{', start)
        var depth = 0; var i = open; var end = -1
        while (i < body.length && end < 0) {
          body(i) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        val sub = body.substring(open, if (end < 0) body.length else end + 1)
        val entry = """"(\d+)":\[((?:\[[^\]]*\],?)*)\]""".r
        val pair = """\["([^"]*)",(-?\d+)\]""".r
        val m = entry.findAllMatchIn(sub).map { e =>
          e.group(1).toInt -> pair.findAllMatchIn(e.group(2))
            .map(p => (p.group(1), p.group(2).toLong)).toSeq
        }.toMap
        if (m.isEmpty) None else Some(m)
      }
    }
    /** A sharded list's (bucket -> shard file name) pointer map, parsed
      * WITHOUT touching the shard files — what pointer reuse and shard
      * GC cost. None for inline (backup-shape) lists.
      */
    lazy val shardPointers: Option[Map[Int, String]] = {
      val shardIdx = body.indexOf(shardedTag)
      if (shardIdx < 0) None
      else Some(""""(\d+)":"([^"]+)"""".r.findAllMatchIn(body.substring(shardIdx))
        .map(m => m.group(1).toInt -> m.group(2)).toMap)
    }
    /** bucket -> table-relative data files: sharded lists resolve each
      * pointer's shard file, inline (backup-shape) lists parse the body.
      */
    lazy val live: Map[Int, Seq[String]] = shardPointers match {
      case Some(ptrs) =>
        val shardsDir = new org.apache.hadoop.fs.Path(path.getParent, shardsDirName)
        ptrs.map { case (b, name) =>
          b -> readShardFiles(fs, new org.apache.hadoop.fs.Path(shardsDir, name)) }
      case None =>
        """"(\d+)":\[([^\]]*)\]""".r.findAllMatchIn(body)
          .map(m => m.group(1).toInt -> quotedList(m.group(2))).toMap
    }
  }

  private def manifestAt(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Manifest = new Manifest(fs, p)

  /** The table's newest committed manifest, if any. */
  private def headManifest(spark: SparkSession, tableDir: String): Option[Manifest] = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).lastOption.map(manifestAt(fs, _))
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): (Long, Map[Int, Seq[String]]) = {
    val m = manifestAt(fs, p)
    (m.batchId, m.live)
  }

  private val shardedTag = "\"shards\":{"
  private val shardsDirName = "shards"

  /** (batchId, base watermark the commit was computed from, commit
    * kind) from one manifest body — the metadata triple the change
    * feed walks the chain with (no shard files touched). `base` is
    * None for pre-r14 manifests (unrecorded), Some(None) for a commit
    * onto an empty table; `kind` is Some("fold") for the
    * row-preserving compaction commits the feed skips for free.
    */
  private def manifestCommitMeta(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path): (Long, Option[Option[Long]], Option[String]) = {
    val m = manifestAt(fs, p)
    (m.batchId, m.base, m.kind)
  }

  /** One manifest shard: a single bucket's live-file list. */
  private def readShardFiles(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Seq[String] =
    """"files":\[([^\]]*)\]""".r.findFirstMatchIn(readText(fs, p))
      .map(m => quotedList(m.group(1)))
      .getOrElse(throw new IllegalStateException(s"malformed manifest shard $p"))

  private def keyedTag(keyedBy: Option[Seq[String]]): String =
    keyedBy.map(ks =>
      ""","keyedBy":[""" + ks.map(k => "\"" + k + "\"").mkString(",") + "]")
      .getOrElse("")

  /** VERSION CONTRACT (round 17): which column arbitrates same-key
    * upserts — recorded sticky like `keyedBy`, adopted by the first
    * r17+ merge and REQUIRED to match from then on (one version
    * contract per table; delta tables additionally carry it in the
    * reconcile spec). What the plain-SQL write surface
    * ([[graft.sources]] MERGE INTO / UPDATE) reads to build
    * version-arbitrated batches on EAGER tables, whose manifests never
    * recorded a reconcile spec.
    */
  private def versionedTag(versionedBy: Option[String]): String =
    versionedBy.map(v => s""","versionedBy":"$v"""").getOrElse("")

  /** The latest manifest's recorded version contract, if any. */
  def tableVersionedBy(spark: SparkSession, tableDir: String): Option[String] =
    headManifest(spark, tableDir).flatMap(_.versionedBy)

  /** The latest manifest's reconcile spec (delta tables), if any. */
  private[graft] def tableReconcileSpec(spark: SparkSession,
                                        tableDir: String): Option[(Seq[String], String)] =
    headManifest(spark, tableDir).flatMap(_.reconcile)

  /** The latest manifest's bucket count, if the table is committed. */
  private[graft] def tableNBuckets(spark: SparkSession,
                                   tableDir: String): Option[Int] =
    headManifest(spark, tableDir).map(_.nBuckets)

  /** The latest committed manifest's key contract, if recorded —
    * what [[readUpsertTableForKeys]] validates against and what
    * audits use to decide a table is safely bucket-prunable.
    */
  def tableKeyedBy(spark: SparkSession, tableDir: String): Option[Seq[String]] =
    headManifest(spark, tableDir).flatMap(_.keyedBy)

  private def reconcileTag(reconcile: Option[(Seq[String], String)]): String =
    reconcile.map { case (ks, v) =>
      ""","reconcile":{"keys":[""" +
        ks.map(k => "\"" + k + "\"").mkString(",") +
        s"""],"version":"$v"}"""
    }.getOrElse("")

  // --------------------------------------------------------------------
  // ZONE MAPS: per-file column min/max recorded at commit, range reads
  // pruned against them before any data file opens
  // --------------------------------------------------------------------

  /** Per-file column stats: table-relative path -> column -> (min, max)
    * in the column's CANONICAL STRING form ([[statValue]]); (None, None)
    * marks an all-null file (no range predicate can match it).
    */
  type FileStats = Map[String, Map[String, (Option[String], Option[String])]]

  /** An inclusive range predicate for [[readUpsertTableWhere]]. Bounds
    * are strings in the column's canonical form: numbers as decimal
    * literals, dates as `yyyy-MM-dd`, timestamps as
    * `yyyy-MM-dd HH:mm:ss[.ffffff]`, strings/booleans as themselves.
    * None = unbounded on that side.
    */
  final case class ColBound(column: String, lo: Option[String] = None,
                            hi: Option[String] = None)

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** The min/max aggregate for a stats column in its canonical string
    * form — ORDER-PRESERVING per type: the aggregate runs on the native
    * type (a string min over numerics would rank "10" < "9") and only
    * the RESULT serializes, in the rendering the writer records
    * ([[graft.io.GenerationWriter.statExpr]]: timestamps as fixed-width
    * micros so the string order matches the instant order —
    * [[canonicalBound]] aligns the probe side). Unsupported types
    * (arrays, structs, binary) fail loudly rather than producing
    * unsound maps.
    */
  private def statValue(agg: org.apache.spark.sql.Column,
                        dt: DataType, colName: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.io.GenerationWriter.statExpr(
      ColumnBridge.expression(agg), dt, colName, None))
  }

  /** Compare two canonical stat strings under the column's type:
    * numerics as exact decimals (no double rounding — a shrunk range
    * would prune files that hold matching rows), everything else
    * lexicographically (canonical date/timestamp renderings are
    * order-preserving).
    */
  private[streaming] def statCompare(dt: DataType, a: String, b: String): Int = dt match {
    case FloatType | DoubleType =>
      // float/double stats can legitimately read "NaN"/"Infinity"
      // (Spark's cast-to-string of a non-finite min/max) — BigDecimal
      // would throw at scan PLANNING time; java.lang.Double orders
      // them the way Spark's min/max did (NaN largest) and parsing a
      // double's own string rendering back is exact
      java.lang.Double.compare(
        java.lang.Double.parseDouble(a), java.lang.Double.parseDouble(b))
    case _: NumericType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case StringType =>
      // CODE-POINT order, NOT String.compareTo (ADVICE r15): the
      // writer's min/max aggregated in UTF8String BINARY order, which
      // is UTF-8 byte order == code-point order. UTF-16 code-unit
      // order disagrees exactly where supplementary-plane characters
      // (surrogate pairs, units 0xD800–0xDFFF) meet high-BMP
      // characters in [0xE000, 0xFFFF] — e.g. "�" < "\u{1F600}"
      // by code point but > by code unit — and a probe comparing in
      // the wrong order can prune a file that HOLDS matching rows.
      // Canonicalizing here keeps every caller (zone maps, retention
      // coverage, clustering drift) in the writer's order.
      codePointCompare(a, b)
    case _ => a.compareTo(b) // canonical date/bool renderings are ASCII
  }

  /** Compare two strings by Unicode CODE POINT — the order
    * `UTF8String`'s binary comparison (and therefore the writer's
    * recorded string min/max) sorts in. Identical to
    * `String.compareTo` for BMP-only data; differs only when
    * supplementary-plane characters are involved.
    */
  private def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** A user bound in the column's canonical form. Timestamp bounds
    * re-render through the fixed-width micros format the stats use —
    * "2021-05-01 00:00:00" must not lexicographically undercut a file
    * min of "2021-05-01 00:00:00.000000" holding exactly that instant.
    */
  private[streaming] def canonicalBound(dt: DataType, v: String): String = dt match {
    case TimestampType =>
      val t = try java.sql.Timestamp.valueOf(v.trim)
      catch { case _: IllegalArgumentException =>
        java.sql.Timestamp.valueOf(v.trim + " 00:00:00") }
      val micros = f"${t.getNanos / 1000}%06d"
      new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(t) +
        s".$micros"
    case _ => v
  }

  /** Writes `df` (tagged with [[upsertBucketCol]]) as the generation
    * `gen_<batchId>` of `table` through [[graft.io.GenerationWriter]]:
    * bucket -> its fresh files, and their manifest stats. Every fresh
    * file records its byte length; zone maps (min/max, null counts, row
    * count, blooms) come with a stats or bloom contract, for the
    * contracted columns the frame has, computed by the write tasks — no
    * file is read back. Columns a frame lacks (pre-widening) get no
    * entry — readers treat missing stats as unprunable, the conservative
    * direction. `maxRecordsPerFile > 0` splits a bucket's files.
    */
  private def writeGeneration(df: DataFrame, table: org.apache.hadoop.fs.Path,
                              batchId: Long, statsCols: Seq[String],
                              bloomCols: Seq[String],
                              maxRecordsPerFile: Long = 0): (Map[Int, Seq[String]], FileStats) = {
    val written = graft.io.GenerationWriter.write(df, table, s"gen_$batchId",
      upsertBucketCol, statsCols, bloomCols, bloomBits,
      if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
      else Map.empty)
    val stats: FileStats = written.values.flatten.map { f =>
      val len = Some(f.bytes.toString)
      val n = Some(f.rows.toString)
      val zoneMap: Map[String, (Option[String], Option[String])] =
        if (f.rows == 0 || (f.columns.isEmpty && f.blooms.isEmpty)) Map.empty
        else f.columns.flatMap { case (c, s) =>
          val nulls = Some(s.nulls.toString)
          Seq(c -> ((s.min, s.max)), nullKey(c) -> ((nulls, nulls)))
        } ++ f.blooms.map { case (c, bits) =>
          bloomKey(c) -> ((Some(java.util.Base64.getEncoder.encodeToString(bits)), None))
        } + (statsRowsKey -> ((n, n)))
      f.rel -> (zoneMap + (statsBytesKey -> ((len, len))))
    }.toMap
    (written.map { case (b, fs) => b -> fs.map(_.rel) }, stats)
  }

  /** Reserved stats pseudo-column holding each file's row count
    * (lo = hi = count). Never a probe column — range reads iterate the
    * PROBE's columns, so the entry is invisible to pruning.
    */
  private val statsRowsKey = "__rows"

  /** Reserved stats pseudo-column per contracted column holding the
    * file's NULL count in it (lo = hi = count) — the full-coverage
    * evidence [[deleteUpsertTableWhere]]'s metadata-only drops need.
    * Files from pre-r14 commits have no entry; coverage proofs treat
    * that as unprovable (rewrite instead of drop), never unsound.
    */
  private[streaming] def nullKey(c: String) = s"__nl_$c"

  /** Reserved stats pseudo-column holding each file's BYTE LENGTH
    * (lo = hi = length), recorded for EVERY file of every rewritten
    * shard — contract or not — so [[readUpsertTableScan]] plans its
    * file index from the manifest alone instead of one driver RPC per
    * live file (at millions of files the per-file getFileStatus IS
    * the planning bottleneck). Self-healing: a shard written before
    * this key looks each missing length up once at its next rewrite
    * and carries it forever after.
    */
  private val statsBytesKey = "__bytes"

  /** Serialize a shard/manifest's stats section. Values are base64 of
    * the canonical string (stat values are arbitrary user data — quotes
    * and braces must not break the writer-format JSON the regex parsers
    * rely on); `null` marks an all-null min/max.
    */
  private def statsTag(stats: FileStats): String =
    if (stats.isEmpty) ""
    else ""","stats":{""" + stats.toSeq.sortBy(_._1).map { case (rel, cs) =>
      "\"" + rel + "\":{" + cs.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        "\"" + c + "\":[" + Seq(mn, mx).map(
          _.map(v => "\"" + b64(v) + "\"").getOrElse("null")).mkString(",") + "]"
      }.mkString(",") + "}"
    }.mkString(",") + "}"

  /** Parse a stats section out of a shard or inline-manifest body —
    * everything after the `"stats":{` marker; absent marker = no stats
    * (legacy bodies), which readers treat as unprunable.
    */
  private def parseStats(body: String): FileStats = {
    val marker = """"stats":{"""
    val idx = body.indexOf(marker)
    if (idx < 0) Map.empty
    else {
      val sub = body.substring(idx + marker.length - 1)
      """"([^"]+)":\{([^}]*)\}""".r.findAllMatchIn(sub).map { m =>
        m.group(1) -> """"([^"]+)":\[([^\]]*)\]""".r
          .findAllMatchIn(m.group(2)).map { cm =>
            val vs = cm.group(2).split(",", -1).map(_.trim)
            def dec(v: String): Option[String] =
              if (v == "null") None
              else Some(unb64(v.stripPrefix("\"").stripSuffix("\"")))
            cm.group(1) -> (dec(vs(0)), dec(vs(1)))
          }.toMap
      }.toMap
    }
  }

  /** STABLE COLUMN IDS (round 16): the manifest's `colIds` contract
    * maps an immutable numeric column id to that column's NAME HISTORY
    * — `[(name, sinceOrdinal), ...]` ascending, last = current. A
    * file written at commit ordinal `o` physically carries, for each
    * id, the last name whose `since <= o`; a RENAME is therefore a
    * METADATA-ONLY commit (append `(newName, renameBatchId)` to one
    * id's history — zero data movement at any scale), readers
    * translate old-era files to current names per snapshot, and a full
    * [[compactUpsertTable]] MATERIALIZES the rename (every file
    * rewritten under current names, histories truncated). Stats,
    * bloom and null-count entries stay keyed by the name current at
    * their file's commit — sound, because the scan path pushes
    * predicates through the per-era rename projection, so an old
    * file's stats are probed under exactly the name they were
    * recorded with. Sticky like `keyedBy`; absent on tables that
    * never renamed (the zero-cost common case).
    */
  private[graft] type ColIds = Map[Int, Seq[(String, Long)]]

  private def colIdsTag(colIds: Option[ColIds]): String =
    colIds.filter(_.nonEmpty).map { m =>
      ""","colIds":{""" + m.toSeq.sortBy(_._1).map { case (id, hist) =>
        "\"" + id + "\":[" + hist.map { case (n, s) =>
          "[\"" + n + "\"," + s + "]" }.mkString(",") + "]"
      }.mkString(",") + "}"
    }.getOrElse("")

  /** The latest manifest's column-id contract, if any. */
  def tableColIds(spark: SparkSession, tableDir: String): Option[ColIds] =
    headManifest(spark, tableDir).flatMap(_.colIds)

  /** Per-era rename map for one file ordinal: physical name -> current
    * name, only for ids whose name at `ord` differs from the current.
    * A DROPPED id (empty current name — the [[dropColumn]] tombstone)
    * maps its physical name to "" — the translation DROPS it.
    */
  private def eraRenames(colIds: ColIds, ord: Long): Map[String, String] = {
    val pairs = colIds.values.flatMap { hist =>
      val phys = hist.filter(_._2 <= ord).lastOption
        .map(_._1).getOrElse(hist.head._1)
      val cur = hist.last._1
      if (phys != cur && phys.nonEmpty) Some(phys -> cur) else None
    }.toSeq
    // one era, one owner per physical name: two ids claiming the same
    // physical column at one ordinal cannot be disambiguated from
    // metadata (ADVICE r16 — the drop-then-re-add-then-rename shape;
    // renameColumn/dropColumn refuse the allocating step, so this is a
    // defense against contracts committed before that guard)
    val dup = pairs.groupBy(_._1).collect { case (p, vs) if vs.size > 1 => p }
    require(dup.isEmpty,
      s"column-id contract is ambiguous at ordinal $ord: physical " +
        s"column(s) ${dup.mkString(",")} are claimed by more than one " +
        "id — compactUpsertTable materializes the histories; fold first")
    pairs.toMap
  }

  /** Read live files with PER-ERA column-name translation: files are
    * grouped by the rename map their commit ordinal implies, each
    * group reads under its own physical names and projects to the
    * CURRENT names, and the groups union. Tables without a multi-name
    * id take the plain one-group read (zero cost). The group count is
    * bounded by the number of renames, not files.
    */
  private def readFilesTranslated(spark: SparkSession,
                                  table: org.apache.hadoop.fs.Path,
                                  colIds: Option[ColIds],
                                  rels: Seq[String],
                                  mergeSchema: Boolean): org.apache.spark.sql.DataFrame = {
    def scanRaw(fls: Seq[String]) = spark.read
      .option("mergeSchema", mergeSchema.toString)
      .parquet(fls.map(rel =>
        new org.apache.hadoop.fs.Path(table, rel).toString): _*)
    val multi = colIds.getOrElse(Map.empty).filter(_._2.size > 1)
    if (multi.isEmpty) scanRaw(rels)
    else rels.groupBy(rel => eraRenames(multi, fileOrdinal(rel).toLong))
      .toSeq.sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (renames, fls) =>
        val d = scanRaw(fls)
        translateEra(d, d.columns.toIndexedSeq, renames)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Project one era's frame to CURRENT column names as a SINGLE
    * select — each physical column resolves to exactly one target
    * (renamed, dropped, or passed through). Sequential
    * `withColumnRenamed` steps were order-dependent when one era
    * chains renames through a reused name (ADVICE r16: with
    * {a->b, b->c} live in one map, applying a->b first renamed the
    * freshly-made b again, yielding duplicate columns or data under
    * the wrong name depending on map iteration order).
    */
  private def translateEra(d: DataFrame, physCols: Seq[String],
                           renames: Map[String, String]): DataFrame =
    d.select(physCols.flatMap { p =>
      renames.get(p) match {
        case Some("") => None // dropped id: project it away
        case Some(cur) => Some(col(p).as(cur))
        case None => Some(col(p))
      }
    }: _*)

  private def statsColsTag(statsCols: Option[Seq[String]]): String =
    statsCols.filter(_.nonEmpty).map(cs =>
      ""","statsCols":[""" + cs.map(c => "\"" + c + "\"").mkString(",") + "]")
      .getOrElse("")

  private def statsTzTag(tz: Option[String]): String =
    tz.map(z => s""","statsTz":"$z"""").getOrElse("")

  /** The latest manifest's recorded stats time zone, if any. */
  def tableStatsTz(spark: SparkSession, tableDir: String): Option[String] =
    headManifest(spark, tableDir).flatMap(_.statsTz)

  /** The stats time zone an incremental stats-bearing commit writes
    * under: the recorded zone when present (REQUIRING the session to
    * match — carried per-file stats rendered in the old zone cannot
    * mix with fresh ones in a new zone), else the session zone when
    * this commit records stats at all.
    */
  private def resolveStatsTz(spark: SparkSession,
                             table: org.apache.hadoop.fs.Path,
                             recorded: Option[String],
                             recordsStats: Boolean): Option[String] = {
    val session = spark.sessionState.conf.sessionLocalTimeZone
    recorded match {
      case Some(z) =>
        require(z == session,
          s"$table records its zone-map stats in time zone '$z' but this " +
            s"session runs '$session' — stats stay in ONE zone per table " +
            "(timestamp min/max are wall-clock strings; mixing zones makes " +
            s"pruning wrong). Set spark.sql.session.timeZone to '$z', or " +
            "fold the table (compactUpsertTable recomputes every file's " +
            "stats and adopts the new zone).")
        Some(z)
      case None => if (recordsStats) Some(session) else None
    }
  }

  // --------------------------------------------------------------------
  // BLOOM FILTERS: per-file membership sketches for equality probes on
  // columns clustering can't serve (high-cardinality, unsorted)
  // --------------------------------------------------------------------

  /** Bits per file-column bloom (512 bytes serialized). Two xxhash64
    * probes ⇒ false-positive rate ~(n/m)² — under 1% for files up to a
    * few hundred distinct values; a false positive only costs reading
    * one file that turns out empty.
    */
  private[streaming] val bloomBits = 4096

  private[streaming] def bloomKey(c: String) = s"__bloom_$c"

  private def bloomColsTag(bloomCols: Option[Seq[String]]): String =
    bloomCols.filter(_.nonEmpty).map(cs =>
      ""","bloomCols":[""" + cs.map(c => "\"" + c + "\"").mkString(",") + "]")
      .getOrElse("")

  /** The table's recorded BLOOM contract, if any — the columns whose
    * committed files carry membership sketches for equality-probe
    * pruning ([[readUpsertTableWhere]] with lo == hi). Sticky like
    * `statsCols`: None inherits, Some(cols) sets, Some(Nil) drops.
    */
  def tableBloomCols(spark: SparkSession, tableDir: String): Option[Seq[String]] =
    headManifest(spark, tableDir).flatMap(_.bloomCols)

  /** The latest manifest's stats contract, if any. */
  def tableStatsCols(spark: SparkSession, tableDir: String): Option[Seq[String]] =
    headManifest(spark, tableDir).flatMap(_.statsCols)

  /** Every live file's recorded stats under a manifest: sharded lists
    * read each bucket's shard (the same tiny objects a read already
    * pays), inline lists parse the body. Files committed before the
    * stats contract (or by legacy writers) simply have no entry.
    */
  private def manifestFileStats(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path): FileStats =
    bucketFileStats(fs, p, None)

  /** [[manifestFileStats]] restricted to `buckets` — a point read must
    * pay O(wanted buckets) metadata, not O(table).
    */
  private def bucketFileStats(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path,
                              buckets: Option[Set[Int]]): FileStats =
    manifestAt(fs, p).shardPointers match {
      case Some(pointers) =>
        val shardsDir = new org.apache.hadoop.fs.Path(p.getParent, shardsDirName)
        pointers.filter(kv => buckets.forall(_.contains(kv._1)))
          .values.toSeq.distinct.flatMap(name =>
            parseStats(readText(fs, new org.apache.hadoop.fs.Path(shardsDir, name))))
          .toMap
      case None => parseStats(readText(fs, p))
    }

  private def statSupported(dt: DataType): Boolean = dt match {
    case TimestampType | StringType | DateType | BooleanType => true
    case _: NumericType => true
    case _ => false
  }

  /** The latest snapshot's per-file stats — the pruning evidence
    * surface (what [[readUpsertTableWhere]] decides from, exposed so
    * audits and specs can verify a scan read only overlapping files).
    */
  def tableFileStats(spark: SparkSession, tableDir: String): FileStats = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestList(fs, table).lastOption
      .map(manifestFileStats(fs, _)).getOrElse(Map.empty)
  }

  /** METADATA-ONLY ROW COUNT: the table's exact count from the
    * manifest's per-file row counts (recorded by every stats-bearing
    * r14+ commit) — `SELECT count(*)` on 100 TB as one manifest read,
    * zero data files opened. None when the answer cannot be proven
    * from metadata: no manifest, a reconcile-bearing snapshot (stacked
    * superseded versions would double-count — fold first), or any live
    * file without a recorded count (pre-stats commits, tables without
    * a stats contract). Refusal over guessing: callers fall back to
    * the scan.
    */
  def tableRowCountFromStats(spark: SparkSession,
                             tableDir: String): Option[Long] = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = manifestList(fs, table).lastOption.getOrElse(return None)
    if (manifestAt(fs, m).reconcile.isDefined) return None
    val files = readManifest(fs, m)._2.values.flatten.toSeq
    if (files.isEmpty) return Some(0L) // committed empty: a real zero
    val stats = manifestFileStats(fs, m)
    val counts = files.map(rel =>
      stats.get(rel).flatMap(_.get(statsRowsKey)).flatMap(_._1))
    if (counts.exists(_.isEmpty)) None
    else Some(counts.flatten.map(_.toLong).sum)
  }

  /** METADATA-ONLY MIN/MAX of a contracted column: the table's exact
    * bounds folded from the manifest's per-file ranges — one manifest
    * read plus ONE footer (the column's type drives the comparison;
    * numeric canonical strings must not compare lexicographically).
    * Some((None, None)) = the column is entirely NULL in a non-empty
    * table. None = not provable from metadata: no manifest, a
    * reconcile-bearing snapshot (a superseded version could hold the
    * extremum), or any live file without a recorded range for this
    * column (uncontracted column, pre-stats or pre-widening files).
    * Deletes stay exact: touched buckets re-stat on rewrite, so dead
    * rows' values never linger in the fold.
    */
  def tableBoundsFromStats(spark: SparkSession, tableDir: String,
                           column: String): Option[(Option[String], Option[String])] = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = manifestList(fs, table).lastOption.getOrElse(return None)
    if (manifestAt(fs, m).reconcile.isDefined) return None
    val files = readManifest(fs, m)._2.values.flatten.toSeq
    if (files.isEmpty) return None // empty table: no bounds to state
    val stats = manifestFileStats(fs, m)
    val entries = files.map(rel => stats.get(rel).flatMap(_.get(column)))
    if (entries.exists(_.isEmpty)) return None
    val dt = spark.read
      .parquet(new org.apache.hadoop.fs.Path(table, files.head).toString)
      .schema.find(_.name == column).map(_.dataType).getOrElse(return None)
    val los = entries.flatten.flatMap(_._1)
    val his = entries.flatten.flatMap(_._2)
    if (los.isEmpty || his.isEmpty) Some((None, None)) // entirely null
    else Some((
      Some(los.reduce((a, b) => if (statCompare(dt, a, b) <= 0) a else b)),
      Some(his.reduce((a, b) => if (statCompare(dt, a, b) >= 0) a else b))))
  }

  /** RANGE READ WITH ZONE-MAP PRUNING: the snapshot filtered to
    * `bounds` (inclusive), opening ONLY the data files whose recorded
    * min/max can overlap — at 100 TB a one-day slice of a
    * time-clustered table reads the day's files, not the table. The
    * predicate ALWAYS applies on the survivors, so the result equals
    * `readUpsertTable(...).filter(...)` whatever the stats hold;
    * pruning is only ever an optimization.
    *
    * Soundness under deltas: on a table with unfolded delta commits
    * (reconcile spec present) file-level pruning could DROP a key's
    * superseded version and resurrect an in-range older one, so
    * pruning coarsens to BUCKET granularity — a bucket is skipped only
    * when NO file in it can hold a matching row (any key whose WINNING
    * row matches lives in some file whose range covers it, so its
    * bucket survives and reconciles completely; buckets partition
    * keys). Folding ([[compactUpsertTable]]) restores file-level
    * pruning — and with `sortBy`, tight disjoint ranges.
    *
    * Files without stats (legacy commits, pre-widening schemas) are
    * always read; an all-null file is always prunable (a range
    * predicate matches no null).
    */
  def readUpsertTableWhere(spark: SparkSession, tableDir: String,
                           bounds: Seq[ColBound]): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(bounds.nonEmpty, "readUpsertTableWhere needs at least one bound")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def applyBounds(df: DataFrame): DataFrame =
      bounds.foldLeft(df) { (d, b) =>
        val dt = d.schema(b.column).dataType
        val lo = b.lo.map(v => col(b.column) >= lit(v).cast(dt))
        val hi = b.hi.map(v => col(b.column) <= lit(v).cast(dt))
        (lo.toSeq ++ hi.toSeq).foldLeft(d)((dd, p) => dd.filter(p))
      }
    val manifest = manifestList(fs, table).lastOption.getOrElse(
      return applyBounds(readUpsertTable(spark, tableDir)))
    val (_, live) = readManifest(fs, manifest)
    val allFiles = live.values.flatten.toSeq
    if (allFiles.isEmpty) return applyBounds(readUpsertTable(spark, tableDir))
    val schema = spark.read
      .parquet(new Path(table, allFiles.head).toString).schema
    val typed = bounds.map { b =>
      require(schema.fieldNames.contains(b.column),
        s"$tableDir has no column '${b.column}' to bound on")
      val dt = schema(b.column).dataType
      (b.column, dt, b.lo.map(canonicalBound(dt, _)),
        b.hi.map(canonicalBound(dt, _)))
    }
    val stats = manifestFileStats(fs, manifest)
    // EQUALITY probes (lo == hi) on bloom-contracted columns also test
    // the files' membership sketches: one local job computes the two
    // xxhash64 probe positions per bound, typed exactly as the writer
    // hashed the column (hash equality needs value+type equality)
    val bloomContracted = manifestAt(fs, manifest).bloomCols
      .getOrElse(Seq.empty).toSet
    val bloomProbes: Map[String, (Int, Int)] = {
      val eqBounds = typed.filter { case (c, _, lo, hi) =>
        lo.isDefined && lo == hi && bloomContracted(c) }
      if (eqBounds.isEmpty) Map.empty
      else {
        val exprs = eqBounds.flatMap { case (c, dt, lo, _) =>
          val v = lit(lo.get).cast(dt)
          Seq(pmod(xxhash64(v), lit(bloomBits)).cast("int"),
            pmod(xxhash64(v, lit(1L)), lit(bloomBits)).cast("int"))
        }
        val row = spark.range(1).select(exprs: _*).head()
        eqBounds.zipWithIndex.map { case ((c, _, _, _), i) =>
          c -> ((row.getInt(2 * i), row.getInt(2 * i + 1)))
        }.toMap
      }
    }
    def bloomHit(rel: String, c: String): Boolean = bloomProbes.get(c) match {
      case None => true // not an equality probe / no contract
      case Some((h1, h2)) =>
        stats.get(rel).flatMap(_.get(bloomKey(c))).flatMap(_._1) match {
          case None => true // no sketch recorded: conservative, read it
          case Some(b64bits) =>
            val bits = java.util.Base64.getDecoder.decode(b64bits)
            def has(p: Int) = (bits(p >> 3) & (1 << (p & 7))) != 0
            has(h1) && has(h2)
        }
    }
    def overlaps(rel: String): Boolean = typed.forall { case (c, dt, lo, hi) =>
      bloomHit(rel, c) && (stats.get(rel).flatMap(_.get(c)) match {
        case None => true // no stats recorded: conservative, read it
        case Some((None, None)) => false // all-null file: no range match
        case Some((Some(mn), Some(mx))) =>
          lo.forall(l => statCompare(dt, mx, l) >= 0) &&
            hi.forall(h => statCompare(dt, mn, h) <= 0)
        case Some(_) => true // half-written entry: conservative
      })
    }
    val pruned = manifestAt(fs, manifest).reconcile match {
      case Some(_) => // bucket granularity (see scaladoc)
        live.filter { case (_, fls) => fls.exists(overlaps) }
      case None =>
        live.map { case (b, fls) => b -> fls.filter(overlaps) }
          .filter(_._2.nonEmpty)
    }
    if (pruned.isEmpty) {
      // nothing can match: an empty frame that provably opens NO data
      // file (inputFiles stays empty — the audit evidence surface);
      // mixed-schema snapshots fall back to the schema-merging reader
      // so the empty frame still carries adopted columns
      if (manifestAt(fs, manifest).mixed)
        readUpsertTable(spark, tableDir).limit(0)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    else applyBounds(readSnapshotFiles(spark, table, fs, manifest, pruned))
  }

  /** CATALYST-INTEGRATED ZONE-MAP SCAN: the snapshot as a DataFrame
    * whose scan prunes files against the recorded stats for ANY plain
    * `.filter` (and any join predicate Catalyst pushes down) — no
    * special read API. [[readUpsertTableWhere]] asks the caller to
    * hand bounds over explicitly; this read packages the same
    * classifier as a [[ZoneMapFileIndex]] inside a `HadoopFsRelation`,
    * the idiomatic integration point (the hook partition pruning and
    * data skipping use), so `readUpsertTableScan(t).filter(col("ts")
    * >= x)` plans a `FileSourceScanExec` over only the overlapping
    * files and its `numFiles` metric is the pruning evidence.
    * Extraction is conservative (simple column-vs-literal conjuncts
    * only) — the answer ALWAYS equals `readUpsertTable(t).filter(...)`.
    *
    * Scope guards, loud by design: a reconcile-bearing delta snapshot
    * refuses (file-level pruning could resurrect a superseded version
    * — fold first, or use [[readUpsertTableWhere]]'s bucket-granular
    * path), as does a mixed-schema snapshot (the relation plans one
    * fixed data schema; compact to re-homogenize).
    */
  def readUpsertTableScan(spark: SparkSession, tableDir: String,
                          asOf: Option[Long] = None): DataFrame = {
    val groups = zoneMapIndexGroups(spark, tableDir, asOf)
    if (groups.forall(_._1.inputFiles.isEmpty))
      return asOf.map(readUpsertTableAt(spark, tableDir, _))
        .getOrElse(readUpsertTable(spark, tableDir))
    def relate(index: ZoneMapFileIndex, schema: StructType): DataFrame = {
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, new StructType(), schema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(relation)
    }
    // one relation per rename era, projected to CURRENT names and
    // unioned: Catalyst pushes a filter on a current name through the
    // rename projection, so the old era's scan receives the predicate
    // under the OLD name — exactly the name its zone-map stats were
    // recorded with. Single-era tables (no rename, or folded) take the
    // plain one-relation path.
    groups.map { case (index, physSchema, renames) =>
      // single-select era projection — see [[translateEra]] (a rename
      // chain through a reused name must not double-apply)
      translateEra(relate(index, physSchema),
        physSchema.fieldNames.toIndexedSeq, renames)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The zone-map [[ZoneMapFileIndex]] + data schema of the LATEST
    * committed snapshot — the one classifier both read surfaces plan
    * from: [[readUpsertTableScan]] (V1 `HadoopFsRelation`) and the
    * DataSourceV2 `graft` format ([[graft.sources.GraftTable]] wraps
    * it for plain-SQL users), so the two can never prune differently.
    * Loud scope guards as documented on [[readUpsertTableScan]]:
    * unfolded delta snapshots and mixed-schema snapshots refuse; so
    * does an unmaterialized rename HERE (one relation, one schema —
    * the V2 surface), while [[readUpsertTableScan]] serves it via the
    * per-era union.
    */
  private[graft] def zoneMapIndexFor(spark: SparkSession,
                                     tableDir: String,
                                     asOf: Option[Long] = None): (ZoneMapFileIndex, StructType) = {
    val groups = zoneMapIndexGroups(spark, tableDir, asOf)
    // ALSO require the lone group's rename map empty (ADVICE r16): after
    // a rename with no subsequent merge, EVERY live file is old-era —
    // one group, but its physical names are not the current schema, and
    // serving them would silently answer under pre-rename names
    require(groups.size == 1 && groups.head._3.isEmpty,
      s"$tableDir holds an unmaterialized column rename (live files " +
        "still carry pre-rename physical names); compactUpsertTable " +
        "materializes it — until then read through readUpsertTableScan " +
        "(which projects each era to current names)")
    (groups.head._1, groups.head._2)
  }

  /** Per-era zone-map index groups of one committed snapshot — the
    * LATEST by default, or the newest at-or-below `asOf` (pruned TIME
    * TRAVEL: the same resolution [[readUpsertTableAt]] uses, with the
    * scan's file skipping — what the SQL surface's `asOf` option
    * serves). Each group is (index, PHYSICAL schema, physical ->
    * current renames); tables that never renamed (or folded since) are
    * exactly one group with an empty rename map.
    */
  private[graft] def zoneMapIndexGroups(spark: SparkSession,
                                        tableDir: String,
                                        asOf: Option[Long] = None): Seq[(ZoneMapFileIndex, StructType, Map[String, String])] = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chain = manifestList(fs, table)
    val manifest = asOf match {
      case None => chain.lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"$tableDir has no committed manifest; run one " +
            "mergeBatchIntoTable first"))
      case Some(b) => chain
        .filter(_.getName.takeWhile(_ != '.').toLongOption.exists(_ <= b))
        .lastOption.getOrElse(throw new IllegalArgumentException(
          s"$tableDir has no committed snapshot at or before batch $b " +
            "(pruned by retention, or never committed); pin snapshots " +
            "an audit must outlive"))
    }
    require(manifestAt(fs, manifest).reconcile.isEmpty,
      s"$tableDir holds unfolded delta commits; file-level pruning could " +
        "resurrect superseded versions — compactUpsertTable first, or " +
        "read through readUpsertTableWhere (bucket-granular)")
    require(!manifestAt(fs, manifest).mixed,
      s"$tableDir is a mixed-schema snapshot; the pruned scan plans one " +
        "fixed data schema — compactUpsertTable re-homogenizes it")
    val rels = readManifest(fs, manifest)._2.values.flatten.toSeq
    val stats = manifestFileStats(fs, manifest)
    val bloom = manifestAt(fs, manifest).bloomCols.getOrElse(Seq.empty).toSet
    val tz = manifestAt(fs, manifest).statsTz
    // file statuses from the manifest's recorded byte lengths (every
    // r14+ shard carries them) — ZERO per-file driver RPCs at planning
    // time; files a legacy shard hasn't re-recorded yet fall back to
    // one lookup each. Synthetic statuses carry mtime 0: the scan
    // reads length + path only (the `_metadata.file_modification_time`
    // column is not served by this read).
    def statuses(group: Seq[String]) = group.map { rel =>
      val p = new Path(table, rel)
      stats.get(rel).flatMap(_.get(statsBytesKey)).flatMap(_._1) match {
        case Some(len) => (new org.apache.hadoop.fs.FileStatus(
          len.toLong, false, 1, 134217728L, 0L, p), rel)
        case None => (fs.getFileStatus(p), rel)
      }
    }
    // a committed-EMPTY snapshot has no file to infer from — the
    // schema-carrying read serves it (and the scan surfaces fall back
    // to that read anyway)
    if (rels.isEmpty) {
      val schema = asOf.map(readUpsertTableAt(spark, tableDir, _).schema)
        .getOrElse(readUpsertTable(spark, tableDir).schema)
      return Seq((new ZoneMapFileIndex(table, Seq.empty, stats, schema,
        bloom, statsTz = tz), schema, Map.empty))
    }
    val multi = manifestAt(fs, manifest).colIds
      .getOrElse(Map.empty: ColIds).filter(_._2.size > 1)
    val eras: Seq[(Map[String, String], Seq[String])] =
      if (multi.isEmpty) Seq((Map.empty[String, String], rels))
      else rels.groupBy(rel => eraRenames(multi, fileOrdinal(rel).toLong))
        .toSeq.sortBy(_._1.toSeq.sorted.mkString(","))
    eras.map { case (renames, group) =>
      val physSchema = spark.read
        .parquet(new Path(table, group.head).toString).schema
      (new ZoneMapFileIndex(table, statuses(group), stats, physSchema,
        bloom, statsTz = tz), physSchema, renames)
    }
  }

  /** Latest-row-per-key resolution of a (possibly) delta-holding file
    * set — the READ half of the delta-merge design. The winner per key
    * is the row with the greatest `(version, commit)` pair, where the
    * commit ordinal is recovered from the file path's `gen_<batchId>/`
    * segment (a file without one ranks as commit -1): version
    * dominates, commit order breaks version ties deterministically in
    * favor of the later commit — the same winner an eager merge chain
    * produces, made explicit for ties (max_by over a union leaves a
    * same-version tie unspecified; the delta contract pins it).
    *
    * Scale shape: ONE hash aggregate over the scanned files with
    * map-side partials — no window over the table, no driver state; at
    * 100 TB the reconcile rides the same shuffle-free per-bucket read
    * the plain scan does, costing one combine per key.
    */
  private[graft] def reconcileRows(df: org.apache.spark.sql.DataFrame,
                                   keys: Seq[String],
                                   version: String): org.apache.spark.sql.DataFrame = {
    // commit ordinal: a restored file's `g<seq>-` filename marker wins
    // (restore re-homes files under ITS commit's gen dir — the marker
    // carries the original), else the `gen_<seq>/` path segment, else
    // -1 (no committed file lacks both since the format floor; the arm
    // stays so the planned expression is unchanged)
    val mark = regexp_extract(input_file_name(), "/g(-?\\d+)-[^/]*$", 1)
    val seq = regexp_extract(input_file_name(), "gen_(-?\\d+)/", 1)
    val withCommit = df.withColumn("__commit",
      when(length(mark) > 0, mark.cast("long"))
        .when(length(seq) > 0, seq.cast("long")).otherwise(lit(-1L)))
    val others = withCommit.columns
      .filterNot(c => keys.contains(c) || c == "__commit").toSeq
    withCommit.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(col(version), col("__commit"))).as("__r"))
      .select(keys.map(col) ++ others.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** A file's commit ordinal as recorded in its path: the `g<seq>-`
    * filename marker (restored files) wins over the `gen_<seq>/`
    * segment; a path with neither reads as -1. The same
    * resolution [[reconcileRows]] applies row-side.
    */
  private def fileOrdinal(rel: String): String = {
    val name = rel.split('/').last
    "^g(-?\\d+)-".r.findFirstMatchIn(name).map(_.group(1))
      .orElse("gen_(-?\\d+)/".r.findFirstMatchIn(rel).map(_.group(1)))
      .getOrElse("-1")
  }

  /** Read a manifest's live set with its reconcile spec applied when
    * present — every reader path (latest, time travel, before-opt,
    * point read) funnels through this so delta snapshots resolve
    * identically everywhere. The reconcile is PER-BUCKET-PRUNED:
    * buckets whose files all share one commit ordinal are unique-keyed
    * by the merge contract and take the plain scan; only buckets
    * actually stacking deltas pay the latest-per-key aggregate — on a
    * mostly-folded 1024-bucket table the reconcile cost is O(delta
    * buckets), not O(table). Buckets partition keys, so unioning the
    * two reads is exact.
    */
  private def readSnapshotFiles(spark: SparkSession,
                                table: org.apache.hadoop.fs.Path,
                                fs: org.apache.hadoop.fs.FileSystem,
                                manifest: org.apache.hadoop.fs.Path,
                                live: Map[Int, Seq[String]]): org.apache.spark.sql.DataFrame = {
    val mixed = manifestAt(fs, manifest).mixed
    // per-era column-name translation (round 16): THIS manifest's
    // colIds contract — a time-travel read below a rename resolves the
    // pre-rename manifest, whose contract has no second name, so it
    // serves the OLD name untranslated (the rename is invisible to
    // history, by design)
    val colIds = manifestAt(fs, manifest).colIds
    def scan(files: Seq[String]) =
      readFilesTranslated(spark, table, colIds, files, mergeSchema = mixed)
    manifestAt(fs, manifest).reconcile match {
      case Some((ks, v)) =>
        val (deltaB, plainB) = live.filter(_._2.nonEmpty)
          .partition(_._2.map(fileOrdinal).distinct.size > 1)
        val parts = Seq(
          plainB.values.flatten.toSeq, deltaB.values.flatten.toSeq)
        (parts(0).nonEmpty, parts(1).nonEmpty) match {
          case (true, true) =>
            // unionByName: the reconciled side's columns come out
            // keys-first; align to the plain scan's file order
            // allowMissingColumns: under a mixed-schema snapshot one
            // side's file subset may pre-date a widening — absent
            // columns fill NULL, the mergeSchema semantic
            scan(parts(0)).unionByName(
              reconcileRows(scan(parts(1)), ks, v), allowMissingColumns = true)
          case (false, true) => reconcileRows(scan(parts(1)), ks, v)
          case _ => scan(parts(0))
        }
      case None => scan(live.values.flatten.toSeq)
    }
  }

  /** Highest committed manifest, if any. */
  private def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
                             table: org.apache.hadoop.fs.Path): Option[(Long, Map[Int, Seq[String]])] =
    manifestList(fs, table).lastOption.map(readManifest(fs, _))

  /** Atomic commit point: shard files for the CHANGED buckets are
    * written first (each tmp + rename), then the list file naming every
    * bucket's shard is written under a temp name and renamed into place
    * — one small-object move, so readers listing `_manifests/` see
    * either the old set or the old set plus the whole new list, never a
    * partial write. A crash between the shard writes and the list
    * publish leaves orphan shard files that the replay (same batchId ⇒
    * same shard names) overwrites and [[compactManifests]] GCs.
    *
    * The shard writes FAN OUT: they are independent objects, so they
    * run concurrently on the bounded global pool, and the publish joins
    * every one of them before it stages the list. A failed shard write
    * (`beforeShardRename` is the injection seam the crash specs use)
    * fails the publish with an IllegalStateException naming the bucket
    * and batch, after the other writes have settled and before any list
    * exists — the list rename is still the single commit point.
    *
    * `touched` bounds the metadata write: buckets outside it REUSE the
    * previous list's shard pointers (their content is unchanged by
    * contract — the merge/delete touched-bucket invariant), so a
    * 1-bucket merge into a million-file table commits exactly 2 tiny
    * objects. `None` (compaction, restore, first commit, a commit on
    * an inline head) writes every bucket's shard.
    *
    * LOST-UPDATE GUARD + OPTIMISTIC REBASE: `base` (when supplied) is
    * the watermark the writer's `live` set was computed FROM (the
    * latest committed id it read at entry, None for an empty table).
    * Immediately before the commit rename, the latest committed id is
    * re-read; if it moved, a concurrent writer committed
    * mid-operation, and renaming over its snapshot would silently drop
    * its files from the live set (the one data-loss shape the
    * same-batchId rename guard cannot see, because concurrent writers
    * carry DIFFERENT ids). When the interloper's commit provably
    * touched only DISJOINT buckets (shard-pointer diff between our
    * base and the new head — metadata only) and the table contracts
    * are unchanged, the publish REBASES instead of dying: untouched
    * buckets adopt the head's pointers, our touched shards stand, the
    * base tag moves to the true parent, and the rename retries
    * (bounded). Everything else — overlapping buckets, full-rewrite
    * commits (`touched = None`), re-bucketing, contract drift,
    * non-increasing ids, a pruned base — FAILS LOUDLY with the
    * single-writer error. Since round 16 the re-read → rename window
    * itself is SEQUENCED: a guarded commit renames only while holding
    * a create-exclusive parent token (`_manifests/_commit/<headId>`)
    * and re-checks the head under it, so two writers passing the head
    * check together can no longer both land on the same parent — the
    * token loser re-enters the rebase loop and commits on the winner's
    * head. Guarded concurrent disjoint-bucket writers are therefore
    * LINEARIZED at the commit point; what remains optimistic is only
    * the work between snapshot read and publish. Concurrent writers
    * must use DISTINCT batchIds (the scheduler contract); the recorded
    * `"base":N` lets the change feed tell an exact parent pair from a
    * pruned-interior gap.
    */
  private[graft] def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
                              table: org.apache.hadoop.fs.Path, batchId: Long,
                              nBuckets: Int, live: Map[Int, Seq[String]],
                              mixed: Boolean = false,
                              touched: Option[Seq[Int]] = None,
                              reconcile: Option[(Seq[String], String)] = None,
                              keyedBy: Option[Seq[String]] = None,
                              fileStats: FileStats = Map.empty,
                              statsCols: Option[Seq[String]] = None,
                              base: Option[Option[Long]] = None,
                              kind: Option[String] = None,
                              bloomCols: Option[Seq[String]] = None,
                              statsTz: Option[String] = None,
                              beforeRename: () => Unit = () => (),
                              colIds: Option[ColIds] = None,
                              versionedBy: Option[String] = None,
                              beforeShardRename: Int => Unit = _ => ()): Unit = {
    val dir = manifestsDir(table)
    // the version contract is STICKY inside the publish itself: callers
    // that neither adopt nor translate it (folds, deletes, restores)
    // carry the recorded one without naming it — one read, no call-site
    // churn, and a contract can never silently drop off the chain
    val effVersionedBy = versionedBy.orElse(
      manifestList(fs, table).lastOption.flatMap(manifestAt(fs, _).versionedBy))
    val shardsDir = new org.apache.hadoop.fs.Path(dir, shardsDirName)
    fs.mkdirs(shardsDir)
    val prev: Map[Int, String] = touched match {
      case Some(_) => manifestList(fs, table).lastOption
        .flatMap(manifestAt(fs, _).shardPointers).getOrElse(Map.empty)
      case None => Map.empty
    }
    val touchedSet = touched.map(_.toSet).getOrElse(Set.empty)
    // shard files THIS publish writes (vs pointers it reuses) — the
    // rebase can drop some of them (an untouched bucket the interloper
    // emptied), and a dropped self-written shard must be collected
    // post-commit or it lingers as an fsck-red orphan
    val selfWritten: Map[Int, String] = live.keys
      .filterNot(b => touched.isDefined && !touchedSet.contains(b) && prev.contains(b))
      .map(b => b -> f"s$b-$batchId%020d.json").toMap
    def writeShard(b: Int, name: String): Unit = {
      val fls = live(b)
      // a rewritten TOUCHED bucket's shard re-serializes the stats of
      // any files it CARRIES from the previous shard (a delta append
      // keeps the bucket's older files live) plus this commit's fresh
      // ones; untouched buckets reuse pointers, stats and all
      val carried: FileStats = prev.get(b) match {
        case Some(prevName) =>
          val p = new org.apache.hadoop.fs.Path(shardsDir, prevName)
          if (!fs.exists(p)) Map.empty else parseStats(readText(fs, p))
        case None => Map.empty
      }
      val liveSet = fls.toSet
      val shardStats = (carried ++ fileStats).filter(kv => liveSet(kv._1))
      // every file of a rewritten shard records its byte length
      // ([[statsBytesKey]]): carried entries keep theirs, fresh files
      // arrive with theirs in `fileStats` (the merge takes them from its
      // own listing), and anything else (pre-__bytes legacy carries,
      // callers that pass none) looks it up ONCE here — O(missing) at
      // commit, zero per-file RPCs at scan. A failed lookup records
      // nothing rather than failing the publish: file EXISTENCE is
      // fsck's invariant, not the publisher's, and the scan falls back
      // per missing entry
      val withBytes = fls.foldLeft(shardStats) { (m, rel) =>
        if (m.get(rel).exists(_.contains(statsBytesKey))) m
        else scala.util.Try(fs.getFileStatus(
            new org.apache.hadoop.fs.Path(table, rel)).getLen.toString)
          .toOption match {
            case Some(len) => m.updated(rel, m.getOrElse(rel, Map.empty) +
              (statsBytesKey -> ((Some(len), Some(len)))))
            case None => m
          }
      }
      val body = s"""{"bucket":$b,"files":[""" +
        fls.sorted.map(f => "\"" + f + "\"").mkString(",") + "]" +
        statsTag(withBytes) + "}"
      val tmp = new org.apache.hadoop.fs.Path(shardsDir, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      beforeShardRename(b)
      val dest = new org.apache.hadoop.fs.Path(shardsDir, name)
      // a crashed attempt at this batchId can have left the shard
      // behind; no committed list names it yet, so replacing is safe
      if (fs.exists(dest)) fs.delete(dest, false)
      require(fs.rename(tmp, dest), s"manifest shard publish failed for $dest")
    }
    // SHARD FAN-OUT: the rewritten shards are independent small objects,
    // written concurrently on the bounded global pool. EVERY write is
    // joined before anything else happens, and any failure is rethrown
    // named, before the list file below is even staged — so the list
    // rename stays the single commit point, and a failed publish leaves
    // at most same-named shards the replay overwrites
    val shardWrites = selfWritten.toSeq.sortBy(_._1).map { case (b, name) =>
      b -> scala.concurrent.Future(writeShard(b, name))(
        scala.concurrent.ExecutionContext.global)
    }
    val shardFailures = shardWrites.flatMap { case (b, f) =>
      scala.util.Try(scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(10, "min"))).failed.toOption.map(b -> _)
    }
    shardFailures.headOption.foreach { case (b, e) =>
      throw new IllegalStateException(
        s"manifest shard write failed for bucket $b of batch $batchId on " +
          s"$table (${shardFailures.size} of ${shardWrites.size} shard " +
          "writes failed); no manifest list was published, readers keep " +
          s"the previous snapshot — replay batch $batchId", e)
    }
    val pointers = live.keys.toSeq.sorted.map(b => b -> selfWritten.getOrElse(b, prev(b)))
    val kindTag = kind.map(k => s""","kind":"$k"""").getOrElse("")
    fs.mkdirs(dir)
    // COMMIT LOOP with OPTIMISTIC REBASE (round 15): the lost-update
    // guard used to fail loudly whenever the head moved past `base` —
    // even when the interloper's touched buckets were DISJOINT from
    // ours (the everyday 100 TB contention: ingest merge vs
    // maintenance fold vs takedown on different buckets). Now a
    // guarded publish whose interleaver provably touched only OTHER
    // buckets REBASES: untouched buckets adopt the head's shard
    // pointers (their content is the head's by the disjointness
    // proof), our touched buckets keep the shards written above, the
    // base tag records the true parent, and the rename retries —
    // bounded attempts, every legality check failing LOUDLY back to
    // the single-writer error. Overlapping buckets, full-rewrite
    // commits (touched = None: folds/restores rewrite everything),
    // contract drift (nBuckets/keyedBy/reconcile/statsCols/bloomCols),
    // non-increasing batchIds, a pruned base, or a legacy-inline head
    // all keep today's loud failure.
    var pointersNow: Map[Int, String] = pointers.toMap
    var baseNow: Option[Option[Long]] = base
    var mixedNow: Boolean = mixed
    var attempts = 0
    var committed = false
    while (!committed) {
      val mixedTag = if (mixedNow) ""","mixed":1""" else ""
      val baseTag = baseNow.map(b => s""","base":${b.getOrElse(-1L)}""").getOrElse("")
      val body = pointersNow.toSeq.sortBy(_._1)
        .map { case (b, n) => "\"" + b + "\":\"" + n + "\"" }
        .mkString(s"""{"batchId":$batchId,"nBuckets":$nBuckets$mixedTag$baseTag$kindTag${reconcileTag(reconcile)}${keyedTag(keyedBy)}${versionedTag(effVersionedBy)}${statsColsTag(statsCols)}${statsTzTag(statsTz)}${bloomColsTag(bloomCols)}${colIdsTag(colIds)},"shards":{""", ",", "}}")
      val tmp = new org.apache.hadoop.fs.Path(dir, f".tmp_$batchId%020d")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      // lost-update guard (see scaladoc): the table must not have moved
      // past the base this writer computed from — unless the move is a
      // provably disjoint-bucket commit we can rebase onto
      val moved = baseNow.flatMap { b =>
        val head = manifestList(fs, table).lastOption
        if (head.map(manifestAt(fs, _).batchId) != b) Some((b, head)) else None
      }
      moved match {
        case None =>
          // RACE SEAM: the head re-check above has PASSED — this is
          // exactly the r15 TOCTOU instant. The specs' hook runs a
          // full interloper commit here; the sequencer below must
          // catch it (token re-check) and push this publish through
          // the rebase instead of renaming over the interloper.
          beforeRename()
          // COMMIT SEQUENCER (round 16, closing the r15 TOCTOU): the
          // re-read above and the rename below used to be the one
          // unguarded window — two guarded writers could both pass the
          // head check on the SAME parent before either renamed, and
          // the later-listed id's pointer list silently omitted the
          // earlier's buckets until fsck. A guarded commit now takes a
          // create-exclusive PARENT TOKEN (`_manifests/_commit/<headId>`
          // — the run-lock primitive) before renaming, and RE-CHECKS
          // the head under the token: the loser of the token race (or
          // of the re-check) re-enters the rebase loop and lands on the
          // winner's head. Crash discipline mirrors the run lock: a
          // token whose holder's id IS committed is post-rename litter
          // (collected by the next contender); a replay of the holder's
          // own batchId ADOPTS the token; a token from a crashed,
          // unreplayed id fails contenders loudly with the remediation.
          // Unguarded commits (base = None: legacy single-writer
          // callers) keep the bare rename — they declared no parent to
          // sequence on.
          val tokenHeld = baseNow match {
            case None => true // unguarded: no parent, no token
            case Some(parent) =>
              if (!acquireCommitToken(fs, table, parent, batchId)) false
              else {
                // re-check under the token: a winner may have committed
                // between our head read and our token acquisition
                val headNow = manifestList(fs, table).lastOption
                  .map(manifestAt(fs, _).batchId)
                if (baseNow.contains(headNow)) true
                else {
                  releaseCommitToken(fs, table, parent, batchId)
                  false // head moved: next iteration rebases onto it
                }
              }
          }
          if (!tokenHeld) {
            fs.delete(tmp, false)
            attempts += 1
            if (attempts > 8) {
              val parent = baseNow.flatten
                .map(id => f"$id%020d").getOrElse("empty")
              throw new IllegalStateException(
                s"commit sequencer: the parent token _manifests/_commit/" +
                  s"$parent on $table stayed contended for 8 attempts — a " +
                  "concurrent writer is racing this parent, or a crashed " +
                  "writer left its token. Replay the holder's batch to " +
                  "completion (it adopts the token), or remove the token " +
                  "after verifying nothing is running. Nothing was lost — " +
                  s"batch $batchId did not land.")
            }
          } else {
            // the sink is SINGLE-WRITER per batchId; a failed rename means
            // another writer published this exact batchId concurrently —
            // fail loudly rather than lose updates
            require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, f"$batchId%020d.json")),
              s"manifest publish of batch $batchId failed — concurrent writer on $table? " +
                "concurrent writers must commit under distinct batchIds")
            // the staging is committed: release its in-flight token so
            // other writers' sweeps treat the generation normally
            fs.delete(new org.apache.hadoop.fs.Path(inflightDir(table), f"$batchId%020d"), false)
            // collect self-written shards the rebase dropped (the list
            // no longer names them; nothing else ever will)
            selfWritten.foreach { case (b, name) =>
              if (!pointersNow.get(b).contains(name))
                fs.delete(new org.apache.hadoop.fs.Path(shardsDir, name), false)
            }
            baseNow.foreach(parent =>
              releaseCommitToken(fs, table, parent, batchId))
            committed = true
          }
        case Some((b, headOpt)) =>
          fs.delete(tmp, false)
          attempts += 1
          def conflict(why: String): Nothing = throw new IllegalStateException(
            s"lost-update guard: $table advanced from base " +
              s"${b.getOrElse("<empty>")} to ${headOpt.map(manifestAt(fs, _).batchId)
                .getOrElse("<empty>")} while batch $batchId was being " +
              s"computed, and the commit cannot rebase ($why). " +
              "Re-drive this batch: its replay will recompute on the new " +
              "snapshot. Nothing was lost — this publish did not land.")
          if (attempts > 8) conflict("the chain is advancing faster than " +
            "the rebase can catch up after 8 attempts")
          val head = headOpt.getOrElse(conflict(
            "the manifest chain vanished mid-publish"))
          val headId = manifestAt(fs, head).batchId
          if (touched.isEmpty) conflict(
            "this is a full-rewrite commit (fold/restore/compaction) — " +
              "it rewrites every bucket and conflicts with any concurrent " +
              "write")
          if (batchId <= headId) conflict(
            s"batchId $batchId is not above the new head $headId — " +
              "concurrent writers must commit under distinct increasing ids")
          val baseId = b.getOrElse(conflict(
            "this writer saw an EMPTY table; a concurrent writer created " +
              "it — bucket disjointness cannot be established"))
          val baseManifest = manifestList(fs, table)
            .find(p => p.getName.takeWhile(_ != '.').toLong == baseId)
            .getOrElse(conflict(
              s"the base snapshot $baseId is no longer in the manifest " +
                "chain (pruned by a concurrent compaction)"))
          val basePtrs = manifestAt(fs, baseManifest).shardPointers.getOrElse(
            conflict("the base manifest is legacy-inline (no shard " +
              "pointers to diff)"))
          val headPtrs = manifestAt(fs, head).shardPointers.getOrElse(
            conflict("the head manifest is legacy-inline (no shard " +
              "pointers to diff)"))
          val othersTouched = (basePtrs.keySet ++ headPtrs.keySet)
            .filter(bk => basePtrs.get(bk) != headPtrs.get(bk))
          val overlap = othersTouched.intersect(touchedSet)
          if (overlap.nonEmpty) conflict(
            s"the concurrent commit touched bucket(s) ${overlap.toSeq.sorted
              .mkString(",")} this batch also touches — overlapping " +
              "writes cannot both hold")
          if (manifestAt(fs, head).nBuckets != nBuckets) conflict(
            "the concurrent commit re-bucketed the table")
          if (manifestAt(fs, head).reconcile != reconcile) conflict(
            "the concurrent commit changed the reconcile spec")
          if (manifestAt(fs, head).keyedBy != keyedBy) conflict(
            "the concurrent commit changed the key contract")
          if (manifestAt(fs, head).versionedBy != effVersionedBy) conflict(
            "the concurrent commit changed the version contract")
          if (manifestAt(fs, head).statsCols != statsCols) conflict(
            "the concurrent commit changed the stats contract")
          if (manifestAt(fs, head).bloomCols != bloomCols) conflict(
            "the concurrent commit changed the bloom contract")
          if (manifestAt(fs, head).statsTz != statsTz) conflict(
            "the concurrent commit changed the stats time zone")
          if (manifestAt(fs, head).colIds != colIds) conflict(
            "the concurrent commit changed the column-id contract " +
              "(a rename raced this write)")
          // REBASE: untouched buckets become EXACTLY the head's view —
          // pointer values AND absences (an interloper's delete that
          // emptied a bucket removed its entry; overlaying our stale
          // base pointer on top would RESURRECT the deleted bucket).
          // Our touched buckets keep the shards written above: their
          // carried stats came from the base's shards, which the
          // interloper provably did not change. The base tag moves to
          // the true parent; mixed is sticky across both.
          pointersNow = headPtrs.filter(kv => !touchedSet(kv._1)) ++
            pointersNow.filter(kv => touchedSet(kv._1))
          mixedNow = mixedNow || manifestAt(fs, head).mixed
          baseNow = Some(Some(headId))
      }
    }
  }

  /** The commit-sequencer token path for one parent snapshot: a
    * create-exclusive file under `_manifests/_commit` named by the
    * parent's zero-padded batchId (`empty` for a first commit). Naming
    * the PARENT — not a single global lock — means a crashed writer's
    * token only ever contends commits of that one parent: as soon as
    * any commit lands, every later writer sequences on a NEW name and
    * the stale token is dead weight, not a wedge.
    */
  private def commitTokenPath(table: org.apache.hadoop.fs.Path,
                              parent: Option[Long]): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
      manifestsDir(table), "_commit"),
      parent.map(id => f"$id%020d").getOrElse("empty"))

  /** Try to take the parent token (atomic create-exclusive, content =
    * the taker's batchId). True = held (including ADOPTING our own
    * crashed attempt's token — the run-lock replay contract). False =
    * contended: a LIVE concurrent writer holds it (back off briefly and
    * let the caller retry), or a crashed POST-RENAME holder left it
    * (its id is committed — collect the stale token on the way out, the
    * inflight-token convention). A crashed PRE-RENAME holder's token
    * (id never committed) stays until its batch is replayed or an
    * operator removes it — the caller's bounded retries fail loudly
    * naming it.
    */
  private def acquireCommitToken(fs: org.apache.hadoop.fs.FileSystem,
                                 table: org.apache.hadoop.fs.Path,
                                 parent: Option[Long],
                                 batchId: Long): Boolean = {
    val token = commitTokenPath(table, parent)
    fs.mkdirs(token.getParent)
    try {
      val out = fs.create(token, false) // atomic create-exclusive
      try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case _: java.io.IOException =>
        val holder = try readText(fs, token).trim catch { case _: Exception => "" }
        if (holder == batchId.toString) true // our crashed attempt: adopt
        else {
          val holderCommitted = holder.toLongOption.exists(id =>
            fs.exists(new org.apache.hadoop.fs.Path(
              manifestsDir(table), f"$id%020d.json")))
          if (holderCommitted) {
            // POST-RENAME LITTER — collect by ATOMIC RENAME + VERIFY,
            // not a bare delete (ADVICE r16): between our read above
            // and a delete, the committed holder's own release can
            // remove the token and a FRESH writer re-create it, and a
            // bare delete would then strip the live writer's token.
            // The rename is single-winner; if the moved file is not
            // the token we read, put it back (or, if yet another token
            // already replaced it at the name, drop the moved one —
            // its writer is past this parent's commit and fails the
            // under-token head re-check before renaming, so no rename
            // can proceed unprotected).
            val trash = new org.apache.hadoop.fs.Path(token.getParent,
              s".collect-${token.getName}-$batchId")
            if (fs.rename(token, trash)) {
              val moved = try readText(fs, trash).trim
                catch { case _: Exception => holder }
              if (moved == holder) fs.delete(trash, false) // collected
              else if (!fs.rename(trash, token)) fs.delete(trash, false)
            }
          }
          else Thread.sleep(20) // live holder mid-rename: let it finish
          false
        }
    }
  }

  /** Release the parent token — CONTENT-GUARDED (ADVICE r16): only the
    * token this writer wrote is deleted. After a winner's rename its
    * token is litter a contender may have already collected and a
    * fresh writer re-created under the same parent name; a blind
    * delete here would strip that writer's token. (A token replaced
    * between the guard read and the delete belongs to a writer whose
    * parent is already below the head — its head re-check refuses
    * before any rename, so the residual race cannot unprotect a
    * rename.)
    */
  private def releaseCommitToken(fs: org.apache.hadoop.fs.FileSystem,
                                 table: org.apache.hadoop.fs.Path,
                                 parent: Option[Long],
                                 batchId: Long): Unit = {
    val token = commitTokenPath(table, parent)
    val holder = try readText(fs, token).trim catch { case _: Exception => return }
    if (holder == batchId.toString) fs.delete(token, false)
    ()
  }

  /** A SELF-CONTAINED (inline-shape) manifest body — what
    * backups commit: a sharded list points into the SOURCE table's
    * shards dir, which a backup must not depend on, and the inline
    * shape keeps a backup's commit a single file (manifest-LAST is the
    * torn-backup guard). Readers parse both shapes.
    */
  private def inlineManifestBody(batchId: Long, nBuckets: Int,
                                 live: Map[Int, Seq[String]],
                                 mixed: Boolean,
                                 reconcile: Option[(Seq[String], String)] = None,
                                 keyedBy: Option[Seq[String]] = None,
                                 fileStats: FileStats = Map.empty,
                                 statsCols: Option[Seq[String]] = None,
                                 bloomCols: Option[Seq[String]] = None,
                                 statsTz: Option[String] = None,
                                 colIds: Option[ColIds] = None): String = {
    val mixedTag = if (mixed) ""","mixed":1""" else ""
    val liveSet = live.values.flatten.toSet
    live.toSeq.sortBy(_._1).map { case (b, fls) =>
      "\"" + b + "\":[" + fls.sorted.map(f => "\"" + f + "\"").mkString(",") + "]"
    }.mkString(s"""{"batchId":$batchId,"nBuckets":$nBuckets$mixedTag${reconcileTag(reconcile)}${keyedTag(keyedBy)}${statsColsTag(statsCols)}${statsTzTag(statsTz)}${bloomColsTag(bloomCols)}${colIdsTag(colIds)},"buckets":{""", ",",
      "}" + statsTag(fileStats.filter(kv => liveSet(kv._1))) + "}")
  }

  /** FULL-REWRITE compaction of a keyed upsert table — the maintenance
    * transaction that re-homogenizes a table the incremental merges
    * deliberately leave heterogeneous: every bucket rewrites as one
    * fresh file under the CURRENT schema (adopted columns materialize
    * their defaults into the data files), and the commit manifest drops
    * the sticky `mixed` flag — post-compaction reads return to the
    * single-footer path. Also the file-layout refresh dial: whatever
    * generation debris retention kept readable, the new snapshot is one
    * file per bucket. Same commit protocol as a merge (staged
    * generation dir, tiny manifest rename, post-commit sweep), so a
    * racing reader sees the old snapshot or the new one, never a mix;
    * rows are untouched (a pure rewrite — StreamingSpec asserts
    * read-back equality and the flag drop). Replayed batchIds no-op.
    * `nBuckets` must match the table's bucketing (the deleteFromTable
    * convention); the table needs a committed manifest.
    *
    * CLUSTERING: `sortBy` sorts rows within each bucket before the
    * write and `maxRecordsPerFile` splits a bucket into several files —
    * together they give each file a TIGHT, near-disjoint range on the
    * sort columns, which is what makes the zone maps
    * ([[readUpsertTableWhere]]) prune: a time-sorted 100 TB table
    * answers a one-day slice from the day's files. `zOrderBy` is the
    * MULTI-DIMENSION alternative ([[zOrderValue]]): quantile-ranked
    * bit-interleaved ordering, so range reads prune on EVERY named
    * column, not just the lexicographic sort's leading one — the
    * "slice by time AND by quality score" layout. `statsCols` follows
    * the merge convention (None inherits the table's recorded
    * contract), so a nightly fold keeps the pruning it found.
    */
  def compactUpsertTable(spark: SparkSession, tableDir: String,
                         keyCols: Seq[String], nBuckets: Int, batchId: Long,
                         retain: Int = 1, sortBy: Seq[String] = Nil,
                         maxRecordsPerFile: Long = 0,
                         statsCols: Option[Seq[String]] = None,
                         zOrderBy: Seq[String] = Nil,
                         bloomCols: Option[Seq[String]] = None): Unit = {
    import org.apache.hadoop.fs.Path
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = manifestList(fs, table).lastOption.map(manifestAt(fs, _)).getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; run one mergeBatchIntoTable " +
          "before compacting"))
    if (head.batchId >= batchId) { // replayed batch
      sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
      return
    }
    val live = head.live
    if (live.valuesIterator.forall(_.isEmpty)) return // empty table
    val mixed = head.mixed
    // leaf-file reads carry no partition column: the bucket is
    // recomputed from the keys (deterministic, the merge convention).
    // Delta history folds here — this is THE delta fold: the rewrite
    // resolves latest-per-key, and the published manifest drops the
    // reconcile spec, returning reads to the plain-scan fast path
    // the fold MATERIALIZES renames: old-era files read translated and
    // rewrite under current names; the published contract truncates to
    // single-name histories (everything physical is current again)
    val prevColIds = head.colIds
    val raw = readFilesTranslated(spark, table, prevColIds,
      live.values.flatten.toSeq, mergeSchema = mixed)
    val current = head.reconcile
      .map { case (ks, v) => reconcileRows(raw, ks, v) }.getOrElse(raw)
      .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
    markInFlight(fs, table, batchId)
    require(sortBy.isEmpty || zOrderBy.isEmpty,
      "pass sortBy (lexicographic) OR zOrderBy (multi-dimension), not both")
    val partitioned = current
      .repartition(math.max(1, live.size), col(upsertBucketCol))
    val clustered =
      if (zOrderBy.nonEmpty)
        partitioned.sortWithinPartitions(
          col(upsertBucketCol), zOrderValue(current, zOrderBy))
      else if (sortBy.isEmpty) partitioned
      else partitioned.sortWithinPartitions(
        (upsertBucketCol +: sortBy).map(col): _*)
    val effStatsCols = statsCols.getOrElse(head.statsCols.getOrElse(Seq.empty))
    val effBloomCols = bloomCols.getOrElse(head.bloomCols.getOrElse(Seq.empty))
    val (rewritten, freshStats) = writeGeneration(clustered, table, batchId,
      effStatsCols, effBloomCols, maxRecordsPerFile)
    // "kind":"fold" marks this commit ROW-PRESERVING (the read-back
    // equality StreamingSpec pins) — the change feed skips it from
    // metadata alone instead of paying a whole-table diff to learn
    // nothing changed
    // the full rewrite recomputed EVERY file's stats under this
    // session's zone — it may ADOPT a new stats time zone
    publishManifest(fs, table, batchId, nBuckets, rewritten, mixed = false,
      keyedBy = Some(keyCols), fileStats = freshStats,
      statsCols = if (effStatsCols.nonEmpty) Some(effStatsCols) else None,
      bloomCols = if (effBloomCols.nonEmpty) Some(effBloomCols) else None,
      base = Some(Some(head.batchId)), kind = Some("fold"),
      statsTz = if (effStatsCols.nonEmpty || effBloomCols.nonEmpty)
        Some(spark.sessionState.conf.sessionLocalTimeZone) else None,
      // histories truncate to the current name at ordinal 0: every
      // file this fold leaves live is physically current-named;
      // DROPPED ids (empty-name tombstones) leave the contract — their
      // column no longer exists in any rewritten file
      colIds = prevColIds.map(_.collect {
        case (id, hist) if hist.last._1.nonEmpty =>
          id -> Seq((hist.last._1, 0L)) }))
    sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
  }

  /** METADATA-ONLY COLUMN RENAME (round 16): commit a new manifest in
    * which column id of `oldName` now answers to `newName` — ZERO data
    * movement at any scale (the commit reuses every bucket's shard
    * pointer verbatim; `touched = Nil`). Every name-bearing contract
    * the manifest carries (key contract, reconcile spec, stats, bloom
    * columns) renames with it, so merges/deletes/probes from here on
    * use the new name. Readers translate: files written BEFORE the
    * rename physically carry the old name and every read path groups
    * by era and projects to current names
    * ([[readFilesTranslated]] / the scan's per-era union); TIME TRAVEL
    * below the rename resolves the pre-rename manifest — whose
    * contract has no second name — and serves the OLD name untouched
    * (history is immutable, including its schema). A later full
    * [[compactUpsertTable]] MATERIALIZES the rename: every file
    * rewrites under current names and the histories truncate, so reads
    * return to the single-era fast path (the DataSourceV2 surface
    * requires that — one relation, one schema). Change-feed windows
    * that CROSS a rename fail loudly with the resync remediation (a
    * renamed column reads as vanished to the diff) — advance consumers
    * to the rename boundary first. Replays (committed id at or above
    * `batchId`) no-op.
    */
  def renameColumn(spark: SparkSession, tableDir: String,
                   oldName: String, newName: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    require(oldName != newName, "rename to the same name is a no-op request")
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"'$newName' is not a portable column name ([A-Za-z_][A-Za-z0-9_]*) " +
        "— the manifest's writer-format JSON records names verbatim")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = latestManifest(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; nothing to rename"))
    if (committed._1 >= batchId) return // replayed rename
    val manifest = manifestList(fs, table).last
    // logical (translated) schema — renames compose
    val schema = readUpsertTable(spark, tableDir).schema
    require(schema.fieldNames.contains(oldName),
      s"$tableDir has no column '$oldName' " +
        s"(columns: ${schema.fieldNames.mkString(",")})")
    require(!schema.fieldNames.contains(newName),
      s"$tableDir already has a column '$newName' — renames never merge " +
        "columns")
    // the contract: adopt lazily (ids in schema order) on first rename
    val base0: ColIds = manifestAt(fs, manifest).colIds.getOrElse(
      schema.fieldNames.zipWithIndex
        .map { case (n, i) => i -> Seq((n, 0L)) }.toMap)
    val id = base0.collectFirst {
      case (i, hist) if hist.last._1 == oldName => i
    }.getOrElse {
      // a column widened in after the contract was adopted gets its id
      // at rename time — but ONLY if the name never belonged to another
      // id (ADVICE r16): a fresh id's history starts at ordinal 0, so
      // if some OLD era's '<oldName>' column belongs to a tombstoned or
      // previously-renamed id, the two claims collide and old files
      // cannot be attributed from metadata. The fold truncates
      // histories and clears the ambiguity.
      require(!base0.values.exists(_.exists(_._1 == oldName)),
        s"'$oldName' was previously a DIFFERENT column of $tableDir " +
          "(renamed away or dropped, then re-added) — old-era files' " +
          s"'$oldName' cannot be told apart from the new column's; " +
          "compactUpsertTable materializes the histories, then rename")
      if (base0.isEmpty) 0 else base0.keys.max + 1
    }
    val hist = base0.getOrElse(id, Seq((oldName, 0L)))
    val colIds = base0.updated(id, hist :+ ((newName, batchId)))
    def ren(s: String) = if (s == oldName) newName else s
    publishManifest(fs, table, batchId, manifestAt(fs, manifest).nBuckets,
      committed._2, manifestAt(fs, manifest).mixed,
      touched = Some(Nil), // METADATA ONLY: every pointer reused
      reconcile = manifestAt(fs, manifest).reconcile
        .map { case (ks, v) => (ks.map(ren), ren(v)) },
      keyedBy = manifestAt(fs, manifest).keyedBy.map(_.map(ren)),
      statsCols = manifestAt(fs, manifest).statsCols.map(_.map(ren)),
      bloomCols = manifestAt(fs, manifest).bloomCols.map(_.map(ren)),
      base = Some(Some(committed._1)), kind = Some("rename"),
      statsTz = manifestAt(fs, manifest).statsTz,
      colIds = Some(colIds),
      versionedBy = manifestAt(fs, manifest).versionedBy.map(ren))
  }

  /** METADATA-ONLY COLUMN DROP — [[renameColumn]]'s sibling: the
    * column's id gets an empty-name TOMBSTONE in its history, every
    * reader projects the column away per era, and the name-bearing
    * contracts shed it (stats/bloom entries for it stop being probed —
    * their recorded per-file stats become dead weight until the fold).
    * Key and version columns refuse (dropping either would orphan the
    * table's addressing/merge semantics). TIME TRAVEL below the drop
    * still serves the column; the full fold materializes (files
    * rewrite without it, the tombstoned id leaves the contract). A
    * later merge may re-ADD the name as a NEW column (fresh id on its
    * next rename): old rows read NULL for it — the widening semantic.
    */
  def dropColumn(spark: SparkSession, tableDir: String,
                 name: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = latestManifest(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; nothing to drop"))
    if (committed._1 >= batchId) return // replayed drop
    val manifest = manifestList(fs, table).last
    val schema = readUpsertTable(spark, tableDir).schema
    require(schema.fieldNames.contains(name),
      s"$tableDir has no column '$name' " +
        s"(columns: ${schema.fieldNames.mkString(",")})")
    val keyed = manifestAt(fs, manifest).keyedBy
    require(!keyed.exists(_.contains(name)),
      s"'$name' is part of $tableDir's key contract — dropping a key " +
        "column would orphan the table's addressing; re-key via a full " +
        "rewrite instead")
    require(!manifestAt(fs, manifest).reconcile.exists { case (ks, v) =>
      ks.contains(name) || v == name },
      s"'$name' carries $tableDir's delta reconcile semantics (key or " +
        "version); fold the deltas first")
    require(!manifestAt(fs, manifest).versionedBy.contains(name),
      s"'$name' is $tableDir's recorded version contract — dropping it " +
        "would orphan same-key upsert arbitration; re-version via a " +
        "full rewrite instead")
    val base0: ColIds = manifestAt(fs, manifest).colIds.getOrElse(
      schema.fieldNames.zipWithIndex
        .map { case (n, i) => i -> Seq((n, 0L)) }.toMap)
    val id = base0.collectFirst {
      case (i, hist) if hist.last._1 == name => i
    }.getOrElse {
      // same fresh-id ambiguity guard as [[renameColumn]] (ADVICE r16)
      require(!base0.values.exists(_.exists(_._1 == name)),
        s"'$name' was previously a DIFFERENT column of $tableDir " +
          "(renamed away or dropped, then re-added) — old-era files' " +
          s"'$name' cannot be told apart from the new column's; " +
          "compactUpsertTable materializes the histories, then drop")
      if (base0.isEmpty) 0 else base0.keys.max + 1
    }
    val hist = base0.getOrElse(id, Seq((name, 0L)))
    val colIds = base0.updated(id, hist :+ (("", batchId)))
    publishManifest(fs, table, batchId, manifestAt(fs, manifest).nBuckets,
      committed._2, manifestAt(fs, manifest).mixed,
      touched = Some(Nil), // METADATA ONLY
      reconcile = manifestAt(fs, manifest).reconcile,
      keyedBy = keyed,
      statsCols = manifestAt(fs, manifest).statsCols
        .map(_.filterNot(_ == name)).filter(_.nonEmpty),
      bloomCols = manifestAt(fs, manifest).bloomCols
        .map(_.filterNot(_ == name)).filter(_.nonEmpty),
      base = Some(Some(committed._1)), kind = Some("rename"),
      statsTz = manifestAt(fs, manifest).statsTz,
      colIds = Some(colIds))
  }

  /** CLUSTERING-DRIFT MONITOR — which buckets' file layouts have
    * degraded, from METADATA alone: per bucket, the fraction of live
    * file PAIRS whose recorded ranges on `cols` overlap (in EVERY
    * named dimension — two files must be separable on at least one
    * column to count as disjoint). A freshly sort- or z-order-folded
    * bucket reads near 0 (tight, near-disjoint ranges — the layout
    * zone maps prune best); a CDC trickle lands arrival-ordered delta
    * files whose ranges straddle everything, and the fraction climbs
    * toward 1. Files without recorded stats on a named column count
    * as overlapping everything (conservative — drift reads HIGHER,
    * never lower). One manifest + shard-stats read and one footer for
    * the column types; the per-bucket pair loop is driver-side over
    * file counts the fold policy already bounds. Returns
    * (bucket, n_files, overlap, folded) — feed it to a threshold and
    * [[compactUpsertTableBuckets]] re-sorts ONLY the degraded buckets.
    *
    * `folded` marks buckets whose files ALL carry one commit ordinal
    * from a fold-kind commit: UNCHANGED since their last re-sort, so
    * re-sorting is provably a no-op and a threshold gate must skip
    * them — a z-ordered layout's INTRINSIC pairwise overlap (adjacent
    * z-cells share per-dimension ranges) can sit above any useful
    * threshold, and acting on it would rewrite the same bucket night
    * after night for nothing (the retention-leg thrash rule). New
    * commits into the bucket mix ordinals and clear the mark.
    */
  def clusteringDrift(spark: SparkSession, tableDir: String,
                      cols: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    require(cols.nonEmpty, "clusteringDrift needs at least one column")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = manifestList(fs, table).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; nothing to measure"))
    val recorded = manifestAt(fs, manifest).statsCols.getOrElse(Seq.empty)
    require(cols.forall(recorded.contains),
      s"$tableDir records stats on (${recorded.mkString(",")}); the drift " +
        s"monitor needs every named column (${cols.mkString(",")}) covered " +
        "— without recorded ranges the metric would be a guess")
    val (_, live) = readManifest(fs, manifest)
    val stats = manifestFileStats(fs, manifest)
    val probe = live.values.flatten.headOption
    if (probe.isEmpty)
      return Seq.empty[(Int, Int, Double, Boolean)]
        .toDF("bucket", "n_files", "overlap", "folded")
    val schema = spark.read.parquet(new Path(table, probe.get).toString).schema
    val dts = cols.map(c => c -> schema(c).dataType).toMap
    // which committed ids were row-preserving folds — the "unchanged
    // since its last re-sort" mark reads from the chain's metadata
    val foldIds = manifestList(fs, table)
      .map(p => manifestCommitMeta(fs, p))
      .collect { case (id, _, Some("fold")) => id }.toSet
    def overlaps(a: String, b: String): Boolean = cols.forall { c =>
      (stats.get(a).flatMap(_.get(c)), stats.get(b).flatMap(_.get(c))) match {
        case (Some((Some(lo1), Some(hi1))), Some((Some(lo2), Some(hi2)))) =>
          statCompare(dts(c), hi1, lo2) >= 0 && statCompare(dts(c), hi2, lo1) >= 0
        case _ => true // missing/half/all-null stats: conservative
      }
    }
    live.toSeq.sortBy(_._1).map { case (b, fls) =>
      val pairs = for {
        i <- fls.indices; j <- (i + 1) until fls.size
      } yield overlaps(fls(i), fls(j))
      val frac = if (pairs.isEmpty) 0.0
        else pairs.count(identity).toDouble / pairs.size
      val ords = fls.map(fileOrdinal).distinct
      val folded = ords.size == 1 &&
        ords.headOption.flatMap(_.toLongOption).exists(foldIds)
      (b, fls.size, frac, folded)
    }.toDF("bucket", "n_files", "overlap", "folded")
  }

  /** BUCKET-SUBSET sort-compaction — [[compactUpsertTable]] restricted
    * to the buckets a drift monitor flagged: at 100 TB you re-cluster
    * the buckets whose file ranges have degraded, never the table.
    * Only the named buckets' files read and rewrite (sorted within
    * the bucket, split by `maxRecordsPerFile`); every other bucket's
    * shard pointer carries over BYTE-IDENTICAL (the untouched-bucket
    * merge invariant), so the commit costs O(degraded buckets). The
    * reconcile spec, if any, is CARRIED — untouched buckets may still
    * stack deltas — but the rewritten buckets fold unique-keyed, so
    * reads there return to the per-bucket plain-scan path
    * ([[readSnapshotFiles]]'s ordinal pruning). Row-preserving
    * (`kind = "fold"` — the change feed skips it from metadata);
    * replayed batchIds no-op.
    */
  def compactUpsertTableBuckets(spark: SparkSession, tableDir: String,
                                keyCols: Seq[String], nBuckets: Int,
                                batchId: Long, buckets: Set[Int],
                                sortBy: Seq[String] = Nil,
                                maxRecordsPerFile: Long = 0,
                                retain: Int = 1,
                                zOrderBy: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(buckets.nonEmpty, "name at least one bucket to re-cluster")
    require(sortBy.isEmpty || zOrderBy.isEmpty,
      "pass sortBy (lexicographic) OR zOrderBy (multi-dimension), not both")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = manifestList(fs, table).lastOption.map(manifestAt(fs, _)).getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no committed manifest; run one mergeBatchIntoTable " +
          "before re-clustering"))
    if (head.batchId >= batchId) { // replayed batch
      sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
      return
    }
    val live = head.live
    val touched = buckets.toSeq.sorted.filter(b => live.get(b).exists(_.nonEmpty))
    if (touched.isEmpty) return // nothing to rewrite: no commit needed
    val mixed = head.mixed
    val prevReconcile = head.reconcile
    // colIds carried VERBATIM (untouched buckets may still hold
    // old-era files); the rewritten buckets' fresh files carry this
    // commit's ordinal, which resolves to current names
    val bColIds = head.colIds
    val raw = readFilesTranslated(spark, table, bColIds,
      touched.flatMap(live.get).flatten, mergeSchema = mixed)
    val current = prevReconcile
      .map { case (ks, v) => reconcileRows(raw, ks, v) }.getOrElse(raw)
      .withColumn(upsertBucketCol, pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
    markInFlight(fs, table, batchId)
    val partitioned = current
      .repartition(touched.length, col(upsertBucketCol))
    val clustered =
      if (zOrderBy.nonEmpty)
        // the z-value's quantile boundaries derive from the TOUCHED
        // buckets' rows (not the table) — sound: any monotone
        // interleave yields tight per-file ranges on every named
        // column, boundaries only shape the rank distribution
        partitioned.sortWithinPartitions(
          col(upsertBucketCol), zOrderValue(current, zOrderBy))
      else if (sortBy.isEmpty) partitioned
      else partitioned.sortWithinPartitions(
        (upsertBucketCol +: sortBy).map(col): _*)
    val effStatsCols = head.statsCols.getOrElse(Seq.empty)
    val effBloomCols = head.bloomCols.getOrElse(Seq.empty)
    val (rewritten, freshStats) = writeGeneration(clustered, table, batchId,
      effStatsCols, effBloomCols, maxRecordsPerFile)
    val newLive = (live -- touched) ++ rewritten
    // the reconcile spec DROPS when this rewrite leaves no bucket
    // stacking deltas (every live bucket's files share one commit
    // ordinal — the readSnapshotFiles plain-scan test): a re-cluster
    // that happened to cover every delta bucket returns the whole
    // table to the scan-prunable fast path, exactly like a full fold
    val outReconcile = prevReconcile.filter(_ =>
      newLive.valuesIterator.exists(fls =>
        fls.map(fileOrdinal).distinct.size > 1))
    publishManifest(fs, table, batchId, nBuckets, newLive, mixed,
      touched = Some(touched), reconcile = outReconcile,
      keyedBy = Some(keyCols), fileStats = freshStats,
      statsCols = if (effStatsCols.nonEmpty) Some(effStatsCols) else None,
      bloomCols = if (effBloomCols.nonEmpty) Some(effBloomCols) else None,
      base = Some(Some(head.batchId)), kind = Some("fold"),
      statsTz = resolveStatsTz(spark, table, head.statsTz,
        effStatsCols.nonEmpty || effBloomCols.nonEmpty),
      colIds = bColIds)
    sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
  }

  /** Z-VALUE of a row over `cols` — the multi-dimension clustering key
    * ([[compactUpsertTable]] `zOrderBy`): each column ranks into 8 bits
    * against its own approx-quantile boundaries (equi-DEPTH, so skewed
    * distributions still spread across ranks; one aggregate computes
    * all columns' boundaries), and the rank bits INTERLEAVE so no
    * dimension dominates the sort order. Sorting on this one value
    * gives every data file a tight recorded range on EVERY z-ordered
    * column — the zone maps then prune range reads on any of them,
    * where a lexicographic sort serves only its leading column.
    * Codegen-friendly: a literal-array rank probe (size∘filter) plus a
    * shift/or chain — no UDF, no window, no extra shuffle (the sort is
    * the fold's existing within-partition sort). NULLs rank lowest.
    */
  private def zOrderValue(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size <= 7,
      s"zOrderBy takes 1-7 columns, got ${cols.size}")
    cols.foreach { c =>
      require(df.columns.contains(c),
        s"zOrderBy column '$c' is not in the table")
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType,
        s"zOrderBy column '$c' is $dt; z-ranking needs a " +
          "numeric/date/timestamp column")
    }
    val probs = (1 to 255).map(_ / 256.0).toArray
    // one aggregate for every column's 255 cut points; the collect is
    // 255 x |cols| doubles — driver-bounded by contract
    val aggs = cols.map(c => percentile_approx(col(c).cast("double"),
      typedLit(probs.toSeq), lit(10000)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds: Seq[Seq[Double]] = cols.indices.map { i =>
      if (row.isNullAt(i)) Seq.empty[Double] else row.getSeq[Double](i)
    }
    val k = cols.size
    val ranks = cols.zip(bounds).map { case (c, bs) =>
      if (bs.isEmpty) lit(0L) // all-null column: constant rank
      else {
        val d = col(c).cast("double")
        // rank = #boundaries at or below the value (0..255); a NULL
        // value nulls every predicate, filter drops all, rank 0
        size(filter(typedLit(bs), b => d.geq(b))).cast("long")
      }
    }
    val terms = for { i <- 0 until 8; j <- 0 until k } yield
      shiftleft(shiftright(ranks(j), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Bound the manifest CHAIN: drop manifest files older than the newest
    * `keepLast`. Every manifest is a COMPLETE snapshot (it names every
    * live file of every bucket — there is no delta chain to fold), so
    * compaction is pure history pruning: the latest manifest, the
    * replay watermark, and the GC retention set are untouched as long as
    * `keepLast >= retain`; what is lost is exactly time travel BEYOND
    * the retention window — whose data files the sweep already deleted
    * anyway. Without this, `_manifests/` grows one tiny file per
    * micro-batch forever and every read pays an O(batches) listing; at
    * one batch a minute that is half a million objects a year.
    * Call periodically, or let the sinks do it via their
    * `compactEvery` parameter. A PINNED snapshot's resolving manifest
    * is never pruned (time travel to the pin needs the manifest, not
    * just its files). Returns the number of pruned manifests.
    */
  def compactManifests(spark: SparkSession, tableDir: String, keepLast: Int): Int = {
    import org.apache.hadoop.fs.Path
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = manifestList(fs, table)
    val pinned = pinnedManifests(fs, table).toSet
    val prune = all.dropRight(keepLast).filterNot(pinned)
    prune.foreach(p => fs.delete(p, false))
    // GC manifest SHARDS no surviving list references (pointer reads
    // only — never the shard bodies): pruned lists were the only
    // referents of their exclusive shards, and crashed commits leave
    // orphan shards no list ever named. O(shards + lists), all tiny.
    val shardsDir = new org.apache.hadoop.fs.Path(manifestsDir(table), shardsDirName)
    if (fs.exists(shardsDir)) {
      val referenced = manifestList(fs, table)
        .flatMap(p => manifestAt(fs, p).shardPointers.map(_.values.toSeq).getOrElse(Seq.empty))
        .toSet
      fs.listStatus(shardsDir).foreach { s =>
        if (s.isFile && s.getPath.getName.endsWith(".json") &&
            !referenced.contains(s.getPath.getName))
          fs.delete(s.getPath, false)
      }
    }
    prune.size
  }

  // --------------------------------------------------------------------
  // CHANGE FEED: incremental consumption of a keyed upsert table
  // --------------------------------------------------------------------

  /** Change-type column the feed appends to the table's own schema:
    * "upsert" rows carry the key's NEW image, "delete" rows the last
    * image it held at the window's base.
    */
  val changeTypeCol = "_change_type"

  private val consumerRe = "^[A-Za-z0-9_-]{1,40}$".r

  private def feedPinPrefix(consumer: String): String = {
    require(consumerRe.findFirstIn(consumer).isDefined,
      s"feed consumer '$consumer' must match ${consumerRe.regex} " +
        "(it becomes a pin-label namespace)")
    s"feed.$consumer."
  }

  /** Buckets whose content differs between two committed manifests,
    * from METADATA alone: sharded lists compare shard POINTERS (shard
    * names embed the writing batchId, so a bucket rewritten at any
    * intermediate commit always carries a different pointer — the
    * comparison is transitive across pruned-interior gaps); any legacy
    * inline list falls back to comparing the resolved file lists.
    */
  private def pointerDiff(fs: org.apache.hadoop.fs.FileSystem,
                          a: org.apache.hadoop.fs.Path,
                          b: org.apache.hadoop.fs.Path): Set[Int] =
    (manifestAt(fs, a).shardPointers, manifestAt(fs, b).shardPointers) match {
      case (Some(pa), Some(pb)) =>
        (pa.keySet ++ pb.keySet).filter(k => pa.get(k) != pb.get(k))
      case _ =>
        val la = readManifest(fs, a)._2
        val lb = readManifest(fs, b)._2
        (la.keySet ++ lb.keySet).filter(k =>
          la.getOrElse(k, Seq.empty).toSet != lb.getOrElse(k, Seq.empty).toSet)
    }

  /** NET-WINDOW CHANGE FEED — what changed between two committed
    * snapshots, reading only the buckets the window's commits touched.
    *
    * The downstream half of CDC: the table ingests O(batch) merges, but
    * without a feed every consumer (replica, index sync, export,
    * audit) re-scans the table to find what moved. This read returns
    * the NET state change over `(fromBatch, toBatch]` — one row per
    * changed key: its new image tagged `"upsert"`, or its last-held
    * image tagged `"delete"` when the key vanished. Net semantics (an
    * upsert-then-delete nets to delete, delete-then-reinsert to
    * upsert, a write that LOSES its version race to nothing) are
    * exactly what a synchronizing consumer applies; per-commit replay
    * theater is deliberately not reconstructed.
    *
    * COST, the 100 TB claim: the changed-bucket set is computed from
    * manifest METADATA alone (shard pointers — tiny objects, no data
    * file opens), and the diff then reads ONLY those buckets at the two
    * boundary snapshots — O(touched), never O(table). Commits tagged
    * `"kind":"fold"` (row-preserving compactions, including the
    * nightly Maintenance fold) are skipped from metadata alone when
    * the chain shows their exact parent, so a fold-only window costs
    * ZERO data reads. Untagged full rewrites (legacy folds, restores)
    * degrade to a correct whole-table diff — the honest fallback.
    *
    * CONTRACTS: `fromBatch` must be a manifest still in the chain (a
    * consumer whose base was pruned by [[compactManifests]] gets a
    * LOUD gap error — resync, don't guess), and the base snapshot's
    * touched files must still exist ([[advanceFeedCursor]] pins the
    * cursor batch so retention holds exactly that). The table must
    * record its key contract (`keyedBy`, every r14+ writer) — delete
    * classification needs the real key.
    */
  def readChangeFeed(spark: SparkSession, tableDir: String,
                     fromBatch: Long,
                     toBatch: Option[Long] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chain = manifestList(fs, table).map(p => (p, manifestCommitMeta(fs, p)))
    require(chain.nonEmpty,
      s"$tableDir has no committed manifest; nothing to feed from")
    val fromIdx = chain.indexWhere(_._2._1 == fromBatch)
    if (fromIdx < 0)
      throw new IllegalStateException(
        s"change-feed gap on $tableDir: base snapshot (batch $fromBatch) " +
          "is no longer in the manifest chain (pruned by compactManifests " +
          "past this consumer's cursor). Resync the consumer: re-seed it " +
          "from the current snapshot and bootstrapFeedCursor — and pin " +
          "the cursor (advanceFeedCursor does) so retention waits for it.")
    val toB = toBatch.getOrElse(chain.last._2._1)
    val toIdx = chain.indexWhere(_._2._1 == toB)
    require(toIdx >= 0, s"batch $toB is not a committed snapshot of $tableDir")
    require(toIdx >= fromIdx,
      s"feed window runs backwards: from $fromBatch to $toB on $tableDir")
    val mFrom = chain(fromIdx)._1
    val mTo = chain(toIdx)._1
    // changed buckets, metadata only: walk retained adjacent pairs;
    // skip a fold iff the chain proves it is this pair's exact child
    // (base == left id) — across a pruned-interior gap the fold's true
    // parent is unknown and the pointer diff stays conservative
    var touched = Set.empty[Int]
    var i = fromIdx
    while (i < toIdx) {
      val (pL, (idL, _, _)) = chain(i)
      val (pR, (_, baseR, kindR)) = chain(i + 1)
      if (!(kindR.contains("fold") && baseR.contains(Some(idL))))
        touched ++= pointerDiff(fs, pL, pR)
      i += 1
    }
    val nbFrom = manifestAt(fs, mFrom).nBuckets
    val nbTo = manifestAt(fs, mTo).nBuckets
    require(nbFrom == nbTo,
      s"$tableDir was re-bucketed mid-window ($nbFrom -> $nbTo); bucket " +
        "ids are not comparable across the change — resync the consumer")
    val liveFrom = readManifest(fs, mFrom)._2
      .filter(kv => touched(kv._1) && kv._2.nonEmpty)
    val liveTo = readManifest(fs, mTo)._2
      .filter(kv => touched(kv._1) && kv._2.nonEmpty)
    def readSide(m: Path, live: Map[Int, Seq[String]]) =
      if (live.isEmpty) None else Some(readSnapshotFiles(spark, table, fs, m, live))
    (readSide(mFrom, liveFrom), readSide(mTo, liveTo)) match {
      case (None, None) =>
        // nothing to diff (fold-only or empty window): a truly fileless
        // plan — zero data reads is the fold-skip guarantee
        val schemaSrc = readManifest(fs, mTo)._2.values.flatten.headOption
          .orElse(readManifest(fs, mFrom)._2.values.flatten.headOption)
        val schema = schemaSrc
          .map(rel => spark.read.parquet(new Path(table, rel).toString).schema)
          .getOrElse(new org.apache.spark.sql.types.StructType())
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema.add(changeTypeCol, org.apache.spark.sql.types.StringType))
      case (prevOpt, curOpt) =>
        val keyCols = manifestAt(fs, mTo).keyedBy.getOrElse(
          throw new IllegalStateException(
            s"$tableDir's manifest records no key contract (pre-r14 " +
              "writer); the feed needs it to classify deletes — run one " +
              "merge so the table adopts it"))
        val cur = curOpt.getOrElse(prevOpt.get.limit(0))
        val prev = prevOpt.getOrElse(cur.limit(0))
        val dropped = prev.columns.filterNot(cur.columns.contains)
        require(dropped.isEmpty,
          s"columns ${dropped.mkString(",")} present at batch $fromBatch " +
            s"vanished by $toB — the table format only widens; resync")
        require(!cur.columns.contains(changeTypeCol),
          s"table has a reserved '$changeTypeCol' column; the feed cannot tag it")
        // align the base snapshot to the current schema (widening adds
        // NULL-filled columns — the mergeSchema semantic)
        val prevA = cur.schema.fields.foldLeft(prev) { (df, f) =>
          if (df.columns.contains(f.name)) df
          else df.withColumn(f.name, lit(null).cast(f.dataType))
        }.select(cur.columns.map(col).toSeq: _*)
        val ups = cur.exceptAll(prevA).withColumn(changeTypeCol, lit("upsert"))
        val dels = prevA
          .join(cur.select(keyCols.map(col): _*), keyCols, "left_anti")
          .withColumn(changeTypeCol, lit("delete"))
        ups.unionByName(dels)
    }
  }

  /** The bounded sync target (round 16, continuous feeds): with
    * `maxCommits > 0` a sync consumes at most that many COMMITS above
    * the cursor per call — the maxCommits-th committed id above
    * `from`, or the watermark when the backlog is smaller. Bounding by
    * commit COUNT, not id arithmetic: ids are sparse under the 2*wm
    * convention, and the point is that one giant backlog never becomes
    * one giant window.
    */
  private[graft] def boundedFeedTarget(spark: SparkSession, srcDir: String,
                                       from: Long, watermark: Long,
                                       maxCommits: Int): Long =
    if (maxCommits <= 0) watermark
    else {
      val table = new org.apache.hadoop.fs.Path(srcDir)
      val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
      manifestList(fs, table)
        .flatMap(_.getName.takeWhile(_ != '.').toLongOption)
        .filter(id => id > from && id <= watermark)
        .take(maxCommits).lastOption.getOrElse(watermark)
    }

  /** The consumer's committed feed position: the highest batch among
    * its cursor pins (`feed.<consumer>.<batch>` in the table's own pin
    * namespace). The cursor IS a retention pin, so the base snapshot a
    * slow consumer still needs outlives every sweep — O(1 token) of
    * metadata buys the feed's data-availability contract.
    */
  def feedCursor(spark: SparkSession, tableDir: String,
                 consumer: String): Option[Long] = {
    val prefix = feedPinPrefix(consumer)
    listPins(spark, tableDir).collect {
      case (l, b) if l.startsWith(prefix) &&
        l.stripPrefix(prefix).nonEmpty &&
        l.stripPrefix(prefix).forall(_.isDigit) => b
    }.maxOption
  }

  /** Move the consumer's cursor forward to a COMMITTED batch —
    * crash-safe by pin-then-release: the new cursor pin lands first
    * (with [[pinBatch]]'s race re-check), then superseded cursor pins
    * release. A crash between the two leaves an extra hold, never a
    * lost place ([[feedCursor]] adopts the newest). Replays (same
    * batch) no-op; moving backwards fails loudly.
    */
  def advanceFeedCursor(spark: SparkSession, tableDir: String,
                        consumer: String, toBatch: Long,
                        expiresAtMillis: Long = Long.MaxValue): Long = {
    val prefix = feedPinPrefix(consumer)
    val cur = feedCursor(spark, tableDir, consumer)
    if (cur.contains(toBatch)) return toBatch // replay
    require(cur.forall(_ < toBatch),
      s"cursor for '$consumer' on $tableDir is at ${cur.getOrElse(-1L)}; " +
        s"feeds advance monotonically, got $toBatch")
    val label = s"$prefix$toBatch"
    val resolved = pinBatch(spark, tableDir, label, toBatch, expiresAtMillis)
    if (resolved != toBatch) {
      unpinBatch(spark, tableDir, label)
      throw new IllegalArgumentException(
        s"cursor must land on a COMMITTED batch of $tableDir " +
          s"(latestCommittedBatchId); $toBatch resolves to snapshot $resolved")
    }
    listPins(spark, tableDir).foreach { case (l, b) =>
      if (l.startsWith(prefix) && l != label &&
          l.stripPrefix(prefix).forall(_.isDigit) && b < toBatch)
        unpinBatch(spark, tableDir, l)
    }
    toBatch
  }

  /** Start a consumer at the table's current watermark (it has just
    * been seeded with — or does not care about — the current snapshot;
    * the feed delivers everything AFTER this).
    */
  def bootstrapFeedCursor(spark: SparkSession, tableDir: String,
                          consumer: String,
                          expiresAtMillis: Long = Long.MaxValue): Long = {
    val to = latestCommittedBatchId(spark, tableDir).getOrElse(
      throw new IllegalStateException(
        s"$tableDir has no committed manifest; commit one batch before " +
          "bootstrapping a feed consumer"))
    advanceFeedCursor(spark, tableDir, consumer, to, expiresAtMillis)
  }

  /** Feed-driven table replication: pull the source's net changes
    * since this consumer's cursor and commit them to the replica —
    * deletes then upserts (a net window never holds both for one key,
    * so the order is free), under batchIds monotone in the source
    * watermark, then advance the cursor. EXACTLY-ONCE end to end: a
    * crash anywhere replays — the replica's own watermark absorbs the
    * re-commits, and the un-advanced cursor re-reads the same window
    * (whose base snapshot the cursor pin held readable).
    *
    * The replica must materially hold the source's snapshot AS OF the
    * cursor (seed it by backup/restore or by replaying the first batch,
    * then [[advanceFeedCursor]] to that batch with a seed id at or
    * below the source's). Per sync the replica converges to the
    * source's exact logical state — version ties and all, because row
    * images carry their version column and the replica merge reconciles
    * with the same semantics. Returns (from, to, upserts, deletes), or
    * None when the cursor is already at the watermark.
    */
  def syncReplicaFromFeed(spark: SparkSession, srcDir: String,
                          replicaDir: String, consumer: String,
                          versionCol: String, nBuckets: Int,
                          delta: Boolean = false,
                          retain: Int = 1,
                          maxCommits: Int = 0): Option[(Long, Long, Long, Long)] = {
    val from = feedCursor(spark, srcDir, consumer).getOrElse(
      throw new IllegalStateException(
        s"no cursor for consumer '$consumer' on $srcDir; seed the replica " +
          "from a committed snapshot and advanceFeedCursor to that batch"))
    val wm = latestCommittedBatchId(spark, srcDir).getOrElse(
      throw new IllegalStateException(s"$srcDir lost its manifest chain"))
    if (wm == from) return None
    require(wm > from,
      s"$srcDir's watermark $wm is behind the cursor $from — was the " +
        "table restored below the cursor? Resync the consumer")
    // bounded window (round 16, continuous feeds): consume at most
    // maxCommits commits per call — a standing consumer facing a giant
    // backlog drains it in bounded slices instead of one giant window
    val to = boundedFeedTarget(spark, srcDir, from, wm, maxCommits)
    val keyCols = tableKeyedBy(spark, srcDir).getOrElse(
      throw new IllegalStateException(
        s"$srcDir records no key contract; run one merge to adopt it"))
    // one bounded materialization: the feed frame feeds two filters
    // and two counts (the window's changed rows, not the table)
    val feed = readChangeFeed(spark, srcDir, from, Some(to)).localCheckpoint()
    val ups = feed.filter(col(changeTypeCol) === "upsert").drop(changeTypeCol)
    val dels = feed.filter(col(changeTypeCol) === "delete")
      .select(keyCols.map(col): _*)
    val nUps = ups.count()
    val nDels = dels.count()
    deleteFromTable(spark, replicaDir, dels, keyCols, nBuckets,
      batchId = 2 * to, retain = retain)
    mergeBatchIntoTable(ups, replicaDir, keyCols, versionCol, nBuckets,
      batchId = 2 * to + 1, retain = retain, delta = delta)
    advanceFeedCursor(spark, srcDir, consumer, to)
    Some((from, to, nUps, nDels))
  }

  /** Spec for an incrementally-maintained AGGREGATE VIEW over a keyed
    * upsert table: `groupBy` names the view's dimensions (they become
    * the rollup table's key), `sums` the measures summed per group
    * (NULL measure values contribute 0 — `sum(coalesce(c, 0))`
    * semantics, so the incremental arithmetic and the full recompute
    * agree on all-null groups). The view always carries the exact row
    * count as `n_rows` and each measure as `sum_<c>`; means derive.
    * min/max are deliberately NOT offered: under deletes they are not
    * incrementally maintainable from deltas (a deleted extremum forces
    * a group re-scan) — an honest scope line, not an oversight.
    *
    * `groupBy` columns must be NON-NULL in the source: the keyed-table
    * layer addresses rows by key equality, and a NULL key cannot be
    * deleted through an anti-join — [[syncRollupFromFeed]] fails
    * loudly if a NULL group value enters a window (project a sentinel
    * upstream if the dimension is nullable).
    */
  final case class RollupSpec(groupBy: Seq[String], sums: Seq[String])

  /** The view [[syncRollupFromFeed]] maintains, as one full aggregate
    * of `src` — the seed AND the equivalence oracle: after any synced
    * window, the rollup table's rows equal this over the source's
    * current snapshot.
    */
  def rollupAggregate(src: DataFrame, spec: RollupSpec): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      spec.sums.map(c => sum(coalesce(col(c), lit(0))).as(s"sum_$c"))
    src.groupBy(spec.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Seed the rollup table with the source's CURRENT snapshot and park
    * the consumer's cursor at its watermark — the feed then delivers
    * only what changes after. BatchId `2*wm + 1` keeps later syncs'
    * ids (`2*to`, `2*to+1`) monotone. Returns the seeded watermark.
    */
  def seedRollupFromSnapshot(spark: SparkSession, srcDir: String,
                             rollupDir: String, consumer: String,
                             spec: RollupSpec, nBuckets: Int,
                             retain: Int = 1): Long = {
    val wm = latestCommittedBatchId(spark, srcDir).getOrElse(
      throw new IllegalStateException(
        s"$srcDir has no committed manifest; commit one batch before " +
          "seeding a rollup"))
    val agg = rollupAggregate(readUpsertTable(spark, srcDir), spec)
      .withColumn("__v", lit(wm)).localCheckpoint()
    require(agg.filter(spec.groupBy.map(col(_).isNull).reduce(_ || _))
      .isEmpty,
      s"rollup groupBy (${spec.groupBy.mkString(",")}) holds NULL values " +
        s"in $srcDir; NULL keys cannot be addressed by the keyed-table " +
        "layer — coalesce the dimension to a sentinel upstream")
    mergeBatchIntoTable(agg, rollupDir, spec.groupBy, "__v", nBuckets,
      batchId = 2 * wm + 1, retain = retain)
    advanceFeedCursor(spark, srcDir, consumer, wm)
    wm
  }

  /** FEED-DRIVEN INCREMENTAL AGGREGATE VIEW — the third consumer of
    * the change feed (replica [[syncReplicaFromFeed]], ANN index
    * [[graft.operators.Similarity]]'s feed sync, now rollups): keep a
    * grouped count/sum view of a 100 TB table fresh at O(changed)
    * cost per window, never re-aggregating the corpus.
    *
    * Mechanics per window `(cursor, watermark]`:
    *  1. the net feed gives each changed key's NEW image ("upsert")
    *     or last-held image ("delete");
    *  2. updated keys' PRE-images come from a bucket-pruned point
    *     read AT the cursor boundary
    *     ([[readUpsertTableForKeysBefore]] — the cursor pin holds
    *     that snapshot readable, so the read never races retention);
    *  3. signed contributions (+new, -old) aggregate to per-group
    *     DELTAS — O(changed rows), with map-side combine;
    *  4. the rollup rows for ONLY the affected groups (bucket-pruned
    *     point read — the rollup is itself a keyed upsert table) fold
    *     with the deltas into new totals;
    *  5. groups hitting n_rows = 0 DELETE; the rest upsert at version
    *     = the source watermark; the cursor advances last.
    *
    * EXACTLY-ONCE by the replica-sync argument: every commit lands
    * under a batchId monotone in the source watermark, so a crash
    * anywhere replays — committed halves no-op on their watermark,
    * recomputed totals from an already-applied window are computed
    * but never land, and the un-advanced cursor re-reads the same
    * window. A replay whose delete half already committed reads the
    * affected groups at the PRE-window boundary (the rollup's current
    * rows are mid-window state there — an emptied group's row is
    * already gone and would read as a spurious negative total); the
    * two commits' retain floors keep that snapshot readable. A
    * version race the source absorbed nets to nothing in the feed and
    * touches no group. Returns
    * (from, to, groupsUpserted, groupsDeleted); None at watermark.
    */
  def syncRollupFromFeed(spark: SparkSession, srcDir: String,
                         rollupDir: String, consumer: String,
                         spec: RollupSpec, nBuckets: Int,
                         retain: Int = 1,
                         maxCommits: Int = 0): Option[(Long, Long, Long, Long)] = {
    val from = feedCursor(spark, srcDir, consumer).getOrElse(
      throw new IllegalStateException(
        s"no cursor for consumer '$consumer' on $srcDir; " +
          "seedRollupFromSnapshot first"))
    val wm = latestCommittedBatchId(spark, srcDir).getOrElse(
      throw new IllegalStateException(s"$srcDir lost its manifest chain"))
    if (wm == from) return None
    require(wm > from,
      s"$srcDir's watermark $wm is behind the cursor $from — was the " +
        "table restored below the cursor? Resync the consumer")
    // bounded window (round 16): see syncReplicaFromFeed
    val to = boundedFeedTarget(spark, srcDir, from, wm, maxCommits)
    val keyCols = tableKeyedBy(spark, srcDir).getOrElse(
      throw new IllegalStateException(
        s"$srcDir records no key contract; run one merge to adopt it"))
    // one bounded materialization: the window's changed rows feed the
    // pre-image probe, both signed projections and the null check
    val feed = readChangeFeed(spark, srcDir, from, Some(to)).localCheckpoint()
    val ups = feed.filter(col(changeTypeCol) === "upsert").drop(changeTypeCol)
    val delPre = feed.filter(col(changeTypeCol) === "delete").drop(changeTypeCol)
    // pre-images of upserted keys AT the cursor snapshot (absent for
    // keys new in the window), aligned to the feed's widened schema
    val upPre0 = readUpsertTableForKeysBefore(spark, srcDir,
      ups.select(keyCols.map(col): _*), keyCols, from + 1) match {
      case Some(Some(df)) => df
      case _ => ups.limit(0)
    }
    val upPre = ups.columns.foldLeft(upPre0) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(ups.schema(c).dataType))
    }.select(ups.columns.map(col).toSeq: _*)
    def contrib(df: DataFrame, sign: Int): DataFrame =
      df.select(spec.groupBy.map(col) ++
        (lit(sign.toLong).as("n_rows") +:
          spec.sums.map(c =>
            (coalesce(col(c), lit(0)) * sign).as(s"sum_$c"))): _*)
    val signed = contrib(ups, 1)
      .unionByName(contrib(upPre, -1))
      .unionByName(contrib(delPre, -1))
    require(signed
      .filter(spec.groupBy.map(col(_).isNull).reduce(_ || _)).isEmpty,
      s"a NULL value entered rollup dimension (${spec.groupBy.mkString(",")})" +
        s" in window ($from, $to] of $srcDir — NULL keys cannot be " +
        "addressed by the keyed-table layer; coalesce upstream")
    val aggs = sum(col("n_rows")).as("n_rows") +:
      spec.sums.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))
    // barrier: deltas feeds the affected-group probe AND the fold
    val deltas = signed.groupBy(spec.groupBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).localCheckpoint()
    // fold ONLY the affected groups' current rows with the deltas —
    // union + re-aggregate, no join (the point read is bucket-pruned;
    // barrier: totals feeds the zero split, the upsert and the guard).
    // CRASH-REPLAY (ADVICE r14): if this window's delete half (batchId
    // 2*to) already committed before a crash, the rollup's CURRENT
    // rows are mid-window state — an emptied group's row is already
    // gone, and totals computed against it would read NEGATIVE and
    // wedge the consumer on the divergence guard below. Detect the
    // replay from the rollup's own watermark and read the affected
    // groups AT the pre-window boundary instead (the snapshot strictly
    // below 2*to — held readable by the retain floors on the two
    // commits below), so replayed totals compute against unmutated
    // state and both halves no-op or land exactly as the first
    // attempt would have.
    val affectedKeys = deltas.select(spec.groupBy.map(col): _*)
    val replaying = appliedBatch(spark, rollupDir).exists(_ >= 2 * to)
    val current = (if (!replaying)
      Some(readUpsertTableForKeys(spark, rollupDir, affectedKeys, spec.groupBy))
    else readUpsertTableForKeysBefore(spark, rollupDir, affectedKeys,
      spec.groupBy, 2 * to).flatten)
      .map(_.select((spec.groupBy ++ Seq("n_rows") ++
        spec.sums.map(c => s"sum_$c")).map(col): _*))
      .getOrElse(deltas.limit(0)) // pre-window rollup committed empty
    val totals = current.unionByName(deltas)
      .groupBy(spec.groupBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    require(totals.filter(col("n_rows") < 0).isEmpty,
      s"rollup over $srcDir went NEGATIVE in window ($from, $to] — the " +
        "view and the source diverged (was the rollup table mutated " +
        "out-of-band?); reseed the consumer")
    val zeros = totals.filter(col("n_rows") === 0)
      .select(spec.groupBy.map(col): _*)
    val positives = totals.filter(col("n_rows") > 0)
      .withColumn("__v", lit(to))
    val nPos = positives.count()
    val nZero = zeros.count()
    // retain floors: the delete keeps the pre-window snapshot (its
    // sweep retains [pre, delete]), the merge keeps it one commit
    // longer ([pre, delete, merge]) — the crash-replay pre-image read
    // above depends on both; the extra held snapshots are two tiny
    // rollup generations, reclaimed by the NEXT window's sweeps
    deleteFromTable(spark, rollupDir, zeros, spec.groupBy, nBuckets,
      batchId = 2 * to, retain = math.max(retain, 2))
    mergeBatchIntoTable(positives, rollupDir, spec.groupBy, "__v", nBuckets,
      batchId = 2 * to + 1, retain = math.max(retain, 3))
    advanceFeedCursor(spark, srcDir, consumer, to)
    Some((from, to, nPos, nZero))
  }

  // --------------------------------------------------------------------
  // Batch PINS: durable retention holds for audits
  // --------------------------------------------------------------------

  private def pinsDir(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_pins")

  /** Pin labels become filenames: portable charset only (Hadoop Path
    * rejects ':', and a '/' would escape the pins dir).
    */
  private val pinLabelRe = PinTokens.labelRe

  /** PIN a committed snapshot: every retention sweep and manifest
    * compaction from now on must keep the snapshot
    * [[readUpsertTableAt]] resolves for `batchId` — its manifest AND
    * its data files — regardless of the `retain` the sweeping writer
    * passes. This is the durable form of the audit-window contract:
    * `retain = N` holds a ROLLING window that later operations consume
    * (the [[graft.operators.Takedown.auditDocsAt]] four-manifest
    * composition limit), while a pin holds ONE boundary until
    * explicitly [[unpinBatch]]ned — take it before scheduling the
    * request, audit at leisure, release, and the next sweep (or an
    * explicit [[vacuumUpsertTable]]) reclaims the storage.
    *
    * The token is `_pins/<label>.pin`, committed tmp + rename (the
    * manifest convention — no torn token can exist). Pinning a batch
    * with no committed snapshot at or below it fails fast (there is
    * nothing to hold); re-pinning the same label at the same batch
    * no-ops, at a different batch fails loudly (unpin first — silently
    * moving a hold someone else relies on is the bug this layer
    * exists to prevent). Returns the resolved manifest's batchId.
    *
    * 100 TB posture: a pin is one tiny object; sweeps already list
    * `_manifests/`, so honoring pins adds one `_pins/` listing per
    * commit — O(pins), not O(data).
    */
  def pinBatch(spark: SparkSession, tableDir: String, label: String,
               batchId: Long, expiresAtMillis: Long = Long.MaxValue): Long = {
    import org.apache.hadoop.fs.Path
    require(pinLabelRe.findFirstIn(label).isDefined,
      s"pin label '$label' must match ${pinLabelRe.regex}")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolving = manifestList(fs, table).map(readManifest(fs, _)._1)
      .filter(_ <= batchId).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed snapshot at or before batch $batchId in $tableDir; " +
            "nothing to pin"))
    readPins(fs, table).get(label) match {
      case Some(existing) if existing == batchId => return resolving // replay
      case Some(existing) => throw new IllegalStateException(
        s"pin '$label' on $tableDir already holds batch $existing; " +
          s"unpinBatch it before re-pinning at $batchId")
      case None =>
    }
    // expiry is the leak guard: a forgotten audit hold must not grow
    // the table forever — past the deadline the pin stops holding
    // (readers ignore it, the next sweep collects the token). Default
    // is no expiry (compliance holds are explicit releases).
    PinTokens.write(fs, pinsDir(table), label, "batchId", batchId,
      expiresAtMillis)
    // pin-vs-sweep race post-condition (the appendToIvfPqIndex
    // contract shape): a writer sweeping or compacting concurrently
    // read the pin set BEFORE this token landed and may already have
    // reclaimed the snapshot — or pruned its manifest. Re-check AFTER
    // publishing that the SAME manifest still resolves and its files
    // exist; on a miss remove the token and fail rather than hand back
    // a hold on nothing (or on a different, older snapshot).
    val reResolved = manifestList(fs, table).map(p => (p, readManifest(fs, p)))
      .filter(_._2._1 <= batchId).lastOption
    val sweptAway = reResolved match {
      case Some((_, (id, live))) if id == resolving =>
        live.values.flatten.toSeq
          .filterNot(rel => fs.exists(new Path(table, rel)))
      case _ => Seq(s"manifest $resolving") // pruned by a concurrent compaction
    }
    if (sweptAway.nonEmpty) {
      fs.delete(new Path(pinsDir(table), s"$label.pin"), false)
      throw new IllegalStateException(
        s"pin '$label' on $tableDir raced a concurrent retention sweep: " +
          s"${sweptAway.size} object(s) of the batch-$batchId snapshot were " +
          "reclaimed before the pin landed. Pin a boundary the current " +
          "retain window still covers (or pause writers for the pin).")
    }
    resolving
  }

  /** Release a pin; the storage it held is reclaimed by the NEXT
    * retention sweep (any merge/delete/compaction) or an explicit
    * [[vacuumUpsertTable]]. Returns whether the pin existed.
    */
  def unpinBatch(spark: SparkSession, tableDir: String, label: String): Boolean = {
    import org.apache.hadoop.fs.Path
    require(pinLabelRe.findFirstIn(label).isDefined,
      s"pin label '$label' must match ${pinLabelRe.regex}")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(pinsDir(table), s"$label.pin"), false)
  }

  /** The committed pins: label -> pinned batchId. */
  def listPins(spark: SparkSession, tableDir: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readPins(fs, table)
  }

  /** Parse the pin tokens (the shared [[PinTokens]] semantics: expired
    * pins are dropped and best-effort collected; unparseable tokens
    * fail loudly).
    */
  private def readPins(fs: org.apache.hadoop.fs.FileSystem,
                       table: org.apache.hadoop.fs.Path): Map[String, Long] =
    PinTokens.read(fs, pinsDir(table), "batchId")

  /** The manifests pinned snapshots resolve to — for each pin, the
    * newest committed manifest at or below its batchId (exactly what
    * [[readUpsertTableAt]] would read). Monotonic batchIds make the
    * resolution stable: no later commit can land between a pin and its
    * resolving manifest. Resolution reads FILENAMES only (the
    * zero-padded name IS the batchId — the same fact manifestList's
    * sort relies on), keeping the advertised per-commit pin cost at
    * one `_pins/` listing, never O(chain) manifest-body reads.
    */
  private def pinnedManifests(fs: org.apache.hadoop.fs.FileSystem,
                              table: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val pins = readPins(fs, table)
    if (pins.isEmpty) Seq.empty
    else {
      val withIds = manifestList(fs, table)
        .map(p => (p, p.getName.takeWhile(_ != '.').toLong))
      pins.values.toSeq.distinct.flatMap(b =>
        withIds.filter(_._2 <= b).lastOption.map(_._1)).distinct
    }
  }

  /** EXPLICIT retention sweep + optional manifest compaction — the
    * reclaim call for a table that stopped receiving writes (inline
    * sweeps ride commits; a quiesced table whose pins were just
    * released would otherwise hold its audit storage forever). Honors
    * pins like every sweep. `keepManifests > 0` also prunes the
    * manifest chain (never a pin's resolving manifest). Returns the
    * number of data files deleted.
    */
  def vacuumUpsertTable(spark: SparkSession, tableDir: String,
                        retain: Int = 1, keepManifests: Int = 0): Int = {
    import org.apache.hadoop.fs.Path
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (manifestList(fs, table).isEmpty) return 0 // nothing committed to vacuum against
    val deleted = sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
    if (keepManifests > 0) compactManifests(spark, tableDir, keepManifests)
    deleted
  }

  /** FSCK for a keyed upsert table: verify the committed metadata
    * against the filesystem and report one row per invariant —
    * (check, ok, n). The explicit integrity read completing the
    * retention triad (hold = [[pinBatch]], reclaim =
    * [[vacuumUpsertTable]], verify = this): run it before trusting a
    * restored/replicated table, after an out-of-band incident, or on
    * a maintenance schedule. Checks:
    *
    *   - `manifests_parseable`: every manifest JSON under `_manifests`
    *     parses and its filename id matches its body batchId, ids
    *     strictly increasing (n = manifests);
    *   - `live_files_exist`: every data file the LATEST manifest names
    *     exists (n = missing — the table serves wrong/failed reads);
    *   - `pins_resolvable`: every pin token parses and resolves to a
    *     committed manifest (n = pins);
    *   - `pinned_files_exist`: every file a pin's resolving manifest
    *     names exists (n = missing — a held audit would fail);
    *   - `no_orphan_data`: no data file on disk is unreferenced by
    *     EVERY manifest (n = orphans). Orphans are legal crash litter
    *     mid-protocol; a nonzero count on a quiesced table means a
    *     sweep/vacuum is due, not corruption. Staged generations whose
    *     batchId carries a LIVE `_inflight` token are a concurrent
    *     writer's protected staging, NOT orphans (ADVICE r15 — the
    *     sweeps deliberately skip them, and fsck must agree with the
    *     sweeps about reclaimability): they report under the separate
    *     `in_flight_staging` row instead;
    *   - `in_flight_staging`: informational (always ok) count of
    *     staged generation dirs protected by a live in-flight token —
    *     a live concurrent writer, or an abandoned id an operator
    *     reclaims by deleting the token and vacuuming;
    *   - `commit_tokens`: informational count of commit-sequencer
    *     parent tokens under `_manifests/_commit` — post-rename litter
    *     (collected by the next contender) or a live/crashed writer
    *     (adopted by its replay, named loudly by contenders);
    *   - `no_orphan_shards`: no manifest shard file is unreferenced by
    *     every committed list (same posture as no_orphan_data);
    *     shards named by a live in-flight batchId are likewise the
    *     concurrent writer's pending publish, not orphans;
    *   - `delta_spec_present`: a live bucket stacking files from more
    *     than one commit (a DELTA bucket) requires the latest list to
    *     carry its reconcile spec — a lost spec would let plain reads
    *     return duplicate keys silently (n = multi-commit buckets).
    *
    * Never throws on what it can report (an unparseable manifest or
    * pin fails its check row instead of the call — fsck must run ON
    * corrupt tables). Cost: driver-side listings bounded by the
    * table's file and manifest counts — the same class as one sweep;
    * an explicit maintenance read, never on a hot path.
    */
  def fsckUpsertTable(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestPaths = manifestList(fs, table)
    val parsed: Seq[(Long, Long, Map[Int, Seq[String]])] =
      manifestPaths.flatMap { p =>
        try {
          val (b, live) = readManifest(fs, p)
          Some((p.getName.takeWhile(_ != '.').toLong, b, live))
        } catch { case _: Exception => None }
      }
    val manifestsOk = parsed.size == manifestPaths.size &&
      parsed.forall { case (name, body, _) => name == body } &&
      parsed.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) < w(1))
    def missing(live: Map[Int, Seq[String]]): Seq[String] =
      live.values.flatten.toSeq.filterNot(rel => fs.exists(new Path(table, rel)))
    val liveMissing = parsed.lastOption.map(m => missing(m._3)).getOrElse(Seq.empty)
    val (pins, pinsParseable) =
      try (readPins(fs, table), true)
      catch { case _: IllegalStateException => (Map.empty[String, Long], false) }
    val resolving = pins.values.toSeq.distinct.map(b =>
      b -> parsed.filter(_._2 <= b).lastOption)
    val pinsOk = pinsParseable && resolving.forall(_._2.isDefined)
    val pinnedMissing = resolving.flatMap(_._2).flatMap(m => missing(m._3)).distinct
    val referencedEver = parsed.flatMap(_._3.values).flatten.toSet
    // LIVE in-flight tokens, read WITHOUT the sweep helper's stale-token
    // collection (fsck never mutates): ids tokened under `_inflight`
    // that no committed manifest carries — a concurrent writer's
    // protected staging (or an abandoned id). Their gen dirs and
    // pending shards are deliberately NOT orphans (ADVICE r15): the
    // sweeps skip them forever, and fsck disagreeing would flag a
    // healthy concurrent write as red debris.
    val committedIds = parsed.map(_._2).toSet
    val inflightLive: Set[Long] = {
      val d = new Path(table, "_inflight")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).filter(_.isFile)
        .flatMap(_.getPath.getName.toLongOption)
        .filterNot(committedIds).toSet
    }
    var inflightStaged = 0L
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    // a table without a committed manifest has no reference set to
    // check its files against
    if (parsed.nonEmpty && fs.exists(table)) fs.listStatus(table).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) orphans += name
      else if (st.isDirectory && name.startsWith("gen_") &&
          name.stripPrefix("gen_").toLongOption.exists(inflightLive)) {
        inflightStaged += 1 // a protected staging, reported, never red
      } else if (st.isDirectory &&
          (name.startsWith("gen_") || name.startsWith(s"$upsertBucketCol="))) {
        val bucketDirs =
          if (name.startsWith("gen_")) fs.listStatus(st.getPath).filter(_.isDirectory).toSeq
          else Seq(st)
        bucketDirs.foreach { bd =>
          val relPrefix =
            if (name.startsWith("gen_")) s"$name/${bd.getPath.getName}" else name
          fs.listStatus(bd.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .foreach { f =>
              val rel = s"$relPrefix/${f.getPath.getName}"
              if (!referencedEver.contains(rel)) orphans += rel
            }
        }
      }
    }
    // manifest-shard orphans: shard files no committed list references —
    // crash litter mid-publish (a compactManifests is due), same posture
    // as no_orphan_data; pointer reads only, never shard bodies
    val shardsDir = new Path(manifestsDir(table), shardsDirName)
    val orphanShards =
      if (!fs.exists(shardsDir)) Seq.empty[String]
      else {
        val referenced = manifestPaths.flatMap { p =>
          try manifestAt(fs, p).shardPointers.map(_.values.toSeq).getOrElse(Seq.empty)
          catch { case _: Exception => Seq.empty }
        }.toSet
        // a shard named by a LIVE in-flight batchId is a concurrent
        // writer's pending publish (shards write before the list
        // renames) — not crash litter
        val shardId = """s\d+-(\d+)\.json""".r
        fs.listStatus(shardsDir)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
            !referenced.contains(s.getPath.getName) &&
            !(s.getPath.getName match {
              case shardId(id) => id.toLongOption.exists(inflightLive)
              case _ => false
            }))
          .map(_.getPath.getName).toSeq
      }
    // a live bucket stacking files from MORE than one commit is EITHER
    // an unfolded delta bucket (readable only through a reconcile
    // spec — a latest list naming one without the spec would let plain
    // reads return duplicate keys silently) OR the LEGAL carry+rewrite
    // mix a classified predicate delete leaves on a unique-keyed table
    // (round 16: disjoint files carry pointer-untouched next to the
    // rewrite's fresh files). Discriminate from the chain, metadata
    // only: with no spec on the latest list, a multi-ordinal bucket is
    // damage-suspicious only if its shard POINTER is unchanged since
    // the last retained spec-bearing manifest (the spec vanished under
    // it without a rewrite); buckets rewritten by spec-less commits
    // since (folds, classified deletes) are unique-keyed by those
    // commits' own contracts, and tables that never carried a spec
    // cannot be hiding deltas at all. Pointer/shard reads only.
    val multiBuckets = parsed.lastOption
      .map(_._3.filter(_._2.map(fileOrdinal).distinct.size > 1).keySet)
      .getOrElse(Set.empty[Int])
    val multiGen = multiBuckets.size
    val latestHasSpec = manifestPaths.lastOption.exists(p =>
      try manifestAt(fs, p).reconcile.isDefined
      catch { case _: Exception => false })
    val specOk = multiGen == 0 || latestHasSpec || {
      // the commit that CREATED a bucket's newest layer is named by
      // its max file ordinal; its recorded kind discriminates:
      // "delete" = the classified predicate delete's unique-keyed
      // carry+rewrite mix (legal without a spec); anything else
      // stacked files some other way — only a delta append does that,
      // and it must carry the spec (red = the spec was lost). A pruned
      // creator (compacted chain) is legal only if no retained
      // manifest ever carried a spec (a never-delta table cannot be
      // hiding duplicates).
      val metaById = manifestPaths.flatMap { p =>
        try { val (id, _, kind) = manifestCommitMeta(fs, p); Some(id -> kind) }
        catch { case _: Exception => None }
      }.toMap
      val everSpec = parsed.nonEmpty && manifestPaths.exists(p =>
        try manifestAt(fs, p).reconcile.isDefined
        catch { case _: Exception => false })
      val latestLive = parsed.last._3
      multiBuckets.forall { b =>
        latestLive(b).map(fileOrdinal).flatMap(_.toLongOption)
          .maxOption.flatMap(metaById.get) match {
          case Some(Some("delete")) => true
          case Some(_) => false
          case None => !everSpec
        }
      }
    }
    // commit-sequencer parent tokens (round 16): a token whose holder
    // id IS committed is post-rename litter the next contender
    // collects; an UNCOMMITTED holder marks a live (or crashed,
    // unreplayed) writer the contenders will name loudly —
    // informational either way, mirroring in_flight_staging: fsck
    // reports what the commit path itself collects or adopts
    val commitDir = new Path(manifestsDir(table), "_commit")
    val commitTokens =
      if (!fs.exists(commitDir)) 0L
      else fs.listStatus(commitDir).count(_.isFile).toLong
    Seq(
      ("manifests_parseable", manifestsOk, parsed.size.toLong),
      ("live_files_exist", liveMissing.isEmpty, liveMissing.size.toLong),
      ("pins_resolvable", pinsOk, pins.size.toLong),
      ("pinned_files_exist", pinnedMissing.isEmpty, pinnedMissing.size.toLong),
      ("no_orphan_data", orphans.isEmpty, orphans.size.toLong),
      ("in_flight_staging", true, inflightStaged),
      ("commit_tokens", true, commitTokens),
      ("no_orphan_shards", orphanShards.isEmpty, orphanShards.size.toLong),
      ("delta_spec_present", specOk, multiGen.toLong))
      .toDF("check", "ok", "n")
  }

  /** BACKUP one committed snapshot of a keyed upsert table into a
    * self-contained dir: the data files the resolving manifest (newest
    * at or below `batchId`; latest by default) names, byte-copied
    * under their table-relative paths, plus that manifest — written
    * LAST, tmp + rename, so a torn backup has no manifest and
    * [[restoreUpsertTable]] refuses it. The result is itself a valid
    * single-snapshot table ([[readUpsertTable]] reads it directly),
    * which is what makes it a backup rather than an export: restore is
    * a re-publish, not a re-encode, and rows round-trip bit-identical.
    *
    * Returns the backed-up batchId. The byte movement is a DISTRIBUTED
    * Spark job over the snapshot's file list ([[bulkCopy]]) — at 100 TB
    * the copy wall-clock scales with executors, flat per file; the
    * manifest-last commit is unchanged. The backup's manifest is
    * written SELF-CONTAINED (inline shape): a sharded source list
    * points into the source's `_manifests/shards/`, which the backup
    * must not depend on. A backup dir is SINGLE-SHOT: if it already
    * holds a committed manifest OF THE SNAPSHOT THIS CALL RESOLVES, a
    * prior attempt completed and this call returns that batchId without
    * re-copying (crash-replay idempotence); a committed manifest of a
    * DIFFERENT snapshot throws — a reused dir silently reported as
    * success would hand a later restore the wrong table state. Back a
    * newer snapshot up into a fresh dir.
    */
  def backupUpsertTable(spark: SparkSession, tableDir: String,
                        backupDir: String,
                        batchId: Long = Long.MaxValue): Long = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new Path(backupDir)
    val src = manifestList(fs, table).map(p => (p, readManifest(fs, p)))
      .filter(_._2._1 <= batchId).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed snapshot at or before batch $batchId in $tableDir; " +
            "nothing to back up"))
    latestManifest(fs, dest) match {
      case Some((committed, _)) if committed == src._2._1 =>
        return committed // replayed backup of the SAME snapshot
      case Some((committed, _)) =>
        // replay-vs-caller-bug discrimination (ADVICE r13, the restore
        // convention): a committed backup of a DIFFERENT snapshot means
        // the caller reused a single-shot dir — returning its id would
        // report the stale backup as this call's success, and a later
        // restore would roll the table back further than intended
        throw new IllegalStateException(
          s"$backupDir already holds a committed backup of batch " +
            s"$committed, but this call resolves batch ${src._2._1} of " +
            s"$tableDir — a reused backup dir, not a replay. Back the " +
            "newer snapshot up into a fresh dir (backup dirs are " +
            "single-shot).")
      case None =>
    }
    fs.mkdirs(dest)
    bulkCopy(spark, src._2._2.values.flatten.toSeq.map(rel =>
      (new Path(table, rel).toString, new Path(dest, rel).toString)))
    // manifest LAST (the commit): a crash above leaves no manifest and
    // the backup reads as nothing / restore refuses
    val mixed = manifestAt(fs, src._1).mixed
    val nBuckets = manifestAt(fs, src._1).nBuckets
    val mDest = new Path(manifestsDir(dest), src._1.getName)
    fs.mkdirs(mDest.getParent)
    val tmp = new Path(mDest.getParent, s".${src._1.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(inlineManifestBody(src._2._1, nBuckets, src._2._2, mixed,
      manifestAt(fs, src._1).reconcile, manifestAt(fs, src._1).keyedBy,
      // zone maps travel with the snapshot: a restored table prunes
      // exactly like the original did
      fileStats = manifestFileStats(fs, src._1),
      statsCols = manifestAt(fs, src._1).statsCols,
      bloomCols = manifestAt(fs, src._1).bloomCols,
      statsTz = manifestAt(fs, src._1).statsTz,
      colIds = manifestAt(fs, src._1).colIds)
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, mDest))
      throw new IllegalStateException(s"backup manifest commit failed at $mDest")
    src._2._1
  }

  /** DISTRIBUTED bulk byte-copy — the file movement of
    * [[backupUpsertTable]]/[[restoreUpsertTable]] as one Spark job:
    * the (src, dest) pairs fan out over executors (mapPartitions, one
    * Hadoop `FileUtil.copy` per file, overwrite-idempotent so task
    * retries are safe), and any per-file failure fails the job — the
    * manifest-last commit above never lands on a partial copy. The
    * driver holds only the PATH list (bounded by the snapshot's file
    * count, the sweep cost class); bytes never visit the driver.
    * The SESSION's Hadoop configuration ships to the tasks (via
    * [[SerializableHadoopConf]]) — object-store credentials and
    * endpoints set through `spark.hadoop.*` must reach the executor-
    * side filesystems, which a fresh task-side `Configuration()`
    * (site files only) would silently drop.
    */
  private def bulkCopy(spark: SparkSession,
                       pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val slices = math.max(1, math.min(pairs.size,
      spark.sparkContext.defaultParallelism))
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.parallelize(pairs, slices).foreachPartition { it =>
      val conf = confBc.value.conf
      it.foreach { case (from, to) =>
        val src = new org.apache.hadoop.fs.Path(from)
        val dst = new org.apache.hadoop.fs.Path(to)
        val sfs = src.getFileSystem(conf)
        val dfs = dst.getFileSystem(conf)
        dfs.mkdirs(dst.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst,
            false, true, conf))
          throw new java.io.IOException(s"bulk copy failed: $from -> $to")
      }
    }
  }

  /** RESTORE a backup into a table as a NEW commit — the heal for what
    * [[fsckUpsertTable]] finds (a live file vanished out-of-band) and
    * the DR clone (restore into an empty dir). History is preserved,
    * never rewritten: the backup's files byte-copy under a fresh
    * `gen_<batchId>` generation, the commit is the next manifest, and
    * the post-commit sweep reclaims whatever the damaged snapshot left
    * (pins honored as ever). `batchId` must exceed the target's
    * applied watermark (a restore is an ordinary commit in the
    * table's id space). A backup without a committed manifest — a torn
    * copy — is refused loudly.
    *
    * Returns TRUE when this call committed the restore, FALSE for a
    * VERIFIED replay no-op: when the target's watermark is already at
    * or above `batchId`, the target must hold a manifest committed
    * under exactly `batchId` whose live set is exactly what this
    * restore would publish — a prior attempt of THIS restore. Anything
    * else under a stale id is a CALLER BUG and throws: for a
    * disaster-recovery entry point, "did nothing" must never look like
    * "healed" (r12 verdict "what's wrong" #2).
    */
  def restoreUpsertTable(spark: SparkSession, backupDir: String,
                         tableDir: String, batchId: Long,
                         retain: Int = 1): Boolean = {
    import org.apache.hadoop.fs.Path
    val backup = new Path(backupDir)
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (srcBatch, live) = latestManifest(fs, backup).getOrElse(
      throw new IllegalArgumentException(
        s"$backupDir has no committed backup manifest (torn backup?); " +
          "refusing to restore from it"))
    markInFlight(fs, table, batchId)
    val genName = s"gen_$batchId"
    def destRel(rel: String): String = {
      val parts = rel.split('/')
      val bucketPart = parts.dropRight(1).lastOption.getOrElse(
        throw new IllegalStateException(s"unexpected backup path $rel"))
      // preserve the file's ORIGINAL commit ordinal as a filename
      // marker: the restore re-homes every file under this commit's
      // gen dir, and a delta snapshot's reconcile would otherwise lose
      // the commit order that breaks version ties ([[reconcileRows]]
      // reads the marker before the gen segment); files restored twice
      // keep their first marker
      val last = parts.last
      val marked =
        if (last.matches("g-?\\d+-.*")) last
        else {
          val orig = parts.find(_.startsWith("gen_"))
            .map(_.stripPrefix("gen_")).getOrElse("-1")
          s"g$orig-$last"
        }
      s"$genName/$bucketPart/$marked"
    }
    if (latestManifest(fs, table).exists(_._1 >= batchId)) {
      // replay-vs-caller-bug discrimination: a genuine replay left a
      // manifest at exactly this id naming exactly this restore's files
      // (resolved by FILENAME — the zero-padded name IS the batchId —
      // so the no-op branch reads one manifest, never the whole chain)
      val expected = live.values.flatten.map(destRel).toSet
      val matches = manifestList(fs, table)
        .filter(_.getName.takeWhile(_ != '.').toLong == batchId)
        .map(p => readManifest(fs, p))
        .exists(_._2.values.flatten.toSet == expected)
      if (matches) return false
      throw new IllegalStateException(
        s"restore of $backupDir into $tableDir under batch $batchId did " +
          s"NOT run: the table's watermark is already at or past $batchId " +
          "and no committed manifest there matches this backup — a stale " +
          "batchId (restore under an id above the watermark), not a " +
          "replay. Refusing to report an un-run restore as success.")
    }
    require(srcBatch <= batchId,
      s"restoring a snapshot committed at batch $srcBatch under the " +
        s"EARLIER id $batchId would run the watermark backwards; restore " +
        "under an id at or above the backup's")
    val mixed = manifestList(fs, backup).lastOption.exists(manifestAt(fs, _).mixed)
    val nBuckets = manifestAt(fs, manifestList(fs, backup).last).nBuckets
    // distributed byte movement (the backup path's bulkCopy); the
    // manifest publish below is the commit, so a partial copy is
    // invisible and the replay overwrites it
    bulkCopy(spark, live.values.flatten.toSeq.map(rel =>
      (new Path(backup, rel).toString, new Path(table, destRel(rel)).toString)))
    val restored = live.map { case (b, fls) => b -> fls.map(destRel) }
    val backupManifest = manifestList(fs, backup).last
    publishManifest(fs, table, batchId, nBuckets, restored, mixed,
      base = Some(manifestList(fs, table).lastOption
        .map(manifestAt(fs, _).batchId)),
      reconcile = manifestAt(fs, backupManifest).reconcile,
      keyedBy = manifestAt(fs, backupManifest).keyedBy,
      // stats re-key to the re-homed paths; the values are the files'
      // own (bytes are copied, ranges unchanged)
      fileStats = manifestFileStats(fs, backupManifest)
        .map { case (rel, cs) => destRel(rel) -> cs },
      statsCols = manifestAt(fs, backupManifest).statsCols,
      bloomCols = manifestAt(fs, backupManifest).bloomCols,
      // the restored stats are the backup's rendered strings: the
      // recorded zone travels with them
      statsTz = manifestAt(fs, backupManifest).statsTz,
      // the column-id contract travels too: restored files keep their
      // ORIGINAL ordinals (the g<orig>- filename marker, which
      // fileOrdinal reads first), so era translation resolves exactly
      // as it did on the source
      colIds = manifestAt(fs, backupManifest).colIds)
    sweepUnreferenced(fs, table, retainedFiles(fs, table, retain))
    true
  }

  /** Union of the data files referenced by the newest `retain`
    * manifests PLUS every pinned snapshot's resolving manifest — the
    * retention set a sweep must preserve. retain = 1 is
    * current-snapshot-only; larger values keep older snapshots readable
    * via [[readUpsertTableAt]] (time travel); pins hold named
    * boundaries regardless of the writer's retain.
    *
    * Shard-read dedupe: consecutive snapshots SHARE untouched buckets'
    * shard files (the pointer-reuse design), so each distinct shard is
    * read once across the whole retention window — the read cost per
    * sweep is O(distinct shards), not O(window × buckets).
    */
  private def retainedFiles(fs: org.apache.hadoop.fs.FileSystem,
                            table: org.apache.hadoop.fs.Path, retain: Int): Set[String] = {
    val lists = (manifestList(fs, table).takeRight(math.max(1, retain)) ++
      pinnedManifests(fs, table)).distinct
    val shardsDir = new org.apache.hadoop.fs.Path(manifestsDir(table), shardsDirName)
    val out = Set.newBuilder[String]
    val shardNames = Set.newBuilder[String]
    lists.foreach { p =>
      manifestAt(fs, p).shardPointers match {
        case Some(ptrs) => shardNames ++= ptrs.values
        case None => out ++= readManifest(fs, p)._2.values.flatten // inline (backup shape)
      }
    }
    shardNames.result().foreach { name =>
      out ++= readShardFiles(fs, new org.apache.hadoop.fs.Path(shardsDir, name))
    }
    out.result()
  }

  /** Post-commit GC: delete every data file the retained manifests do
    * not reference — superseded generation files, crash debris, stray
    * root-level files — then drop emptied dirs. Runs
    * after EVERY commit over the whole table, so a crash between a
    * publish and its sweep self-heals on the next batch. Returns the
    * number of data files deleted (the [[vacuumUpsertTable]] report).
    *
    * Generations carrying a live in-flight token ([[markInFlight]])
    * are a CONCURRENT writer's staging (the optimistic-rebase world of
    * [[publishManifest]]) and are left alone; the token lands before
    * the staging's first file, and each candidate generation's token
    * is RE-CHECKED at decision time, so the unprotected window is the
    * instant between that recheck and the deletes (detection, not
    * linearizability — the lost-update-guard honesty). Tokenless
    * orphans (crash debris) sweep as always — the self-heal contract.
    */
  private def sweepUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
                                table: org.apache.hadoop.fs.Path,
                                referenced: Set[String]): Int = {
    var deleted = 0
    val inflight = inflightIds(fs, table)
    fs.listStatus(table).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) {
        fs.delete(st.getPath, false) // a stray root-level file no manifest names
        deleted += 1
      } else if (st.isDirectory && name.startsWith("gen_") &&
          name.stripPrefix("gen_").toLongOption.exists(id =>
            inflight(id) ||
              // RE-CHECK at decision time: this sweep's token listing
              // ran at entry, and a writer may have tokened + staged
              // since — the recheck narrows the unprotected window to
              // the instant between it and the deletes below (the
              // lost-update-guard honesty: detection, not
              // linearizability)
              fs.exists(new org.apache.hadoop.fs.Path(inflightDir(table),
                f"$id%020d")))) {
        // a concurrent writer's staged generation: not ours to reclaim
      } else if (st.isDirectory &&
          (name.startsWith("gen_") || name.startsWith(s"$upsertBucketCol="))) {
        val bucketDirs =
          if (name.startsWith("gen_")) fs.listStatus(st.getPath).filter(_.isDirectory).toSeq
          else Seq(st)
        var liveFiles = 0
        bucketDirs.foreach { bd =>
          val relPrefix =
            if (name.startsWith("gen_")) s"$name/${bd.getPath.getName}" else name
          var bdLive = 0
          fs.listStatus(bd.getPath).filter(_.isFile).foreach { f =>
            if (referenced.contains(s"$relPrefix/${f.getPath.getName}")) { bdLive += 1; liveFiles += 1 }
            else {
              fs.delete(f.getPath, false)
              if (f.getPath.getName.endsWith(".parquet")) deleted += 1
            }
          }
          // recursive: checksum FS litter (.crc) hides from listStatus
          if (bdLive == 0) fs.delete(bd.getPath, true)
        }
        // a generation with no referenced files left (incl. its _SUCCESS) goes entirely
        if (name.startsWith("gen_") && liveFiles == 0) fs.delete(st.getPath, true)
      }
    }
    deleted
  }

  /** Streaming frequency sketch: each micro-batch's items fold into a
    * persistent count-min sketch table ([[graft.operators.Sketches]]) —
    * the sketch's MERGEABILITY is what makes it a streaming citizen:
    * state is O(depth × width) rows no matter how long the stream runs,
    * and the maintained table equals the sketch of the full history
    * (StreamingSpec asserts batch parity). Heavy-hitter estimates over
    * an unbounded stream for the cost of a tiny table.
    */
  def sketchToParquet(items: DataFrame, itemCol: String, tableDir: String,
                      depth: Int = 4, width: Int = 256,
                      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeSketchBatch(batch.toDF(), itemCol, tableDir, depth, width, batchId, compactEvery)
      }
      .start()

  /** One micro-batch fold into the sketch table, committed through the
    * same MANIFEST protocol as [[mergeBatchIntoTable]]. Unlike the
    * upsert sink a sketch merge is NOT idempotent (counts add), so
    * replay safety cannot ride on merge semantics: here the manifest's
    * batchId IS the applied-batch watermark, and because state and
    * watermark live in the same atomically-published file, they commit
    * together — a replayed batchId is a no-op, a crash before the
    * publish leaves only an unreferenced generation that the replay
    * overwrites and the next sweep collects. No rename of data ever
    * happens. A directory holding the older `current/` layout (or any
    * other manifest-less one) is refused before anything is written
    * ([[requireFormatFloor]]).
    */
  def mergeSketchBatch(batch: DataFrame, itemCol: String, tableDir: String,
                       depth: Int, width: Int, batchId: Long,
                       compactEvery: Int = 0): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = latestManifest(fs, table)
    if (committed.isEmpty) requireFormatFloor(fs, table)
    if (committed.exists(_._1 >= batchId)) return // replayed batch: already folded
    val liveFiles = committed.map(_._2.values.flatten.toSeq).getOrElse(Nil)
    val batchSketch = graft.operators.Sketches.countMinSketch(
      batch.select(col(itemCol)), itemCol, depth, width)
    val merged =
      if (liveFiles.isEmpty) batchSketch
      else graft.operators.Sketches.mergeSketches(Seq(
        spark.read.parquet(liveFiles.map(r => new Path(table, r).toString): _*),
        batchSketch))
    val genName = s"gen_$batchId"
    val genDir = new Path(table, genName)
    markInFlight(fs, table, batchId)
    merged.coalesce(1) // depth x width rows — one file IS the right layout
      .write.mode("overwrite").parquet(new Path(genDir, "sketch").toString)
    val newFiles = fs.listStatus(new Path(genDir, "sketch"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s"$genName/sketch/${f.getPath.getName}").toSeq
    publishManifest(fs, table, batchId, 1, Map(0 -> newFiles),
      base = Some(committed.map(_._1)))
    sweepUnreferenced(fs, table, newFiles.toSet)
    if (compactEvery > 0 && manifestList(fs, table).size > compactEvery)
      compactManifests(spark, tableDir, compactEvery)
  }

  /** The sketch the streaming sink maintains, as a [[graft.operators.Sketches]]
    * frame (join with `cmsEstimate` for point estimates): the file the
    * latest committed manifest names. A table with no committed sketch
    * fails by name ([[noSnapshot]]).
    */
  def readSketchTable(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tableDir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, table) match {
      case Some((_, live)) if live.values.exists(_.nonEmpty) =>
        spark.read.parquet(
          live.values.flatten.map(r => new Path(table, r).toString).toSeq: _*)
      case committed => noSnapshot(fs, table, committed.isDefined)
    }
  }

  final case class UserRunning(user_id: Long, n: Long, total: Double)

  final case class UserTws(user_id: Long, n: Long, total: Double, max_value: Double)

  /** Spark 4 `StatefulProcessor` behind [[runningUserTotalsTws]]: the
    * arbitrary-state v2 API (SPIP: transformWithState). Differences from
    * mapGroupsWithState that matter at scale: named state variables
    * (value/list/map) with schema evolution, per-state TTL (state that
    * expires without a hand-rolled timeout dance), timers, and a
    * RocksDB-backed store REQUIRED — which is also the right provider at
    * 100 TB (state spills to disk + changelog checkpointing, instead of
    * a JVM-heap HashMap). State here is one O(1) record per user.
    */
  private class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserTws] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserTws] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTws]("totals",
        org.apache.spark.sql.Encoders.product[UserTws],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTws] = {
      val prev = if (totals.exists()) totals.get() else UserTws(key, 0L, 0.0, Double.MinValue)
      var n = prev.n
      var tot = prev.total
      var mx = prev.max_value
      rows.foreach { case (_, v) => n += 1; tot += v; mx = math.max(mx, v) }
      val next = UserTws(key, n, tot, mx)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running (count, sum, max) on the transformWithState API —
    * the same semantics as [[runningUserTotals]] (StreamingSpec asserts
    * parity), re-expressed on the v2 state API. Requires the RocksDB
    * state store provider (enforced by Spark itself).
    */
  def runningUserTotalsTws(spark: SparkSession, events: DataFrame): Dataset[UserTws] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Custom stateful operator: per-user running (count, sum) via
    * mapGroupsWithState — the KeyValueGroupedDataset state API
    * (SURVEY.md §2.8 streaming row).
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { r => n += 1; tot += r._2 }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          next
      }
  }
}

/** Java-serializable Hadoop Configuration carrier for the distributed
  * bulk-copy job (the standard Spark pattern — Spark's own wrapper is
  * `private[spark]`): serializes through the Configuration's own
  * write/readFields, so `spark.hadoop.*` session overrides (object-
  * store credentials, endpoints) reach the executor-side filesystem
  * opens instead of being silently dropped by a fresh task-side
  * `Configuration()`.
  */
private[graft] class SerializableHadoopConf(
    @transient private var _conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  def conf: org.apache.hadoop.conf.Configuration = _conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    _conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    _conf = new org.apache.hadoop.conf.Configuration(false)
    _conf.readFields(in)
  }
}

/** The ONE pin-token definition every retention layer shares (upsert
  * tables here; index generations and codes batches in
  * [[graft.operators.Similarity]]): a `<label>.pin` file committed
  * tmp + rename, body `{"<key>":<value>,"expiresAt":<millis>}`. One
  * definition so the semantics — expiry, corruption posture, the
  * portable label charset — cannot drift between layers.
  */
private[graft] object PinTokens {

  /** Labels become filenames: portable charset only (Hadoop Path
    * rejects ':', and a '/' would escape the pins dir — a traversal
    * on release paths, not just a bad name).
    */
  val labelRe: scala.util.matching.Regex = "^[A-Za-z0-9._-]{1,64}$".r

  def requireLabel(label: String): Unit =
    require(labelRe.findFirstIn(label).isDefined,
      s"pin label '$label' must match ${labelRe.regex}")

  /** Tmp + rename token commit (the manifest convention — no torn
    * token can exist).
    */
  def write(fs: org.apache.hadoop.fs.FileSystem,
            dir: org.apache.hadoop.fs.Path, label: String, key: String,
            value: Long, expiresAtMillis: Long): Unit = {
    requireLabel(label)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$label.pin.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      s"""{"$key":$value,"expiresAt":$expiresAtMillis}""".getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, s"$label.pin")))
      throw new IllegalStateException(
        s"failed to commit pin '$label' under $dir — concurrent pinner " +
          "with the same label?")
  }

  /** Parse the tokens under `dir` for `key`. EXPIRED pins are dropped
    * (expiry is a release that already happened) and their tokens
    * collected BEST-EFFORT — a reader on a read-only filesystem (an
    * fsck of a replica, a listPins) still gets the filtered answer
    * instead of dying on the delete; legacy tokens without an
    * expiresAt never expire. An UNPARSEABLE token fails LOUDLY
    * (refusing to sweep beats sweeping a held snapshot): tokens commit
    * via tmp + rename, so a torn one can only be external corruption —
    * the error names the file and the recovery.
    */
  def read(fs: org.apache.hadoop.fs.FileSystem,
           dir: org.apache.hadoop.fs.Path, key: String): Map[String, Long] = {
    val now = System.currentTimeMillis()
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".pin"))
      .flatMap { s =>
        val in = fs.open(s.getPath)
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val v = ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalStateException(
            s"unparseable pin token ${s.getPath} (pins commit via " +
              "tmp+rename, so this is external corruption); restore it " +
              s"from '{\"$key\":<id>}' or delete it ONLY if the hold is " +
              "no longer needed")).group(1).toLong
        val expired = """"expiresAt":(-?\d+)""".r.findFirstMatchIn(body)
          .exists(_.group(1).toLong <= now)
        if (expired) {
          try fs.delete(s.getPath, false)
          catch { case _: java.io.IOException => } // read-only reader: filter only
          None
        } else Some(s.getPath.getName.stripSuffix(".pin") -> v)
      }.toMap
  }
}
