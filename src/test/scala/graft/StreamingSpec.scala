package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents() = Seq(
    (1L, "2024-01-01 10:10:00", 1L, "a", 5.0, "{}"),
    (2L, "2024-01-01 10:50:00", 1L, "a", 7.0, "{}"),
    (2L, "2024-01-01 10:50:00", 1L, "a", 7.0, "{}"), // dup event_id
    (3L, "2024-01-01 11:20:00", 2L, "b", 1.0, "{}")
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
    .withColumn("ts", to_timestamp(col("ts_s")))
    .select("event_id", "ts", "user_id", "event_type", "value", "props")

  private def streamDir(): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    mkEvents().coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming hourly agg matches the batch run of the same transform") {
    val dir = streamDir()
    val q = EventStreams.hourlyByType(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("hourly")
        .select("ws", "event_type", "n", "sum_value").collect().toSet
      val batch = EventStreams.hourlyByType(mkEvents())
        .select("ws", "event_type", "n", "sum_value").collect().toSet
      assert(stream === batch)
      assert(stream.exists(r => r.getLong(2) === 3L)) // 10:00 window has 3 events
    } finally q.stop()
  }

  test("stream-stream interval join matches errors to recent purchases") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    Seq(
      (1L, "2024-01-01 10:00:00", 7L, "purchase", 5.0, "{}"),
      (2L, "2024-01-01 10:00:30", 7L, "error", 0.0, "{}"),    // purchase 30s before
      (3L, "2024-01-01 10:10:00", 7L, "error", 0.0, "{}"),    // no purchase within 60s
      (4L, "2024-01-01 10:00:30", 8L, "error", 0.0, "{}")     // other user: no match
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.errorPurchaseIntervalJoin(
        EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("ssj").select("e_id", "p_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((2L, 1L)))
    } finally q.stop()
  }

  test("native session_window groups the gapped events into two sessions") {
    val dir = streamDir()
    val q = EventStreams.sessionWindowCounts(
        EventStreams.readEventStream(spark, dir), gap = "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sw").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sw").select("user_id", "n_events")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toList.sorted
      // user 1: 10:10 + 10:50x2 with 30min gap -> one session of 1, one of 2
      assert(sessions === List(1L -> 1L, 1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes the duplicate event") {
    val dir = streamDir()
    val q = EventStreams.dedupedWithinWatermark(EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-static join enriches events with the dimension") {
    val dir = streamDir()
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventStreams.enrichedWithDim(
        EventStreams.readEventStream(spark, dir), dim, "user_id")
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      q.processAllAvailable()
      val tiers = spark.table("enriched").select("event_id", "tier")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(tiers(1L) === "gold")
      assert(tiers(3L) === "basic")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits sessions when the watermark closes them") {
    val dir = streamDir()
    val q = EventStreams.closedSessions(spark, EventStreams.readEventStream(spark, dir), 1800L)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past all first-batch sessions
      Seq((99L, "2024-01-02 00:00:00", 9L, "a", 0.0, "{}"))
        .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable() // extra batch so timeout fires after watermark update
      val got = spark.table("sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // user 1: 10:10 then 10:50 — 40 min gap > 30 min threshold, so two
      // sessions: {10:10} and {10:50 x2}; user 2: one single-event session
      assert(got.contains((1L, 1L)))
      assert(got.contains((1L, 2L)))
      assert(got.contains((2L, 1L)))
    } finally q.stop()
  }

  test("foreachBatch sink lands hour-partitioned parquet") {
    val dir = streamDir()
    val out = Files.createTempDirectory("graft-sink").toString + "/out"
    val q = EventStreams.hourlyToParquet(EventStreams.readEventStream(spark, dir), out)
    try {
      q.processAllAvailable()
      // watermark has not passed, so append-mode windows may be pending;
      // push a far-future event to close them, then check the files
      Seq((99L, "2024-01-02 00:00:00", 1L, "a", 0.0, "{}"))
        .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.columns.contains("hour")) // partition column round-trips
      assert(back.agg(sum("n")).head().getLong(0) >= 4L) // all first-batch events
    } finally q.stop()
  }

  test("streaming upsert merges change batches into a keep-latest table") {
    import org.apache.spark.sql.types._
    val srcDir = Files.createTempDirectory("graft-cdc-src").toString
    val tableDir = Files.createTempDirectory("graft-cdc-tbl").toString + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("payload", StringType), StructField("version", LongType)))
    // bucket of each key under the sink's partitioning, for the
    // touched-partitions assertion below
    def bucketOf(k: Long): Int = Seq(k).toDF("k")
      .select(pmod(hash(col("k")), lit(16))).head().getInt(0)
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "payload", "version")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val changes = spark.readStream.schema(schema).parquet(srcDir)
    val q = EventStreams.upsertToParquet(changes, tableDir, Seq("k"), "version")
    try {
      q.processAllAvailable()
      val after1 = EventStreams.readUpsertTable(spark, tableDir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(after1 === Map(1L -> "a", 2L -> "b"))
      // snapshot key 1's live files via the manifest: batch 2 must not
      // rewrite (or even move) them
      assume(bucketOf(1L) !== bucketOf(2L)) // distinct buckets (holds for hash(1),hash(2) mod 16)
      assume(bucketOf(1L) !== bucketOf(3L))
      def listing(bucket: Int): Set[(String, Long)] =
        EventStreams.tableManifest(spark, tableDir).getOrElse(bucket, Nil)
          .map(rel => rel -> new java.io.File(tableDir, rel).lastModified()).toSet
      val key1Before = listing(bucketOf(1L))
      // second change batch: update key 2, insert key 3 with TWO versions
      // in the same batch (the batch itself must compact)
      Seq((2L, "B2", 2L), (3L, "c1", 1L), (3L, "c2", 2L))
        .toDF("k", "payload", "version")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val after2 = EventStreams.readUpsertTable(spark, tableDir)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(after2 === Map(
        1L -> ("a", 1L),   // untouched key survives the merge
        2L -> ("B2", 2L),  // cross-batch update wins
        3L -> ("c2", 2L))) // within-batch compaction keeps the latest
      // scale contract: batch 2 touched only key-2/key-3 buckets — key 1's
      // partition files are byte-identical (same names, same mtimes)
      assert(listing(bucketOf(1L)) === key1Before)
      // exactly-once contract: replaying an already-committed batchId is a
      // no-op even if the replayed frame carries a would-win version
      val replay = Seq((2L, "EVIL", 9L)).toDF("k", "payload", "version")
      EventStreams.mergeBatchIntoTable(replay, tableDir, Seq("k"), "version", 16, 1L)
      val afterReplay = EventStreams.readUpsertTable(spark, tableDir)
        .filter(col("k") === 2L).head()
      assert(afterReplay.getString(1) === "B2" && afterReplay.getLong(2) === 2L)
    } finally q.stop()
  }

  test("upsert sink adopts a WIDENED schema: old rows default new columns (ADVICE r10)") {
    val tableDir = Files.createTempDirectory("graft-widen").toString + "/t"
    // generation 1 of the writer: no `extra` column yet
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L), (4L, "d", 0L))
        .toDF("k", "v", "__v"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 0L)
    // generation 2 widened the schema; its batch touches SOME buckets —
    // the merge must align the on-disk rows instead of failing the
    // union, and untouched buckets' narrow files must still read
    EventStreams.mergeBatchIntoTable(
      Seq((2L, "b2", 1L, 7L)).toDF("k", "v", "__v", "extra"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 1L)
    val rows = EventStreams.readUpsertTable(spark, tableDir)
      .select(col("k"), col("v"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows === Set((1L, "a", None), (2L, "b2", Some(7L)),
      (3L, "c", None), (4L, "d", None)))
    // a widened VERSION column (the cuts-table case): adopted rows get
    // version -1, so they lose ties to any real batch but survive when
    // their key is absent from the new batch
    val cutsDir = Files.createTempDirectory("graft-widen-v").toString + "/cuts"
    EventStreams.mergeBatchIntoTable(
      Seq(("en", 0.1), ("de", 0.2)).toDF("lang", "cut"),
      cutsDir, Seq("lang"), "cut", nBuckets = 1, batchId = 0L)
    EventStreams.mergeBatchIntoTable(
      Seq(("en", 0.3, 5L)).toDF("lang", "cut", "__v"),
      cutsDir, Seq("lang"), "__v", nBuckets = 1, batchId = 1L)
    val cuts = EventStreams.readUpsertTable(spark, cutsDir)
      .select(col("lang"), col("cut")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cuts === Map("en" -> 0.3, "de" -> 0.2))
    // compaction re-homogenizes: every bucket rewrites under the
    // current schema and the sticky mixed flag CLEARS (post-compaction
    // reads return to the single-footer path), rows untouched
    def latestManifestText(dir: String): String = {
      val d = java.nio.file.Paths.get(dir, "_manifests")
      val last = java.nio.file.Files.list(d)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .sorted().reduce((_, b) => b).get()
      new String(java.nio.file.Files.readAllBytes(last), "UTF-8")
    }
    assert(latestManifestText(tableDir).contains("\"mixed\":1"))
    EventStreams.compactUpsertTable(spark, tableDir, Seq("k"), nBuckets = 4,
      batchId = 2L)
    assert(!latestManifestText(tableDir).contains("\"mixed\":1"))
    val rows2 = EventStreams.readUpsertTable(spark, tableDir)
      .select(col("k"), col("v"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows2 === rows)
    // a later widened-again merge re-flips the flag independently
    EventStreams.mergeBatchIntoTable(
      Seq((3L, "c3", 9L, 1L, "x")).toDF("k", "v", "__v", "extra", "extra2"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 3L)
    assert(latestManifestText(tableDir).contains("\"mixed\":1"))
    assert(EventStreams.readUpsertTable(spark, tableDir)
      .filter(col("extra2").isNotNull).count() === 1L)
  }

  test("a compactEvery sink self-heals the mixed-schema flag on its next merge") {
    val tableDir = Files.createTempDirectory("graft-heal").toString + "/t"
    def latestManifestText(): String = {
      val d = java.nio.file.Paths.get(tableDir, "_manifests")
      val last = java.nio.file.Files.list(d)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .sorted().reduce((_, b) => b).get()
      new String(java.nio.file.Files.readAllBytes(last), "UTF-8")
    }
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("k", "v", "__v"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 0L, compactEvery = 10)
    // widening batch flips the flag (it touches SOME buckets; narrow
    // files linger in the others)
    EventStreams.mergeBatchIntoTable(
      Seq((2L, "b2", 1L, 7L)).toDF("k", "v", "__v", "extra"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 1L, compactEvery = 10)
    assert(latestManifestText().contains("\"mixed\":1"))
    // the NEXT merge on a cadence-enabled sink homogenizes in the SAME
    // commit: every live bucket rewrites under the wide schema and the
    // flag drops — no separate compactUpsertTable call needed (the
    // round-11 mixed-flag debt)
    EventStreams.mergeBatchIntoTable(
      Seq((4L, "d", 2L, 8L)).toDF("k", "v", "__v", "extra"),
      tableDir, Seq("k"), "__v", nBuckets = 4, batchId = 2L, compactEvery = 10)
    assert(!latestManifestText().contains("\"mixed\":1"))
    val rows = EventStreams.readUpsertTable(spark, tableDir)
      .select(col("k"), col("v"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows === Set((1L, "a", None), (2L, "b2", Some(7L)),
      (3L, "c", None), (4L, "d", Some(8L))))
    // every data file now carries the wide schema: each bucket's files
    // read standalone (no schema merging) with the `extra` column
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(s => s.isDirectory && (s.getPath.getName.startsWith("gen_") ||
        s.getPath.getName.startsWith(EventStreams.upsertBucketCol + "=")))
      .flatMap(d => listParquetRecursive(fs, d.getPath))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { f =>
      assert(spark.read.parquet(f).columns.contains("extra"),
        s"$f was not rewritten under the current schema")
    }
    // a sink WITHOUT the cadence keeps the sticky flag (the documented
    // conservative default; explicit compactUpsertTable still clears it)
    val sticky = Files.createTempDirectory("graft-sticky").toString + "/t"
    def stickyManifest(): String = {
      val d = java.nio.file.Paths.get(sticky, "_manifests")
      val last = java.nio.file.Files.list(d)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .sorted().reduce((_, b) => b).get()
      new String(java.nio.file.Files.readAllBytes(last), "UTF-8")
    }
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "__v"),
      sticky, Seq("k"), "__v", nBuckets = 4, batchId = 0L)
    EventStreams.mergeBatchIntoTable(
      Seq((2L, "b2", 1L, 7L)).toDF("k", "v", "__v", "extra"),
      sticky, Seq("k"), "__v", nBuckets = 4, batchId = 1L)
    EventStreams.mergeBatchIntoTable(
      Seq((2L, "b3", 2L, 9L)).toDF("k", "v", "__v", "extra"),
      sticky, Seq("k"), "__v", nBuckets = 4, batchId = 2L)
    assert(stickyManifest().contains("\"mixed\":1"))
  }

  private def listParquetRecursive(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) listParquetRecursive(fs, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath.toString)
      else Seq.empty
    }

  test("upsert sink: a read between staging and publish sees the previous snapshot") {
    val tableDir = Files.createTempDirectory("graft-upsert-iso").toString + "/t"
    def state() = EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 16, 0L)
    assert(state() === Map(1L -> "a", 2L -> "b"))
    // simulate a merge for batch 1 that crashed AFTER staging its
    // generation dir but BEFORE publishing the manifest: would-win rows
    // sit as real part files inside the table directory
    Seq((1L, "STAGED", 9L)).toDF("k", "payload", "version")
      .withColumn(EventStreams.upsertBucketCol,
        pmod(hash(col("k")), lit(16)))
      .write.partitionBy(EventStreams.upsertBucketCol)
      .parquet(s"$tableDir/gen_1")
    // the interleaved read resolves through the committed manifest: the
    // staged-but-unpublished generation is invisible — old snapshot,
    // fully consistent, no half-applied batch
    assert(state() === Map(1L -> "a", 2L -> "b"))
    // the replayed merge for batch 1 overwrites the partial generation
    // and publishes; only now does the new state become visible
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "A2", 2L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 16, 1L)
    assert(state() === Map(1L -> "A2", 2L -> "b")) // STAGED never surfaced
  }

  test("upsert sink: crash between publish and GC self-heals on the next merge") {
    val tableDir = Files.createTempDirectory("graft-upsert-heal").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "a", 1L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 8, 0L)
    // plant the debris a crash-between-publish-and-sweep leaves behind:
    // an orphaned generation
    val orphanGen = new java.io.File(tableDir, s"gen_99/${EventStreams.upsertBucketCol}=0")
    assert(orphanGen.mkdirs())
    java.nio.file.Files.writeString(
      orphanGen.toPath.resolve("part-junk.parquet"), "not parquet")
    EventStreams.mergeBatchIntoTable(
      Seq((2L, "b", 1L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 8, 1L)
    assert(!new java.io.File(tableDir, "gen_99").exists(), "orphan generation not swept")
    assert(EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a", 2L -> "b"))
  }

  test("AvailableNow runs drain only the backlog since the last checkpoint (@daily analog)") {
    val dir = streamDir() // 4 events
    val base = Files.createTempDirectory("graft-avnow").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val q1 = EventStreams.runAvailableNow(
      EventStreams.readEventStream(spark, dir).select("event_id", "event_type", "value"),
      out, ckpt)
    q1.awaitTermination() // AvailableNow terminates after the backlog
    assert(spark.read.parquet(out).count() === 4)
    // "next day": one more file lands; a fresh run on the SAME checkpoint
    // must process only it — no reprocessing, no duplicates
    Seq((9L, "2024-01-01 12:00:00", 1L, "a", 10.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val q2 = EventStreams.runAvailableNow(
      EventStreams.readEventStream(spark, dir).select("event_id", "event_type", "value"),
      out, ckpt)
    q2.awaitTermination()
    val back = spark.read.parquet(out)
    assert(back.count() === 5)
    assert(back.filter(col("event_id") === 9L).count() === 1)
  }

  test("stateful aggregation runs on the RocksDB state store provider") {
    val dir = streamDir()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.hourlyByType(EventStreams.readEventStream(spark, dir))
        .writeStream.outputMode("complete").format("memory").queryName("rocks_hourly").start()
      try {
        q.processAllAvailable()
        // results identical to the batch run of the same transform
        val stream = spark.table("rocks_hourly")
          .select("ws", "event_type", "n", "sum_value").collect().toSet
        val batch = EventStreams.hourlyByType(mkEvents())
          .select("ws", "event_type", "n", "sum_value").collect().toSet
        assert(stream === batch)
        // and the state really lives in RocksDB: the progress carries
        // rocksdb-specific state metrics
        val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
        assert(metrics.stream().anyMatch(_.startsWith("rocksdb")),
          s"expected rocksdb state metrics, got $metrics")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stateful running totals accumulate across micro-batches") {
    val dir = streamDir()
    val q = EventStreams.runningUserTotals(spark, EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode("update").format("memory").queryName("running").start()
    try {
      q.processAllAvailable()
      // write a second batch into the same source dir -> new micro-batch
      Seq((9L, "2024-01-01 12:00:00", 1L, "a", 10.0, "{}"))
        .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val last = spark.table("running").filter(col("user_id") === 1L)
        .orderBy(col("n").desc).head()
      assert(last.getAs[Long]("n") === 4L) // 3 first batch + 1 second
      assert(math.abs(last.getAs[Double]("total") - 29.0) < 1e-9)
    } finally q.stop()
  }

  test("transformWithState totals match mapGroupsWithState across micro-batches") {
    val dir = streamDir()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // the v2 state API requires the RocksDB provider
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.runningUserTotalsTws(spark, EventStreams.readEventStream(spark, dir))
        .writeStream.outputMode("update").format("memory").queryName("running_tws").start()
      try {
        q.processAllAvailable()
        Seq((9L, "2024-01-01 12:00:00", 1L, "a", 10.0, "{}"))
          .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
          .withColumn("ts", to_timestamp(col("ts_s")))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
        // latest state per user equals the v1 (mapGroupsWithState) semantics
        val u1 = spark.table("running_tws").filter(col("user_id") === 1L)
          .orderBy(col("n").desc).head()
        assert(u1.getAs[Long]("n") === 4L)
        assert(math.abs(u1.getAs[Double]("total") - 29.0) < 1e-9)
        assert(math.abs(u1.getAs[Double]("max_value") - 10.0) < 1e-9)
        val u2 = spark.table("running_tws").filter(col("user_id") === 2L)
          .orderBy(col("n").desc).head()
        assert(u2.getAs[Long]("n") === 1L)
        assert(math.abs(u2.getAs[Double]("max_value") - 1.0) < 1e-9)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming sketch sink: maintained CMS equals the batch sketch of the full history") {
    import org.apache.spark.sql.types._
    import graft.operators.Sketches
    val srcDir = Files.createTempDirectory("graft-cms-src").toString
    val tableDir = Files.createTempDirectory("graft-cms-tbl").toString + "/t"
    val schema = StructType(Seq(StructField("tok", StringType)))
    val (depth, width) = (4, 32)
    def sketchMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    Seq("a", "a", "b", "c").toDF("tok")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = EventStreams.sketchToParquet(
      spark.readStream.schema(schema).parquet(srcDir), "tok", tableDir, depth, width)
    try {
      q.processAllAvailable()
      Seq("a", "c", "d").toDF("tok")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      // two folded micro-batches == one sketch over everything
      val maintained = sketchMap(EventStreams.readSketchTable(spark, tableDir))
      val full = sketchMap(Sketches.countMinSketch(
        Seq("a", "a", "b", "c", "a", "c", "d").toDF("tok"), "tok", depth, width))
      assert(maintained === full)
      // estimates come straight off the maintained table
      val est = Sketches.cmsEstimate(
          EventStreams.readSketchTable(spark, tableDir),
          Seq("a").toDF("tok"), "tok", depth, width)
        .head().getLong(1)
      assert(est >= 3L) // CMS never underestimates the 3 'a's
      // replaying an applied batchId must not double-count
      EventStreams.mergeSketchBatch(
        Seq("a", "c", "d").toDF("tok"), "tok", tableDir, depth, width, 1L)
      assert(sketchMap(EventStreams.readSketchTable(spark, tableDir)) === full)
    } finally q.stop()
  }

  test("sketch sink: crash before the manifest publish replays cleanly, sweeps debris") {
    import graft.operators.Sketches
    val tableDir = Files.createTempDirectory("graft-cms-crash").toString + "/t"
    val (depth, width) = (4, 32)
    def sketchMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    EventStreams.mergeSketchBatch(
      Seq("a", "a", "b").toDF("tok"), "tok", tableDir, depth, width, 0L)
    val committed = sketchMap(EventStreams.readSketchTable(spark, tableDir))
    // simulate batch 1 dying after writing its generation but before
    // publishing its manifest
    val partialGen = new java.io.File(tableDir, "gen_1/sketch")
    assert(partialGen.mkdirs())
    java.nio.file.Files.writeString(partialGen.toPath.resolve("junk.parquet"), "junk")
    // the unpublished generation is INVISIBLE: readers resolve manifests
    assert(sketchMap(EventStreams.readSketchTable(spark, tableDir)) === committed)
    // the replayed batch overwrites the partial generation, publishes,
    // and sweeps the debris — applied exactly once
    EventStreams.mergeSketchBatch(
      Seq("c").toDF("tok"), "tok", tableDir, depth, width, 1L)
    val full = sketchMap(Sketches.countMinSketch(
      Seq("a", "a", "b", "c").toDF("tok"), "tok", depth, width))
    assert(sketchMap(EventStreams.readSketchTable(spark, tableDir)) === full)
    assert(!new java.io.File(tableDir, "gen_1/sketch/junk.parquet").exists())
    // a second replay of the committed batchId is a no-op
    EventStreams.mergeSketchBatch(
      Seq("zzz").toDF("tok"), "tok", tableDir, depth, width, 1L)
    assert(sketchMap(EventStreams.readSketchTable(spark, tableDir)) === full)
  }

  test("upsert sink time travel: retained snapshots read as-of a batchId") {
    val tableDir = Files.createTempDirectory("graft-upsert-tt").toString + "/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 8, id, retain = 3)
    merge(Seq((1L, "a1", 1L)), 0L)
    merge(Seq((1L, "a2", 2L), (2L, "b1", 2L)), 1L)
    merge(Seq((2L, "b2", 3L)), 2L)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(asMap(EventStreams.readUpsertTable(spark, tableDir)) ===
      Map(1L -> "a2", 2L -> "b2"))
    assert(asMap(EventStreams.readUpsertTableAt(spark, tableDir, 1L)) ===
      Map(1L -> "a2", 2L -> "b1"))
    assert(asMap(EventStreams.readUpsertTableAt(spark, tableDir, 0L)) ===
      Map(1L -> "a1"))
    // asking for a snapshot older than the first commit fails loudly
    intercept[IllegalArgumentException] {
      EventStreams.readUpsertTableAt(spark, tableDir, -1L)
    }
    ()
  }

  test("deleteFromTable: committed takedown, untouched buckets byte-identical, replay no-ops") {
    val tableDir = Files.createTempDirectory("graft-upsert-del").toString + "/t"
    val rows = (0L until 40L).map(k => (k, s"p$k", 1L))
    EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 8, 0L, retain = 2)
    val before = EventStreams.tableManifest(spark, tableDir)
    val delKeys = Seq(3L, 17L, 999L) // 999 absent: must be a silent no-op
    EventStreams.deleteFromTable(spark, tableDir,
      delKeys.toDF("k"), Seq("k"), 8, batchId = 1L, retain = 2)
    val after = EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(_.getLong(0)).toSet
    assert(after === (0L until 40L).toSet -- Set(3L, 17L))
    // buckets not containing a deleted key keep their EXACT files (the
    // touched-buckets-only contract)
    val manifestAfter = EventStreams.tableManifest(spark, tableDir)
    val touched = delKeys.map(k =>
      math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashLong(k, 42), 8))
    before.keys.filterNot(touched.contains).foreach { b =>
      assert(manifestAfter(b) === before(b), s"bucket $b should be untouched")
    }
    // replay no-ops; time travel still reads the pre-delete snapshot
    EventStreams.deleteFromTable(spark, tableDir,
      delKeys.toDF("k"), Seq("k"), 8, batchId = 1L, retain = 2)
    assert(EventStreams.readUpsertTable(spark, tableDir).count() === 38)
    assert(EventStreams.readUpsertTableAt(spark, tableDir, 0L).count() === 40)
    // an empty key set still advances the applied-batch watermark
    EventStreams.deleteFromTable(spark, tableDir,
      Seq.empty[Long].toDF("k"), Seq("k"), 8, batchId = 2L)
    assert(EventStreams.latestCommittedBatchId(spark, tableDir) === Some(2L))
    // deleting EVERY remaining key leaves a readable zero-row table
    // (one schema-carrying empty file — not a fileless manifest that
    // strands schema inference), and later merges land normally
    EventStreams.deleteFromTable(spark, tableDir,
      (0L until 40L).toDF("k"), Seq("k"), 8, batchId = 3L)
    val emptied = EventStreams.readUpsertTable(spark, tableDir)
    assert(emptied.count() === 0)
    assert(emptied.columns.toSet === Set("k", "payload", "version"))
    EventStreams.mergeBatchIntoTable(
      Seq((7L, "back", 9L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 8, 4L)
    assert(EventStreams.readUpsertTable(spark, tableDir).count() === 1)
  }

  test("RAG index takedown: tombstoned chunks equal a from-scratch index over the retained corpus") {
    val base = Files.createTempDirectory("graft-rag-del").toString
    val idxDir = s"$base/chunks"
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    graft.operators.Rag.indexShard(docs, idxDir,
      window = 32, stride = 24, dim = 16, nPlanes = 4, batchId = 0L)
    val deleted = Seq(3L, 11L)
    graft.operators.Rag.deleteDocs(spark, idxDir, deleted, batchId = 1L)
    val scratchDir = s"$base/scratch"
    graft.operators.Rag.indexShard(docs.filter(!col("doc_id").isin(deleted: _*)),
      scratchDir, window = 32, stride = 24, dim = 16, nPlanes = 4, batchId = 0L)
    def canon(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(canon(idxDir) === canon(scratchDir))
    assert(canon(idxDir).nonEmpty)
    assert(!canon(idxDir).exists(c => deleted.contains(c._1 / 100000L)))
  }

  test("streaming ANN ingest (two AvailableNow passes) equals direct appends") {
    import graft.streaming.IndexStream
    import graft.operators.Similarity
    val base = Files.createTempDirectory("graft-annstream").toString
    val corpusDir = s"$base/arrivals"
    val idx = s"$base/idx"
    val ckpt = s"$base/ckpt"
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 250), idx)
    val s1 = e.filter(col("vec_id") >= 250 && col("vec_id") < 400)
    val s2 = e.filter(col("vec_id") >= 400)
    s1.coalesce(1).write.mode("append").parquet(corpusDir)
    IndexStream.startIngest(spark, corpusDir, e.schema, idx, ckpt)
      .awaitTermination()
    s2.coalesce(1).write.mode("append").parquet(corpusDir)
    IndexStream.startIngest(spark, corpusDir, e.schema, idx, ckpt)
      .awaitTermination()
    def codesOf(dir: String) = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    // the direct twin: same fixed-seed build over the same slice yields
    // the same frozen artifacts, so codes must be SET-identical
    val idx2 = s"$base/idx2"
    Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 250), idx2)
    Similarity.appendToIvfPqIndex(s1, idx2, batchId = 1L)
    Similarity.appendToIvfPqIndex(s2, idx2, batchId = 2L)
    assert(codesOf(idx) === codesOf(idx2))
    assert(codesOf(idx).nonEmpty)
    // a re-run with no new arrivals drains nothing and changes nothing
    IndexStream.startIngest(spark, corpusDir, e.schema, idx, ckpt)
      .awaitTermination()
    assert(codesOf(idx) === codesOf(idx2))
    // ADVICE r10: a FRESH checkpoint with a stale base must fail even
    // while batch=<base> is still a live dir (that dir belongs to an
    // EARLIER append, not to this stream) — previously this silently
    // no-opped every drained shard as a "replay"
    val arrivalsLive = s"$base/arrivals-live"
    e.filter(col("vec_id") === 1).withColumn("vec_id", lit(9100L))
      .coalesce(1).write.mode("append").parquet(arrivalsLive)
    val exLive = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IndexStream.startIngest(spark, arrivalsLive, e.schema, idx,
        s"$base/ckpt-stale-live", batchIdBase = 1L).awaitTermination()
    }
    assert(exLive.getMessage.contains("high-water") ||
      Option(exLive.getCause).exists(_.getMessage.contains("high-water")))
    assert(!codesOf(idx).exists(_._1 == 9100L))
    // ENFORCED base contract: compaction raises the high-water mark to
    // 4; a fresh checkpoint with the stale default base must FAIL FAST
    // (fresh shards would otherwise silently no-op as replays)
    Similarity.compactIvfPqIndex(spark, idx, batchId = 4L)
    val arrivals2 = s"$base/arrivals2"
    val extra = e.filter(col("vec_id") === 0).withColumn("vec_id", lit(9000L))
    extra.coalesce(1).write.mode("append").parquet(arrivals2)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IndexStream.startIngest(spark, arrivals2, e.schema, idx,
        s"$base/ckpt-stale", batchIdBase = 1L).awaitTermination()
    }
    assert(ex.getMessage.contains("high-water") ||
      Option(ex.getCause).exists(_.getMessage.contains("high-water")))
    // with a base above the maintenance ids the shard lands normally
    IndexStream.startIngest(spark, arrivals2, e.schema, idx,
      s"$base/ckpt-fresh", batchIdBase = 5L).awaitTermination()
    assert(codesOf(idx).exists(_._1 == 9000L))
    // a same-checkpoint RESTART must keep its recorded base (checked on
    // every batch, not just the first — this restart is at stream id 1)
    e.filter(col("vec_id") === 2).withColumn("vec_id", lit(9200L))
      .coalesce(1).write.mode("append").parquet(arrivals2)
    val exBase = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IndexStream.startIngest(spark, arrivals2, e.schema, idx,
        s"$base/ckpt-fresh", batchIdBase = 7L).awaitTermination()
    }
    assert(exBase.getMessage.contains("restarted with") ||
      Option(exBase.getCause).exists(_.getMessage.contains("restarted with")))
    IndexStream.startIngest(spark, arrivals2, e.schema, idx,
      s"$base/ckpt-fresh", batchIdBase = 5L).awaitTermination()
    assert(codesOf(idx).exists(_._1 == 9200L))
    // a corrupted base token (externally damaged — the commit itself is
    // tmp+rename) must fail with the NAMED recovery, not a bare
    // NumberFormatException whose "obvious" fix (deleting the token)
    // bricks the checkpoint on the fresh-base require
    val tokenPath = java.nio.file.Paths.get(s"$base/ckpt-fresh/_graft_base")
    val good = java.nio.file.Files.readAllBytes(tokenPath)
    java.nio.file.Files.write(tokenPath, "".getBytes("UTF-8"))
    e.filter(col("vec_id") === 3).withColumn("vec_id", lit(9300L))
      .coalesce(1).write.mode("append").parquet(arrivals2)
    val exTok = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IndexStream.startIngest(spark, arrivals2, e.schema, idx,
        s"$base/ckpt-fresh", batchIdBase = 5L).awaitTermination()
    }
    assert(exTok.getMessage.contains("corrupt") ||
      Option(exTok.getCause).exists(_.getMessage.contains("corrupt")))
    // restoring the original token recovers the checkpoint
    java.nio.file.Files.write(tokenPath, good)
    IndexStream.startIngest(spark, arrivals2, e.schema, idx,
      s"$base/ckpt-fresh", batchIdBase = 5L).awaitTermination()
    assert(codesOf(idx).exists(_._1 == 9300L))
  }

  test("incremental curation (two AvailableNow passes) equals one batch curation") {
    import graft.streaming.CurationStream
    val base = Files.createTempDirectory("graft-curation").toString
    val corpusDir = s"$base/corpus"
    val stateDir = s"$base/state"
    val sinkDir = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val evalSlice = docs.filter(col("doc_id") < 250)
    val corpus = docs.filter(col("doc_id") >= 250)
    // shards arrive in ascending doc_id order (the stream's contract);
    // shard 2 plants cross-shard dups: an exact copy and a one-token
    // near copy of shard-1 docs — catchable ONLY via the state table
    val exactClone = corpus.filter(col("doc_id") === 300)
      .select(lit(9000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val shard1 = corpus.filter(col("doc_id") < 400)
    val shard2 = corpus.filter(col("doc_id") >= 400).unionByName(exactClone)
    shard1.coalesce(1).write.mode("append").parquet(corpusDir)
    CurationStream.start(spark, corpusDir, corpus.schema, evalSlice,
      stateDir, sinkDir, ckpt).awaitTermination()
    shard2.coalesce(1).write.mode("append").parquet(corpusDir)
    CurationStream.start(spark, corpusDir, corpus.schema, evalSlice,
      stateDir, sinkDir, ckpt).awaitTermination()
    val inc = EventStreams.readUpsertTable(spark, sinkDir)
      .select("doc_id", "lang", "n_tokens", "split")
      .collect().map(_.toString).toSet
    val batch = graft.operators.Curation.curate(
        corpus.unionByName(exactClone), evalSlice)
      .select("doc_id", "lang", "n_tokens", "split")
      .collect().map(_.toString).toSet
    assert(inc === batch)
    assert(inc.nonEmpty)
    // cross-shard EXACT dedup exercised: the planted shard-2 copy of a
    // shard-1 doc is caught via the state table's sha column
    assert(!inc.exists(_.startsWith("[9000,")))
    // cross-shard NEAR-dup dedup exercised: the corpus's natural dup
    // clusters span the shard boundary (docs 401/403/406 verify at
    // jaccard >= 0.9 against anchor 251, which lives in shard 1 — a
    // decision only reachable through the state table's signatures)
    Seq(401L, 403L, 406L).foreach(id =>
      assert(!inc.exists(_.startsWith(s"[$id,")), s"doc $id should be deduped"))
    // and shard-2 survivors do exist (the state isn't over-dropping)
    assert(inc.exists(_.startsWith("[4")))
  }

  test("curate keepBest keeps the longest near-dup member instead of the anchor") {
    import spark.implicits._
    // docs 10/11 share the exact token SET (identical minhash signatures
    // -> guaranteed same LSH buckets, jaccard 1.0), but 11 repeats three
    // words so it is LONGER (33 vs 30 tokens); doc 12 is unrelated
    val words = (1 to 30).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words ++ Seq("w1", "w2", "w3")).mkString(" ")
    val c = (100 to 114).map(i => s"z$i").mkString(" ")
    val corpus = Seq((10L, a, "en"), (11L, b, "en"), (12L, c, "en"))
      .toDF("doc_id", "text", "lang")
    val evalSlice = Seq((0L, "nothing shared here at all")).toDF("doc_id", "text")
    def survivors(keepBest: Boolean) =
      graft.operators.Curation.curate(corpus, evalSlice, keepBest = keepBest)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // min-id policy keeps the anchor 10; keep-best keeps the longer 11
    assert(survivors(keepBest = false) === Set(10L, 12L))
    assert(survivors(keepBest = true) === Set(11L, 12L))
  }

  test("reselectCanonicals promotes a later longer copy the min-id stream dropped") {
    import graft.streaming.CurationStream
    import spark.implicits._
    val base = Files.createTempDirectory("graft-reselect").toString
    val stateDir = s"$base/state"
    val sinkDir = s"$base/sink"
    val decDir = s"$base/decisions"
    // docs 10/13 share the exact token SET (same signatures, jaccard 1)
    // but 13 is LONGER; 12 is unrelated. Ascending arrival puts the
    // SHORT copy first, so the stream's min-id policy keeps 10.
    val words = (1 to 30).map(i => s"w$i")
    val shard1 = Seq(
      (10L, words.mkString(" "), "en"),
      (12L, (100 to 114).map(i => s"z$i").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val shard2 = Seq(
      (13L, (words ++ Seq("w1", "w2", "w3")).mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val evalSlice = Seq((0L, "nothing shared here at all")).toDF("doc_id", "text")
    CurationStream.curateShard(shard1, evalSlice, stateDir, sinkDir, batchId = 0L)
    CurationStream.curateShard(shard2, evalSlice, stateDir, sinkDir, batchId = 1L)
    val survivors = EventStreams.readUpsertTable(spark, sinkDir)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(10L, 12L)) // append-only stream kept the anchor
    // the periodic batch re-selection runs text-free over the state and
    // PROMOTES the longer dropped member
    CurationStream.reselectCanonicals(spark, stateDir, decDir, batchId = 0L)
    def decisions() = EventStreams.readUpsertTable(spark, decDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    val d = decisions()
    assert(d(10L) === ((13L, false)))
    assert(d(13L) === ((13L, true)))
    assert(d(12L) === ((12L, true))) // singleton self-canonical
    // replay no-ops
    CurationStream.reselectCanonicals(spark, stateDir, decDir, batchId = 0L)
    assert(decisions() === d)
  }

  test("takedown of a canonical composes with keep-best re-selection in both orders") {
    import graft.streaming.CurationStream
    import graft.operators.Takedown
    import spark.implicits._
    // docs 10/13/14 share one token SET (one dup cluster); 13 is the
    // longest (the keep-best canonical), 14 middle, 10 shortest but
    // first-arrived; 12 is unrelated. The request deletes 13 — the
    // cluster's CANONICAL — so re-selection must promote the best
    // SURVIVOR (14), and no export surface may reference 13 after.
    val words = (1 to 30).map(i => s"w$i")
    val shard1 = Seq(
      (10L, words.mkString(" "), "en"),
      (12L, (100 to 114).map(i => s"z$i").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val shard2 = Seq(
      (13L, (words ++ Seq("w1", "w2", "w3")).mkString(" "), "en"),
      (14L, (words ++ Seq("w1", "w2")).mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val evalSlice = Seq((0L, "nothing shared here at all")).toDF("doc_id", "text")
    def build(tag: String): (String, String, String, String) = {
      val base = Files.createTempDirectory(s"graft-tdres-$tag").toString
      val (state, sink, dec) = (s"$base/state", s"$base/sink", s"$base/decisions")
      CurationStream.curateShard(shard1, evalSlice, state, sink, batchId = 0L)
      CurationStream.curateShard(shard2, evalSlice, state, sink, batchId = 1L)
      (base, state, sink, dec)
    }
    def decisions(dec: String) = EventStreams.readUpsertTable(spark, dec)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // ---- order A: takedown, then re-selection -----------------------
    val (baseA, stateA, sinkA, decA) = build("a")
    Takedown.deleteDocs(spark, Seq(13L), batchId = 10L,
      ledgerDir = s"$baseA/ledger",
      keyedTables = Seq((stateA, "doc_id", 8), (sinkA, "doc_id", 8)))
    CurationStream.reselectCanonicals(spark, stateA, decA, batchId = 11L)
    val dA = decisions(decA)
    assert(dA === Map(10L -> ((14L, false)), 14L -> ((14L, true)),
      12L -> ((12L, true))))
    // ---- order B: re-selection, then takedown, then re-selection ----
    // (after the delete the committed decisions still NAME 13 as a
    // canonical — exactly why the decisions table rides in the request
    // as a keyed artifact and the audit gates the export)
    val (baseB, stateB, sinkB, decB) = build("b")
    CurationStream.reselectCanonicals(spark, stateB, decB, batchId = 2L)
    assert(decisions(decB)(10L) === ((13L, false))) // pre-delete keep-best
    Takedown.deleteDocs(spark, Seq(13L), batchId = 10L,
      ledgerDir = s"$baseB/ledger",
      keyedTables = Seq((stateB, "doc_id", 8), (sinkB, "doc_id", 8),
        (decB, "doc_id", 8)))
    // 13's own rows are gone everywhere, but surviving members' rows
    // still point at it — the audit catches the dangling canonical
    val dangling = EventStreams.readUpsertTable(spark, decB)
      .filter(col("canonical_id") === 13L).count()
    assert(dangling === 2L)
    CurationStream.reselectCanonicals(spark, stateB, decB, batchId = 11L)
    // ---- both orders converge, and nothing references the deleted doc
    assert(decisions(decB) === dA)
    for (tbl <- Seq(stateA, sinkA, stateB, sinkB))
      assert(Takedown.auditDocs(spark, Seq(13L),
        keyedTables = Seq((tbl, "doc_id"))).head().getLong(1) === 0L)
    assert(EventStreams.readUpsertTable(spark, decB)
      .filter(col("canonical_id") === 13L).count() === 0L)
    assert(EventStreams.readUpsertTable(spark, decA)
      .filter(col("canonical_id") === 13L).count() === 0L)
  }

  test("curateShard crash-replay between the state and sink commits loses nothing") {
    import graft.streaming.CurationStream
    val base = Files.createTempDirectory("graft-curation-replay").toString
    val stateDir = s"$base/state"
    val sinkDir = s"$base/sink"
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val evalSlice = docs.filter(col("doc_id") < 250)
    val corpus = docs.filter(col("doc_id") >= 250)
    val shard1 = corpus.filter(col("doc_id") < 400)
    val shard2 = corpus.filter(col("doc_id") >= 400)
    CurationStream.curateShard(shard1, evalSlice, stateDir, sinkDir, batchId = 0L)
    // simulate the crash window: batch 1's first attempt commits the
    // STATE table, but dies before the sink commit (modeled by sending
    // its sink write to a throwaway dir) — state is at batch 1, the
    // real sink still at batch 0
    CurationStream.curateShard(shard2, evalSlice, stateDir, s"$base/lost", batchId = 1L)
    // foreachBatch replays batch 1: the state merge must no-op on its
    // committed batchId, and the shard must be re-curated against the
    // PRE-batch state snapshot — a latest-snapshot read would anti-join
    // the shard against its OWN committed shas, publish an EMPTY sink
    // batch, and permanently lose shard 2's survivors
    CurationStream.curateShard(shard2, evalSlice, stateDir, sinkDir, batchId = 1L)
    val inc = EventStreams.readUpsertTable(spark, sinkDir)
      .select("doc_id", "lang", "n_tokens", "split")
      .collect().map(_.toString).toSet
    val batch = graft.operators.Curation.curate(corpus, evalSlice)
      .select("doc_id", "lang", "n_tokens", "split")
      .collect().map(_.toString).toSet
    assert(inc === batch)
    assert(inc.exists(_.startsWith("[4")),
      "shard-2 survivors must reach the sink on replay")
  }

  test("incremental curation composes with incremental packing: the full final mile, shard by shard") {
    // the incremental twin of the q153 export flagship: each shard is
    // CURATED against the persisted state (curateShard), its TRAIN
    // survivors PACKED incrementally (packShardIncremental) — and the
    // resulting committed sequence table must equal packing the batch
    // pipeline's train survivors in one pass. History text is read by
    // neither stage.
    import graft.streaming.CurationStream
    val base = Files.createTempDirectory("graft-e2e-inc").toString
    val stateDir = s"$base/state"
    val sinkDir = s"$base/sink"
    val packDir = s"$base/seqs"
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val evalSlice = docs.filter(col("doc_id") < 250)
    val corpus = docs.filter(col("doc_id") >= 250)
    val shards = Seq(
      corpus.filter(col("doc_id") < 400), corpus.filter(col("doc_id") >= 400))
    var prevIds = Set.empty[Long]
    shards.zipWithIndex.foreach { case (shard, i) =>
      val id = i.toLong
      CurationStream.curateShard(shard, evalSlice, stateDir, sinkDir, batchId = id)
      // this shard's TRAIN survivors = the sink delta of batch id (the
      // id sets are shard-sized; text re-attaches from the shard — the
      // packer tokenizes)
      val nowIds = EventStreams.readUpsertTable(spark, sinkDir)
        .filter(col("split") === "train")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val newIds = (nowIds -- prevIds).toSeq
      prevIds = nowIds
      operators.Packing.packShardIncremental(
        shard.filter(col("doc_id").isin(newIds: _*)).select("doc_id", "text"),
        packDir, seqLen = 128, batchId = id)
    }
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("seq_id", "n_docs", "doc_tokens", "n_split_docs")
      .orderBy("seq_id").collect().map(_.toSeq).toSeq
    val inc = canon(EventStreams.readUpsertTable(spark, packDir))
    val batchSurvivors = graft.operators.Curation.curate(corpus, evalSlice)
      .filter(col("split") === "train").select("doc_id", "text")
    val batch = canon(operators.Packing.packSequences(batchSurvivors, seqLen = 128))
    assert(inc === batch)
    assert(inc.nonEmpty)
  }

  test("out-of-order shard arrival fails fast on the watermark; replay is not misflagged") {
    // batch-equivalence holds only under ascending doc_id arrival
    // (min-id anchors); a BACKFILL shard below the watermark must be
    // rejected loudly, not silently curated with divergent decisions
    import graft.streaming.CurationStream
    val base = Files.createTempDirectory("graft-curation-ooo").toString
    val stateDir = s"$base/state"
    val sinkDir = s"$base/sink"
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val evalSlice = docs.filter(col("doc_id") < 250)
    val corpus = docs.filter(col("doc_id") >= 250)
    val shard1 = corpus.filter(col("doc_id") >= 400)          // high ids first
    val backfill = corpus.filter(col("doc_id") < 400)         // then low ids
    CurationStream.curateShard(shard1, evalSlice, stateDir, sinkDir, batchId = 0L)
    val ex = intercept[IllegalStateException] {
      CurationStream.curateShard(backfill, evalSlice, stateDir, sinkDir, batchId = 1L)
    }
    assert(ex.getMessage.contains("out-of-order shard arrival"))
    // the rejected shard must not have leaked into the sink
    val sink = EventStreams.readUpsertTable(spark, sinkDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sink.forall(_ >= 400L))
    // crash-REPLAY of an already-watermarked batch is NOT an
    // out-of-order arrival: the watermark read is as-of the previous
    // batch, so re-running batchId 0 with the same shard succeeds
    CurationStream.curateShard(shard1, evalSlice, stateDir, sinkDir, batchId = 0L)
    // and a genuinely-ascending next shard still passes
    CurationStream.curateShard(
      corpus.filter(col("doc_id") === 399L).select(
        lit(9500L).as("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")),
      evalSlice, stateDir, sinkDir, batchId = 1L)
  }

  test("manifest compaction bounds the chain; reads and in-retention time travel survive") {
    val tableDir = Files.createTempDirectory("graft-upsert-compact").toString + "/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 8, id, retain = 3, compactEvery = 4)
    (0L until 10L).foreach(i => merge(Seq((i % 3, s"p$i", i)), i))
    // listing cost bounded: at most compactEvery manifests remain
    val manifests = new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(manifests.length <= 4, s"manifest chain not bounded: ${manifests.length}")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // reads resolve to the latest snapshot after compaction
    val cur = asMap(EventStreams.readUpsertTable(spark, tableDir))
    assert(cur === Map(0L -> "p9", 1L -> "p7", 2L -> "p8"))
    // time travel within the retained window still works
    assert(asMap(EventStreams.readUpsertTableAt(spark, tableDir, 8L)) ===
      Map(0L -> "p6", 1L -> "p7", 2L -> "p8"))
    // beyond the pruned horizon fails loudly, not silently-wrong
    intercept[IllegalArgumentException] {
      EventStreams.readUpsertTableAt(spark, tableDir, 0L)
    }
    // the replay watermark survives compaction: an old batchId is a no-op
    merge(Seq((0L, "SHOULD_NOT_APPLY", 99L)), 5L)
    assert(asMap(EventStreams.readUpsertTable(spark, tableDir)) === cur)
  }

  test("batch pins: a pinned snapshot survives retain=1 sweeps; unpin + vacuum reclaims") {
    val tableDir = Files.createTempDirectory("graft-upsert-pin").toString + "/t"
    // every batch updates the SAME key, so each retain=1 commit would
    // sweep the previous generation's file — the hardest case for a pin
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 1)
    merge(0L, 0L)
    merge(1L, 1L)
    // pin the batch-1 snapshot; the resolved manifest id comes back
    assert(EventStreams.pinBatch(spark, tableDir, "audit", 1L) === 1L)
    assert(EventStreams.listPins(spark, tableDir) === Map("audit" -> 1L))
    // two more retain=1 commits on the same bucket — without the pin,
    // batch 1's data file is swept (the sibling proves it below)
    EventStreams.deleteFromTable(spark, tableDir, Seq(999L).toDF("k"),
      Seq("k"), 4, batchId = 2L, retain = 1)
    merge(3L, 3L)
    def payloadAt(dir: String, b: Long) =
      EventStreams.readUpsertTableAt(spark, dir, b).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(payloadAt(tableDir, 1L) === Map(1L -> "p1"), "pinned snapshot must stay readable")
    assert(payloadAt(tableDir, Long.MaxValue) === Map(1L -> "p3"))
    // sibling with the identical lineage but NO pin: the batch-1
    // snapshot's file is swept (manifest remains; its data is gone) —
    // the pin above is causal, not incidental
    val sibling = Files.createTempDirectory("graft-upsert-nopin").toString + "/t"
    def mergeS(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        sibling, Seq("k"), "version", 4, id, retain = 1)
    mergeS(0L, 0L); mergeS(1L, 1L)
    EventStreams.deleteFromTable(spark, sibling, Seq(999L).toDF("k"),
      Seq("k"), 4, batchId = 2L, retain = 1)
    mergeS(3L, 3L)
    intercept[Exception] { payloadAt(sibling, 1L) }
    // release + explicit vacuum: the held file is reclaimed, the
    // latest snapshot is untouched, time travel to the pin is gone
    assert(EventStreams.unpinBatch(spark, tableDir, "audit"))
    assert(EventStreams.listPins(spark, tableDir) === Map.empty)
    val reclaimed = EventStreams.vacuumUpsertTable(spark, tableDir, retain = 1)
    assert(reclaimed > 0, "vacuum after unpin must reclaim the held files")
    intercept[Exception] { payloadAt(tableDir, 1L) }
    assert(payloadAt(tableDir, Long.MaxValue) === Map(1L -> "p3"))
    // vacuum is idempotent and a second run reclaims nothing
    assert(EventStreams.vacuumUpsertTable(spark, tableDir, retain = 1) === 0)
  }

  test("batch pins: manifest compaction never prunes a pin's resolving manifest") {
    val tableDir = Files.createTempDirectory("graft-upsert-pinc").toString + "/t"
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 8)
    (0L until 6L).foreach(i => merge(i, i))
    EventStreams.pinBatch(spark, tableDir, "hold", 2L)
    // keepLast=1 would prune manifests 0..4; the pin keeps manifest 2
    val pruned = EventStreams.compactManifests(spark, tableDir, keepLast = 1)
    assert(pruned === 4, s"expected 4 pruned (0,1,3,4), got $pruned")
    val names = new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getName).sorted
    assert(names.map(_.takeWhile(_ != '.').toLong).toSeq === Seq(2L, 5L))
    // time travel to the pin still resolves through the kept manifest
    assert(EventStreams.readUpsertTableAt(spark, tableDir, 2L).collect()
      .map(_.getString(1)).toSeq === Seq("p2"))
    // released: the next compaction prunes it
    EventStreams.unpinBatch(spark, tableDir, "hold")
    assert(EventStreams.compactManifests(spark, tableDir, keepLast = 1) === 1)
  }

  test("batch pins: validation and corruption fail fast") {
    val tableDir = Files.createTempDirectory("graft-upsert-pinv").toString + "/t"
    EventStreams.mergeBatchIntoTable(Seq((1L, "p", 1L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 4, 5L)
    // labels are filenames: portable charset only
    intercept[IllegalArgumentException] {
      EventStreams.pinBatch(spark, tableDir, "bad:label", 5L)
    }
    // nothing committed at or below the requested batch
    intercept[IllegalArgumentException] {
      EventStreams.pinBatch(spark, tableDir, "early", 4L)
    }
    EventStreams.pinBatch(spark, tableDir, "a", 5L)
    // same label + same batch replays as a no-op; a different batch is
    // a silent hold-move and fails loudly
    EventStreams.pinBatch(spark, tableDir, "a", 5L)
    EventStreams.mergeBatchIntoTable(Seq((1L, "q", 2L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 4, 6L)
    intercept[IllegalStateException] {
      EventStreams.pinBatch(spark, tableDir, "a", 6L)
    }
    // a torn/corrupted token (impossible via the tmp+rename writer)
    // makes sweeps REFUSE rather than sweep a held snapshot
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tableDir/_pins/torn.pin"), "garbage")
    intercept[IllegalStateException] {
      EventStreams.vacuumUpsertTable(spark, tableDir, retain = 1)
    }
    // unpinning an absent label reports false and changes nothing
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tableDir/_pins/torn.pin"))
    assert(!EventStreams.unpinBatch(spark, tableDir, "absent"))
  }

  test("batch pins: pinning a snapshot a sweep already reclaimed fails with the token removed") {
    val tableDir = Files.createTempDirectory("graft-upsert-pinr").toString + "/t"
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 1)
    merge(0L, 0L)
    merge(1L, 1L) // retain=1: batch 0's data file is already swept
    // the manifest still exists, so resolution succeeds — but the
    // post-publish re-check (the pin-vs-sweep race guard) sees the
    // reclaimed file, removes the token, and fails with remediation
    val err = intercept[IllegalStateException] {
      EventStreams.pinBatch(spark, tableDir, "late", 0L)
    }
    assert(err.getMessage.contains("raced a concurrent retention sweep"))
    assert(EventStreams.listPins(spark, tableDir) === Map.empty)
    // a boundary the retain window still covers pins fine
    assert(EventStreams.pinBatch(spark, tableDir, "live", 1L) === 1L)
  }

  test("backup + restore: snapshots round-trip; restore heals fsck damage as a NEW commit") {
    val base = Files.createTempDirectory("graft-bak").toString
    val tableDir = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 2)
    merge((0L until 12L).map(k => (k, s"p$k", 0L)), 0L)
    merge((0L until 6L).map(k => (k, s"q$k", 1L)), 1L)
    def rows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = rows(tableDir)
    // the backup commits its manifest LAST and reads as a table itself
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak") === 1L)
    assert(rows(s"$base/bak") === expected)
    // out-of-band damage: a live file vanishes; fsck sees it
    val victim = EventStreams.tableManifest(spark, tableDir).values.flatten.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tableDir/$victim"))
    def fsck(dir: String) = EventStreams.fsckUpsertTable(spark, dir)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!fsck(tableDir)("live_files_exist"))
    // RESTORE heals as a new commit: rows back, fsck green, history
    // preserved (watermark advanced, prior manifests still listed)
    EventStreams.restoreUpsertTable(spark, s"$base/bak", tableDir, batchId = 5L)
    assert(rows(tableDir) === expected)
    assert(fsck(tableDir).values.forall(identity))
    assert(EventStreams.latestCommittedBatchId(spark, tableDir) === Some(5L))
    def manifestCount = new java.io.File(s"$tableDir/_manifests")
      .listFiles().count(_.getName.endsWith(".json"))
    assert(manifestCount === 3)
    // replays no-op
    EventStreams.restoreUpsertTable(spark, s"$base/bak", tableDir, batchId = 5L)
    assert(manifestCount === 3)
    // DR clone: restore into an empty dir
    EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/clone",
      batchId = 10L)
    assert(rows(s"$base/clone") === expected)
    // running the watermark backwards is refused
    intercept[IllegalArgumentException] {
      EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/clone2",
        batchId = 0L)
    }
    // a torn backup (data landed, manifest never committed) is refused
    val torn = s"$base/torn"
    new java.io.File(torn).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$torn/orphan.parquet"), "junk")
    intercept[IllegalArgumentException] {
      EventStreams.restoreUpsertTable(spark, torn, s"$base/clone3", 1L)
    }
  }

  test("batch pins: an expired pin stops holding and its token is collected") {
    val tableDir = Files.createTempDirectory("graft-upsert-ttl").toString + "/t"
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 2)
    merge(0L, 0L)
    merge(1L, 1L)
    // a hold whose deadline already passed: the leak guard — readers
    // ignore it immediately and the next pin-set read collects it
    EventStreams.pinBatch(spark, tableDir, "leak", 0L, expiresAtMillis = 1L)
    assert(EventStreams.listPins(spark, tableDir) === Map.empty)
    assert(!new java.io.File(s"$tableDir/_pins/leak.pin").exists())
    assert(EventStreams.vacuumUpsertTable(spark, tableDir, retain = 1) > 0)
    intercept[Exception] {
      EventStreams.readUpsertTableAt(spark, tableDir, 0L).count()
    }
    // the default (no deadline) holds like before
    EventStreams.pinBatch(spark, tableDir, "held", 1L)
    assert(EventStreams.listPins(spark, tableDir) === Map("held" -> 1L))
  }

  test("fsckUpsertTable: healthy table all-ok; planted damage is reported, never thrown") {
    val tableDir = Files.createTempDirectory("graft-fsck").toString + "/t"
    def merge(v: Long, id: Long) =
      EventStreams.mergeBatchIntoTable(Seq((1L, s"p$v", v)).toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 2)
    merge(0L, 0L)
    EventStreams.pinBatch(spark, tableDir, "hold", 0L)
    merge(1L, 1L)
    def fsck() = EventStreams.fsckUpsertTable(spark, tableDir)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val healthy = fsck()
    assert(healthy.values.forall(_._1), s"healthy table must pass: $healthy")
    assert(healthy("manifests_parseable") === ((true, 2L)))
    assert(healthy("pins_resolvable") === ((true, 1L)))
    // out-of-band damage #1: a file the LATEST manifest names vanishes
    // (but not one the pin's manifest needs — gen_1 vs gen_0)
    val gen1 = new java.io.File(s"$tableDir/gen_1")
    val victim = java.nio.file.Files.walk(gen1.toPath).iterator()
    val toDelete = {
      import scala.jdk.CollectionConverters._
      victim.asScala.find(_.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.delete(toDelete)
    // out-of-band damage #2: a stray root-level parquet (orphan)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tableDir/stray.parquet"), "junk")
    // out-of-band damage #3: a corrupted pin token
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tableDir/_pins/torn.pin"), "garbage")
    val damaged = fsck() // reports, never throws
    assert(!damaged("live_files_exist")._1 && damaged("live_files_exist")._2 === 1L)
    assert(!damaged("no_orphan_data")._1)
    assert(!damaged("pins_resolvable")._1)
    assert(damaged("manifests_parseable")._1) // the chain itself is intact
    assert(damaged("pinned_files_exist")._1) // gen_0 untouched
    // the pinned snapshot's own file vanishing flips its check too
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tableDir/_pins/torn.pin"))
    val gen0 = new java.io.File(s"$tableDir/gen_0")
    val victim0 = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(gen0.toPath).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.delete(victim0)
    assert(!fsck()("pinned_files_exist")._1)
  }

  test("fsck agrees with the sweeps about in-flight stagings (ADVICE r15)") {
    val tableDir = Files.createTempDirectory("graft-fsck-if").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      Seq((1L, "p", 0L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 2, 0L, retain = 2)
    // a concurrent writer's protected staging: live token + staged gen
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tableDir/_inflight"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tableDir/_inflight/00000000000000000007"), "")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tableDir/gen_7/__bucket=0"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tableDir/gen_7/__bucket=0/part-0.parquet"),
      "staged")
    def fsck() = EventStreams.fsckUpsertTable(spark, tableDir)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val live = fsck()
    assert(live("no_orphan_data")._1,
      "a token-protected staging is a live writer, not orphan debris — " +
        "fsck must agree with sweepUnreferenced about reclaimability")
    assert(live("in_flight_staging") === ((true, 1L)),
      "the protected staging reports under its own informational row")
    // the vacuum sweep also leaves it alone — fsck and sweep agree
    EventStreams.vacuumUpsertTable(spark, tableDir, retain = 2)
    assert(new java.io.File(s"$tableDir/gen_7/__bucket=0/part-0.parquet").exists())
    // abandon the id (operator removes the token): the staging becomes
    // ordinary crash litter — orphan-red, and the sweep reclaims it
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$tableDir/_inflight/00000000000000000007"))
    val abandoned = fsck()
    assert(!abandoned("no_orphan_data")._1 && abandoned("no_orphan_data")._2 === 1L)
    assert(abandoned("in_flight_staging") === ((true, 0L)))
    EventStreams.vacuumUpsertTable(spark, tableDir, retain = 2)
    assert(!new java.io.File(s"$tableDir/gen_7").exists())
    assert(fsck()("no_orphan_data")._1)
  }

  test("sharded manifests: 1-bucket merges commit O(1) metadata; compaction GCs shards") {
    val tableDir = Files.createTempDirectory("graft-shardman").toString + "/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 8, id, retain = 2)
    merge((0L until 64L).map(k => (k, s"p$k", 0L)), 0L)
    def metaFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tableDir/_manifests"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).filter(_.endsWith(".json")).toSet // .crc litter excluded
    }
    val before = metaFiles()
    // the O(changed) proof: a single-key merge into an 8-bucket table
    // commits EXACTLY 2 metadata objects — the touched bucket's shard
    // and the list — regardless of how many buckets are live
    merge(Seq((1L, "x", 1L)), 1L)
    val added = metaFiles() -- before
    assert(added.size === 2, s"1-bucket merge added ${added.size} metadata files: $added")
    assert(metaFiles().intersect(before) === before) // untouched shards shared, not rewritten
    val rows = EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) === "x" && rows(0L) === "p0" && rows.size === 64)
    merge(Seq((2L, "y", 2L)), 2L)
    val latest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tableDir/_manifests/00000000000000000002.json")), "UTF-8")
    assert(latest.contains("\"shards\":{"))
    val rows2 = EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2(2L) === "y" && rows2(0L) === "p0" && rows2.size === 64)
    // fsck sees the sharded shape whole (incl. the orphan-shard check)
    val f = EventStreams.fsckUpsertTable(spark, tableDir)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(f.values.forall(identity), s"fsck red on sharded table: $f")
    assert(f.contains("no_orphan_shards"))
    // compaction GCs shards no surviving list references
    EventStreams.compactManifests(spark, tableDir, keepLast = 1)
    val pointed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tableDir/_manifests/00000000000000000002.json")), "UTF-8")
    val kept = new java.io.File(s"$tableDir/_manifests/shards").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).toSet
    assert(kept.forall(pointed.contains), s"unreferenced shards survived GC: $kept")
  }

  test("backup is self-contained; restore reports replay vs stale-id honestly") {
    val base = Files.createTempDirectory("graft-bak2").toString
    val tableDir = s"$base/t"
    def merge(dir: String, rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        dir, Seq("k"), "version", 4, id, retain = 2)
    merge(tableDir, (0L until 12L).map(k => (k, s"p$k", 0L)), 0L)
    merge(tableDir, Seq((3L, "q3", 1L)), 1L)
    def rows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = rows(tableDir)
    // byte-level parity of the distributed copier with the snapshot
    val live = EventStreams.tableManifest(spark, tableDir)
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak") === 1L)
    live.values.flatten.foreach { rel =>
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(s"$tableDir/$rel")) ===
        java.nio.file.Files.size(java.nio.file.Paths.get(s"$base/bak/$rel")),
        s"backup copy of $rel differs in size")
    }
    // a replayed backup into the same dir no-ops on the committed manifest
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak") === 1L)
    // SELF-CONTAINED: the source table vanishes entirely (incl. its
    // sharded manifest metadata); the backup still reads and restores
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tableDir), true)
    assert(rows(s"$base/bak") === expected)
    // explicit restore outcome: fresh commit TRUE, verified replay FALSE
    assert(EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/c", 10L))
    assert(!EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/c", 10L))
    assert(rows(s"$base/c") === expected)
    // a STALE id that never ran this restore must not look like success:
    // the clone advances past 11 with different content, then a restore
    // under 11 finds no matching manifest and throws (r12 verdict #2)
    merge(s"$base/c", Seq((0L, "z0", 9L)), 11L)
    val e = intercept[IllegalStateException] {
      EventStreams.restoreUpsertTable(spark, s"$base/bak", s"$base/c", 11L)
    }
    assert(e.getMessage.contains("did NOT run"))
    // the backup's head is the inline shape; a commit on it writes the
    // sharded one and reads back whole
    merge(s"$base/bak", Seq((3L, "q3b", 2L)), 12L)
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$base/bak/_manifests/00000000000000000012.json")), "UTF-8").contains("\"shards\":{"))
    assert(rows(s"$base/bak") === expected + (3L -> "q3b"))
  }

  test("backup dir reuse for a NEWER snapshot throws; a true replay still no-ops") {
    val base = Files.createTempDirectory("graft-bak3").toString
    val tableDir = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 2)
    merge(Seq((1L, "a", 0L)), 0L)
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak") === 0L)
    // true replay: same resolved snapshot, committed manifest matches
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak") === 0L)
    // the table advances; pointing the SAME dir at the newer snapshot is
    // a caller bug — returning the stale id would hand a later restore
    // the wrong state (ADVICE r13)
    merge(Seq((1L, "b", 1L)), 1L)
    val e = intercept[IllegalStateException] {
      EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak")
    }
    assert(e.getMessage.contains("reused backup dir"))
    // and the explicit-batchId form still replays the OLD snapshot fine
    assert(EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak",
      batchId = 0L) === 0L)
  }

  test("delta merges: O(batch) appends, replay no-ops, eager merges fold, one key contract") {
    val tableDir = Files.createTempDirectory("graft-delta").toString + "/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long,
              delta: Boolean = true) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 8, id, retain = 2, delta = delta)
    merge((0L until 64L).map(k => (k, s"p$k", 0L)), 0L)
    def metaFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tableDir/_manifests"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).filter(_.endsWith(".json")).toSet
    }
    def rows() = EventStreams.readUpsertTable(spark, tableDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val liveBefore = EventStreams.tableManifest(spark, tableDir)
    val before = metaFiles()
    // a 1-key DELTA merge: O(batch) data (no bucket rewrite — the
    // bucket's base file stays on the list) and still O(changed)
    // metadata (2 objects: the appended bucket's shard + the list)
    merge(Seq((1L, "x", 1L)), 1L)
    assert((metaFiles() -- before).size === 2)
    val live = EventStreams.tableManifest(spark, tableDir)
    val bucket1 = live.find(_._2.exists(_.startsWith("gen_1/"))).get._1
    assert(live(bucket1).size === 2, "delta appends, never rewrites")
    assert(live(bucket1).head === liveBefore(bucket1).head,
      "the base file must stay live under its original path")
    assert((live - bucket1) === (liveBefore - bucket1),
      "untouched buckets' lists are byte-identical")
    assert(rows()(1L) === "x" && rows().size === 64)
    // replayed delta batch: nothing commits
    val metaAt1 = metaFiles()
    merge(Seq((1L, "never", 1L)), 1L)
    assert(metaFiles() === metaAt1)
    assert(rows()(1L) === "x")
    // an EAGER merge on the delta table folds its touched buckets
    // (reconciling first) and CARRIES the spec — other buckets may
    // still hold deltas
    merge(Seq((1L, "y", 2L)), 2L, delta = false)
    val folded = EventStreams.tableManifest(spark, tableDir)
    assert(folded(bucket1).size === 1, "an eager merge folds the bucket")
    assert(rows()(1L) === "y" && rows().size === 64)
    val latestList = new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    assert(new String(java.nio.file.Files.readAllBytes(latestList.toPath),
      "UTF-8").contains("\"reconcile\""), "the spec carries until a full fold")
    // the spec IS the table's key contract: a merge under different
    // keys/version fails loudly before touching anything
    val err = intercept[IllegalArgumentException] {
      EventStreams.mergeBatchIntoTable(
        Seq((9L, "z", 9L)).toDF("k", "payload", "v2"),
        tableDir, Seq("k"), "v2", 8, 3L, retain = 2, delta = true)
    }
    assert(err.getMessage.contains("one key contract"))
    // full fold: compactUpsertTable drops the spec, reads stay equal
    val preFold = rows()
    EventStreams.compactUpsertTable(spark, tableDir, Seq("k"), 8, 4L)
    val latestAfter = new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    assert(!new String(java.nio.file.Files.readAllBytes(latestAfter.toPath),
      "UTF-8").contains("\"reconcile\""))
    assert(rows() === preFold)
    assert(EventStreams.fsckUpsertTable(spark, tableDir)
      .collect().forall(_.getBoolean(1)))
  }

  test("fsck flags a delta snapshot whose reconcile spec was lost") {
    val tableDir = Files.createTempDirectory("graft-delta-fsck").toString + "/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        tableDir, Seq("k"), "version", 4, id, retain = 2, delta = true)
    merge((0L until 16L).map(k => (k, s"p$k", 0L)), 0L)
    merge(Seq((1L, "x", 1L)), 1L)
    def fsck() = EventStreams.fsckUpsertTable(spark, tableDir)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(fsck()("delta_spec_present") === ((true, 1L))) // 1 delta bucket, spec held
    // metadata damage: the spec vanishes from the latest list
    val latest = new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    val body = new String(java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
    java.nio.file.Files.writeString(latest.toPath,
      body.replaceAll(""","reconcile":\{[^}]*\}""", ""))
    new java.io.File(s"$tableDir/_manifests").listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val after = fsck()
    assert(after("delta_spec_present") === ((false, 1L)),
      "a multi-commit bucket without a spec must flag red")
  }

  test("point read validates the key contract and survives probe-type drift") {
    val tableDir = Files.createTempDirectory("graft-keyed").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 32L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 8, 0L)
    assert(EventStreams.tableKeyedBy(spark, tableDir) === Some(Seq("k")))
    // an INT probe against the LONG key would hash into the wrong
    // buckets — the one-footer type alignment makes it exact anyway
    val intProbe = Seq(3, 7).toDF("k") // IntegerType
    val got = EventStreams.readUpsertTableForKeys(spark, tableDir,
      intProbe, Seq("k")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(3L, 7L))
    // a partial/mismatched key probe fails loudly on the contract
    val e = intercept[IllegalArgumentException] {
      EventStreams.readUpsertTableForKeys(spark, tableDir,
        Seq("x").toDF("payload"), Seq("payload"))
    }
    assert(e.getMessage.contains("wrong buckets"))
  }

  test("point read composes with zone maps: within-bucket files outside the probe's key range never open") {
    val tableDir = Files.createTempDirectory("graft-keyzone").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 64L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "version"),
      tableDir, Seq("k"), "version", 4, 0L, statsCols = Some(Seq("k")))
    EventStreams.compactUpsertTable(spark, tableDir, Seq("k"), 4, 1L,
      sortBy = Seq("k"), maxRecordsPerFile = 2)
    val live = EventStreams.tableManifest(spark, tableDir)
    val stats = EventStreams.tableFileStats(spark, tableDir)
    val keys = Seq(3L, 7L).toDF("k")
    val wantB = keys.withColumn("b", pmod(hash(col("k")), lit(4)))
      .select("b").distinct().collect().map(_.getInt(0)).toSet
    // prediction from the committed stats: wanted-bucket files whose
    // recorded k-range intersects the probe box [3, 7]
    val predicted = live.filter(kv => wantB(kv._1)).values.flatten.filter { rel =>
      stats.get(rel).flatMap(_.get("k")) match {
        case Some((Some(mn), Some(mx))) =>
          BigDecimal(mx) >= 3 && BigDecimal(mn) <= 7
        case _ => true
      }
    }.toSet
    val read = EventStreams.readUpsertTableForKeys(spark, tableDir,
      keys, Seq("k"))
    assert(read.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 7L))
    val scanned = EventStreams.readUpsertTableForKeys(spark, tableDir,
      keys, Seq("k")).inputFiles
      .flatMap(f => live.values.flatten.find(rel => f.endsWith("/" + rel))).toSet
    assert(scanned === predicted)
    assert(predicted.size < live.filter(kv => wantB(kv._1)).values.map(_.size).sum,
      "zone maps must prune within the wanted buckets, not just across them")
  }

  test("zone maps: commits record per-file stats; range reads prune files and stay exact") {
    import EventStreams.ColBound
    val tableDir = Files.createTempDirectory("graft-zone").toString + "/t"
    val rows = (0L until 32L).map(k =>
      (k, f"p$k%02d", k * 10L, s"2024-01-01 ${10 + k.toInt / 8}:00:00", 0L))
      .toDF("k", "payload", "n", "ts_s", "version")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    EventStreams.mergeBatchIntoTable(rows, tableDir, Seq("k"), "version",
      nBuckets = 4, batchId = 0L,
      statsCols = Some(Seq("n", "payload", "ts")))
    assert(EventStreams.tableStatsCols(spark, tableDir) ===
      Some(Seq("n", "payload", "ts")))
    // cluster by n and split buckets into several files: each file gets
    // a tight disjoint n-range — the layout zone maps exist for
    EventStreams.compactUpsertTable(spark, tableDir, Seq("k"), 4, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    val live = EventStreams.tableManifest(spark, tableDir)
    assert(live.values.forall(_.size >= 2), "maxRecordsPerFile splits buckets")
    val stats = EventStreams.tableFileStats(spark, tableDir)
    assert(live.values.flatten.forall(stats.contains),
      "every live file carries stats after the clustered rewrite")
    def full() = EventStreams.readUpsertTable(spark, tableDir)
    def whereN(lo: Long, hi: Long) = EventStreams.readUpsertTableWhere(
      spark, tableDir, Seq(ColBound("n", Some(lo.toString), Some(hi.toString))))
    val got = whereN(0, 35)
    val want = full().filter(col("n") <= 35)
    assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty)
    assert(got.inputFiles.length < live.values.map(_.size).sum,
      "the narrow range must not open every file")
    // inclusive boundaries: a file whose max IS the lo bound survives
    assert(whereN(310, 310).collect().map(_.getLong(0)).toSeq === Seq(31L))
    // string bounds prune too
    val one = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("payload", Some("p07"), Some("p07"))))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(one.inputFiles.length < live.values.map(_.size).sum)
    // timestamp bounds: fixed-width canonicalization keeps the exact
    // boundary instant in range
    val tsGot = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("ts", Some("2024-01-01 11:00:00"), None)))
    val tsWant = full().filter(col("ts") >= to_timestamp(lit("2024-01-01 11:00:00")))
    assert(tsGot.exceptAll(tsWant).union(tsWant.exceptAll(tsGot)).isEmpty)
    // a column with no recorded stats reads unpruned but exact
    val byK = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("k", Some("3"), Some("5"))))
    assert(byK.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L, 5L))
    // unsupported stats column types fail at write time, not read time
    val err = intercept[IllegalArgumentException] {
      EventStreams.mergeBatchIntoTable(
        rows.withColumn("arr", array(col("k"))), tableDir, Seq("k"),
        "version", 4, 2L, statsCols = Some(Seq("arr")))
    }
    assert(err.getMessage.contains("zone maps support"))
  }

  test("zone maps on delta tables prune whole buckets only — superseded rows never resurrect") {
    import EventStreams.ColBound
    val tableDir = Files.createTempDirectory("graft-zoned").toString + "/t"
    def merge(rs: Seq[(Long, Long, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rs.toDF("k", "n", "version"),
        tableDir, Seq("k"), "version", nBuckets = 2, batchId = id,
        retain = 2, delta = true, statsCols = Some(Seq("n")))
    merge((0L until 8L).map(k => (k, k * 10L, 0L)), 0L)
    // key 3 moves OUT of the low range in a later delta commit
    merge(Seq((3L, 999L, 1L)), 1L)
    // materialized: the fold below sweeps the files this plan names
    val want = EventStreams.readUpsertTable(spark, tableDir)
      .filter(col("n").between(25L, 45L)).localCheckpoint()
    val got = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("n", Some("25"), Some("45"))))
    // file-level pruning would skip the 999-file, reconcile against
    // only the v0 file, and resurrect k=3's superseded n=30 row; the
    // bucket-granular prune reads k=3's whole bucket and reconciles
    assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty)
    val gotKs = got.collect().map(_.getLong(0))
    assert(gotKs.contains(4L) && !gotKs.contains(3L))
    // a bucket NONE of whose files can match is skipped entirely
    val wide = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("n", Some("5000"), Some("6000"))))
    assert(wide.isEmpty && wide.inputFiles.isEmpty)
    // the nightly fold inherits the stats contract: file-level pruning
    // resumes on the folded snapshot
    EventStreams.compactUpsertTable(spark, tableDir, Seq("k"), 2, 2L,
      sortBy = Seq("n"), maxRecordsPerFile = 2)
    assert(EventStreams.tableStatsCols(spark, tableDir) === Some(Seq("n")))
    val folded = EventStreams.readUpsertTableWhere(spark, tableDir,
      Seq(ColBound("n", Some("25"), Some("45"))))
    assert(folded.exceptAll(want).union(want.exceptAll(folded)).isEmpty)
    val liveN = EventStreams.tableManifest(spark, tableDir)
      .values.map(_.size).sum
    assert(folded.inputFiles.length < liveN)
  }

  test("zone maps travel through backup and restore") {
    import EventStreams.ColBound
    val base = Files.createTempDirectory("graft-zoneb").toString
    val tableDir = s"$base/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "version"),
      tableDir, Seq("k"), "version", nBuckets = 4, batchId = 0L,
      statsCols = Some(Seq("n")))
    EventStreams.backupUpsertTable(spark, tableDir, s"$base/bak")
    assert(EventStreams.restoreUpsertTable(spark, s"$base/bak",
      s"$base/dr", batchId = 5L))
    assert(EventStreams.tableStatsCols(spark, s"$base/dr") === Some(Seq("n")))
    val live = EventStreams.tableManifest(spark, s"$base/dr")
    val stats = EventStreams.tableFileStats(spark, s"$base/dr")
    assert(live.values.flatten.forall(stats.contains),
      "restored files keep their stats under the re-homed paths")
    val got = EventStreams.readUpsertTableWhere(spark, s"$base/dr",
      Seq(ColBound("n", Some("0"), Some("30"))))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    assert(got.inputFiles.length < live.values.map(_.size).sum)
  }

  test("change feed: net-window diff, stale writes silent, folds free, touched-only reads") {
    val base = Files.createTempDirectory("graft-feed").toString
    val t = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        t, Seq("k"), "version", nBuckets = 4, batchId = id, retain = 8,
        delta = true)
    // batch 0: 16 keys; key 2 lands at version 5 (the later stale trap)
    merge((0L until 16L).map(k => (k, s"p$k", if (k == 2L) 5L else 0L)), 0L)
    // batch 1: keys 0,1 change; key 16 is new; key 2's v3 arrives STALE
    merge(Seq((0L, "new0", 1L), (1L, "new1", 1L), (16L, "p16", 0L),
      (2L, "stale", 3L)), 1L)
    // batch 2: delete key 3
    EventStreams.deleteFromTable(spark, t, Seq(3L).toDF("k"), Seq("k"),
      nBuckets = 4, batchId = 2L, retain = 8)
    val feed = EventStreams.readChangeFeed(spark, t, 0L, Some(2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(feed.toSet === Set((0L, "new0", "upsert"), (1L, "new1", "upsert"),
      (16L, "p16", "upsert"), (3L, "p3", "delete")),
      "net window: changed images, new keys, delete pre-image — and the " +
        "losing stale write for key 2 emits NOTHING")
    // touched-only evidence: the feed plan opens no file of buckets no
    // window commit touched
    val touchedBuckets = Seq(0L, 1L, 2L, 3L, 16L)
      .toDF("k").withColumn("b", pmod(hash(col("k")), lit(4)))
      .select("b").distinct().collect().map(_.getInt(0)).toSet
    val scanned = EventStreams.readChangeFeed(spark, t, 0L, Some(2L)).inputFiles
    assert(scanned.nonEmpty && scanned.forall(f =>
      touchedBuckets.exists(b => f.contains(s"__bucket=$b/"))))
    // batch 3: a FOLD — the feed over a fold-only window is empty AND
    // fileless (skipped from metadata alone)
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 4, 3L, retain = 8)
    val foldFeed = EventStreams.readChangeFeed(spark, t, 2L, Some(3L))
    assert(foldFeed.isEmpty && foldFeed.inputFiles.isEmpty,
      "a tagged fold costs the feed zero data reads")
    // a window SPANNING the fold still carries the real changes
    merge(Seq((4L, "new4", 1L)), 4L)
    val spanning = EventStreams.readChangeFeed(spark, t, 1L)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(spanning === Set((3L, "delete"), (4L, "upsert")))
  }

  test("change feed: cursor pins hold the base snapshot; gaps and regressions fail loudly") {
    val base = Files.createTempDirectory("graft-feedcur").toString
    val t = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        t, Seq("k"), "version", nBuckets = 2, batchId = id, retain = 1)
    merge((0L until 8L).map(k => (k, s"p$k", 0L)), 0L)
    assert(EventStreams.feedCursor(spark, t, "c1") === None)
    assert(EventStreams.bootstrapFeedCursor(spark, t, "c1") === 0L)
    assert(EventStreams.feedCursor(spark, t, "c1") === Some(0L))
    // retain=1 would normally sweep batch 0's files on the next merge;
    // the cursor pin holds them, so the feed from 0 stays readable
    merge(Seq((0L, "x", 1L)), 1L)
    merge(Seq((1L, "y", 1L)), 2L)
    val feed = EventStreams.readChangeFeed(spark, t, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(feed.toSet === Set((0L, "x", "upsert"), (1L, "y", "upsert")))
    // advance: replay no-ops, superseded pin releases, backwards throws
    assert(EventStreams.advanceFeedCursor(spark, t, "c1", 2L) === 2L)
    assert(EventStreams.advanceFeedCursor(spark, t, "c1", 2L) === 2L)
    val pins = EventStreams.listPins(spark, t).keySet
    assert(pins.contains("feed.c1.2") && !pins.contains("feed.c1.0"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.advanceFeedCursor(spark, t, "c1", 1L)
    }.getMessage.contains("monotonically"))
    // a cursor may only land on a committed id
    assert(intercept[IllegalArgumentException] {
      EventStreams.advanceFeedCursor(spark, t, "c1", 99L)
    }.getMessage.contains("COMMITTED"))
    // prune the chain past a second consumer's base: loud gap
    assert(EventStreams.advanceFeedCursor(spark, t, "c2", 2L) === 2L)
    merge(Seq((2L, "z", 1L)), 3L)
    EventStreams.compactManifests(spark, t, keepLast = 1)
    val gap = intercept[IllegalStateException] {
      EventStreams.readChangeFeed(spark, t, 0L)
    }
    assert(gap.getMessage.contains("change-feed gap"))
    // ...but the PINNED cursor's manifest survived the same compaction
    assert(EventStreams.readChangeFeed(spark, t, 2L)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("feed-driven replica sync converges exactly-once, including deletes and re-syncs") {
    val base = Files.createTempDirectory("graft-replica").toString
    val src = s"$base/src"
    val rep = s"$base/rep"
    def merge(dir: String, rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        dir, Seq("k"), "version", nBuckets = 4, batchId = id, retain = 4)
    val seed = (0L until 12L).map(k => (k, s"p$k", 0L))
    merge(src, seed, 0L)
    // seed the replica with the same snapshot, cursor at that batch
    merge(rep, seed, 0L)
    EventStreams.advanceFeedCursor(spark, src, "rep", 0L)
    // nothing new: sync no-ops
    assert(EventStreams.syncReplicaFromFeed(spark, src, rep, "rep",
      "version", 4) === None)
    merge(src, Seq((0L, "v1", 1L), (12L, "p12", 0L)), 1L)
    EventStreams.deleteFromTable(spark, src, Seq(5L).toDF("k"), Seq("k"), 4, 2L,
      retain = 4)
    val r1 = EventStreams.syncReplicaFromFeed(spark, src, rep, "rep",
      "version", 4)
    assert(r1 === Some((0L, 2L, 2L, 1L)))
    def rows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(rep) === rows(src))
    // replayed sync call: cursor is at the watermark — no-op
    assert(EventStreams.syncReplicaFromFeed(spark, src, rep, "rep",
      "version", 4) === None)
    // a second window (including a fold on the source) converges again
    EventStreams.compactUpsertTable(spark, src, Seq("k"), 4, 3L, retain = 4)
    merge(src, Seq((1L, "v2", 2L)), 4L)
    val r2 = EventStreams.syncReplicaFromFeed(spark, src, rep, "rep",
      "version", 4)
    assert(r2 === Some((2L, 4L, 1L, 0L)))
    assert(rows(rep) === rows(src))
  }

  test("continuous feed stream: a backlog drains in bounded windows; crash-resume replays; idle ticks move nothing") {
    import graft.streaming.FeedStream
    val base = Files.createTempDirectory("graft-cont").toString
    val (src, rep, rep2) = (s"$base/src", s"$base/rep", s"$base/rep2")
    def merge(dir: String, rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        dir, Seq("k"), "version", nBuckets = 2, batchId = id, retain = 8)
    val seed = (0L until 8L).map(k => (k, s"p$k", 0L))
    merge(src, seed, 0L); merge(rep, seed, 0L); merge(rep2, seed, 0L)
    EventStreams.advanceFeedCursor(spark, src, "c", 0L)
    EventStreams.advanceFeedCursor(spark, src, "b", 0L)
    // a 6-commit backlog BEFORE the stream starts — one AvailableNow
    // window would swallow it whole; the continuous stream must drain
    // it in bounded (maxCommitsPerBatch = 2) windows
    (1L to 6L).foreach(i => merge(src, Seq((i % 8, s"v$i", i)), i))
    def cursor(c: String) = EventStreams.feedCursor(spark, src, c)
    def await(c: String, target: Long): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cursor(c).contains(target) &&
             System.currentTimeMillis() - t0 < 120000) Thread.sleep(100)
      assert(cursor(c).contains(target),
        s"cursor '$c' stuck at ${cursor(c)}, wanted $target")
    }
    val q = FeedStream.startReplicaSyncContinuous(spark, src, rep, "c",
      "version", 2, s"$base/ckpt", intervalMs = 100, maxCommitsPerBatch = 2)
    try await("c", 6L) finally q.stop()
    // bounded-window evidence from the replica's own committed chain:
    // windows ended at source ids 2, 4, 6 → merge commits 5, 9, 13
    // (the 2*to+1 convention); a single giant window would have
    // committed only 13
    val repIds = EventStreams.tableHistory(spark, rep)
      .select("batch_id").collect().map(_.getLong(0)).toSet
    assert(Set(5L, 9L, 13L).subsetOf(repIds),
      s"the backlog must drain in >1 bounded windows, got commits $repIds")
    // ≡ the one-window batch sync on the twin
    EventStreams.syncReplicaFromFeed(spark, src, rep2, "b", "version", 2)
    def rows(dir: String) = EventStreams.readUpsertTable(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(rep) === rows(src) && rows(rep2) === rows(src),
      "bounded continuous windows must converge to the batch sync's state")
    // IDLE: restart on the same checkpoint with nothing new — several
    // tick intervals later the cursor and the replica chain are both
    // untouched (an idle tick costs the manifest listing, never a sync)
    val q2 = FeedStream.startReplicaSyncContinuous(spark, src, rep, "c",
      "version", 2, s"$base/ckpt", intervalMs = 100, maxCommitsPerBatch = 2)
    try {
      Thread.sleep(1200)
      assert(cursor("c").contains(6L))
      assert(EventStreams.tableHistory(spark, rep)
        .select("batch_id").collect().map(_.getLong(0)).toSet === repIds,
        "idle ticks must commit nothing to the replica")
    } finally q2.stop()
    // CRASH-RESUME: a fresh backlog, stop the stream mid-drain (or
    // after — timing-free either way), restart on the same checkpoint:
    // the drain completes and converges; nothing double-applies
    (7L to 10L).foreach(i => merge(src, Seq((i % 8, s"w$i", i)), i))
    val q3 = FeedStream.startReplicaSyncContinuous(spark, src, rep, "c",
      "version", 2, s"$base/ckpt", intervalMs = 100, maxCommitsPerBatch = 2)
    try {
      val t0 = System.currentTimeMillis()
      while (cursor("c").exists(_ < 8L) &&
             System.currentTimeMillis() - t0 < 120000) Thread.sleep(50)
    } finally q3.stop() // the "crash": stop somewhere mid-or-post drain
    val q4 = FeedStream.startReplicaSyncContinuous(spark, src, rep, "c",
      "version", 2, s"$base/ckpt", intervalMs = 100, maxCommitsPerBatch = 2)
    try await("c", 10L) finally q4.stop()
    EventStreams.syncReplicaFromFeed(spark, src, rep2, "b", "version", 2)
    assert(rows(rep) === rows(src) && rows(rep2) === rows(src),
      "a crash-resumed continuous drain must converge exactly-once")
  }

  test("the full serving loop: streaming CDC -> delta table -> change feed -> index sync + rollup view") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-loop").toString
    val srcDir = s"$base/cdc"
    val t = s"$base/t"
    val idx = s"$base/idx"
    val ru = s"$base/ru"
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType), StructField("__v", LongType)))
    def emb(b: Double) = (0 until 64).map(i => (b + i * 0.01).toFloat)
    def land(rows: Seq[(Long, IndexedSeq[Float], Int, Long)]): Unit =
      rows.toDF("vec_id", "embedding", "label", "__v")
        .coalesce(1).write.mode("append").parquet(srcDir)
    land((0L until 6L).map(k => (k, emb(1.0 + k * 0.4), (k % 2).toInt, 0L)))
    val q = EventStreams.upsertToParquet(
      spark.readStream.schema(schema).parquet(srcDir), t,
      Seq("vec_id"), "__v", nBuckets = 4, retain = 8, delta = true)
    try {
      q.processAllAvailable()
      graft.operators.Similarity.buildIvfPqIndex(
        EventStreams.readUpsertTable(spark, t), idx,
        nlist = 2, m = 8, codebookSize = 2, dim = 64)
      EventStreams.bootstrapFeedCursor(spark, t, "serve")
      // a second, independent consumer of the SAME feed: a per-label
      // count view (each consumer holds its own cursor pin)
      val spec = EventStreams.RollupSpec(Seq("label"), Seq.empty)
      EventStreams.seedRollupFromSnapshot(spark, t, ru, "stats", spec,
        nBuckets = 2, retain = 8)
      // CDC trickle: vec 0 moves (position AND label group), vec 6
      // arrives — the stream's next micro-batch commits it as one
      // O(batch) delta merge, and each sync pulls exactly that window
      land(Seq((0L, emb(9.0), 1, 1L), (6L, emb(3.1), 0, 0L)))
      q.processAllAvailable()
      val r = graft.operators.Similarity.syncIndexFromFeed(spark, t, idx, "serve")
      assert(r.exists(x => x._3 == 2L && x._4 == 0L))
      val served = graft.operators.Similarity.indexedVecIds(spark, idx)
        .collect().map(_.getLong(0)).toSet
      assert(served === (0L to 6L).toSet)
      val pv = (0 until 64).map(i => 9.0 + i * 0.01).toArray
      val top = graft.operators.Similarity
        .queryIvfPqIndex(spark, idx, Seq((99L, pv)), k = 1, nprobe = 2)
        .collect()
      assert(top.head.getLong(1) === 0L, "the moved vector serves at its new position")
      assert(EventStreams.syncRollupFromFeed(spark, t, ru, "stats", spec,
        nBuckets = 2, retain = 8).isDefined)
      val counts = EventStreams.readUpsertTable(spark, ru)
        .collect().map(r0 => r0.getInt(0) -> r0.getLong(1)).toMap
      assert(counts === Map(0 -> 3L, 1 -> 4L),
        "vec 0 moved label groups and vec 6 arrived: the view tracks both")
      // drained and synced: every half is a replay-clean no-op — the
      // index replay rides the CHECKPOINTED stream wrapper (the
      // FeedStream consumer trio's third member)
      q.processAllAvailable()
      val served0 = served
      val iq = graft.streaming.FeedStream.startIndexSync(spark, t, idx,
        "serve", s"$base/cp_idx")
      iq.awaitTermination()
      assert(graft.operators.Similarity.indexedVecIds(spark, idx)
        .collect().map(_.getLong(0)).toSet === served0,
        "a drained streamed index sync must change nothing")
      assert(graft.operators.Similarity
        .syncIndexFromFeed(spark, t, idx, "serve") === None)
      assert(EventStreams.syncRollupFromFeed(spark, t, ru, "stats", spec,
        nBuckets = 2) === None)
    } finally q.stop()
  }

  test("FeedStream: checkpointed consumers drain windows, restarts no-op, crash halves replay") {
    import EventStreams.RollupSpec
    import graft.streaming.FeedStream
    val base = Files.createTempDirectory("graft-feedstream").toString
    val (src, ru, rep) = (s"$base/src", s"$base/ru", s"$base/rep")
    val (cpRu, cpRep) = (s"$base/cp_ru", s"$base/cp_rep")
    val spec = RollupSpec(Seq("grp"), Seq("x"))
    def merge(dir: String, rows: Seq[(Long, String, Double, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "grp", "x", "__v"),
        dir, Seq("k"), "__v", nBuckets = 4, batchId = id, retain = 8)
    def drainRollup(): Unit = {
      val q = FeedStream.startRollupSync(spark, src, ru, "ru", spec,
        nBuckets = 2, checkpointDir = cpRu, retain = 8)
      q.awaitTermination()
    }
    def drainReplica(): Unit = {
      val q = FeedStream.startReplicaSync(spark, src, rep, "rep", "__v",
        nBuckets = 4, checkpointDir = cpRep, retain = 8)
      q.awaitTermination()
    }
    def converged(): Unit = {
      val gotRu = EventStreams.readUpsertTable(spark, ru)
        .select("grp", "n_rows", "sum_x")
      val wantRu = EventStreams.rollupAggregate(
        EventStreams.readUpsertTable(spark, src), spec)
      assert(gotRu.exceptAll(wantRu).union(wantRu.exceptAll(gotRu)).isEmpty,
        "the streamed rollup must equal the full recompute")
      val srcRows = EventStreams.readUpsertTable(spark, src)
        .select("k", "grp", "x", "__v")
      val repRows = EventStreams.readUpsertTable(spark, rep)
        .select("k", "grp", "x", "__v")
      assert(repRows.exceptAll(srcRows).union(srcRows.exceptAll(repRows)).isEmpty,
        "the streamed replica must equal the source")
    }
    val seed = (0L until 12L).map(k => (k, s"g${k % 3}", k * 1.0, 0L))
    merge(src, seed, 0L)
    merge(rep, seed, 0L) // replica seeded with the same snapshot
    EventStreams.advanceFeedCursor(spark, src, "rep", 0L)
    EventStreams.seedRollupFromSnapshot(spark, src, ru, "ru", spec,
      nBuckets = 2, retain = 8)
    // window 1: update + group move + delete
    merge(src, Seq((1L, "g1", 100.0, 1L), (5L, "g0", 7.5, 1L)), 1L)
    EventStreams.deleteFromTable(spark, src, Seq(2L).toDF("k"), Seq("k"),
      nBuckets = 4, batchId = 2L, retain = 8)
    drainRollup(); drainReplica()
    converged()
    assert(EventStreams.feedCursor(spark, src, "ru") === Some(2L))
    assert(EventStreams.feedCursor(spark, src, "rep") === Some(2L))
    // restart with NOTHING new: the checkpoints wake no batch (or an
    // empty one) and the consumers commit nothing
    val wmRu = EventStreams.appliedBatch(spark, ru)
    val wmRep = EventStreams.appliedBatch(spark, rep)
    drainRollup(); drainReplica()
    assert(EventStreams.appliedBatch(spark, ru) === wmRu,
      "a no-commit restart must not move the rollup")
    assert(EventStreams.appliedBatch(spark, rep) === wmRep)
    // window 2 with a SIMULATED CRASH between the rollup's commit
    // halves: g2 empties; the delete half (2*to) is already committed
    // when the stream replays the window
    EventStreams.deleteFromTable(spark, src, Seq(8L, 11L).toDF("k"),
      Seq("k"), nBuckets = 4, batchId = 3L, retain = 8)
    val to = EventStreams.latestCommittedBatchId(spark, src).get
    EventStreams.deleteFromTable(spark, ru, Seq("g2").toDF("grp"),
      Seq("grp"), nBuckets = 2, batchId = 2 * to, retain = 2)
    drainRollup(); drainReplica()
    converged()
    assert(EventStreams.readUpsertTable(spark, ru)
      .filter(col("grp") === "g2").isEmpty,
      "the emptied group must be deleted from the streamed view")
    assert(EventStreams.feedCursor(spark, src, "ru") === Some(to))
  }

  test("z-order fold: range reads prune on BOTH z-ordered columns; guards validate") {
    val base = Files.createTempDirectory("graft-zorder").toString
    val t = s"$base/t"
    val grid = (0L until 64L).map(k => (k, (k % 8L) * 10L, (k / 8L) * 10L, "s", 0L))
      .toDF("k", "x", "y", "s", "version")
    EventStreams.mergeBatchIntoTable(grid, t, Seq("k"), "version",
      nBuckets = 1, batchId = 0L, statsCols = Some(Seq("x", "y")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      maxRecordsPerFile = 8, zOrderBy = Seq("x", "y"))
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live === 8)
    def slice(c: String) = EventStreams.readUpsertTableWhere(spark, t,
      Seq(EventStreams.ColBound(c, Some("20"), Some("30"))))
    val full = EventStreams.readUpsertTable(spark, t)
    Seq("x", "y").foreach { c =>
      val got = slice(c)
      val want = full.filter(col(c).between(20L, 30L))
      assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty)
      assert(got.inputFiles.length < live,
        s"the $c-slice must prune under the z-order layout")
    }
    // a lexicographic x-sort of the SAME data cannot prune on y
    val t2 = s"$base/t2"
    EventStreams.mergeBatchIntoTable(grid, t2, Seq("k"), "version",
      nBuckets = 1, batchId = 0L, statsCols = Some(Seq("x", "y")))
    EventStreams.compactUpsertTable(spark, t2, Seq("k"), 1, 1L,
      maxRecordsPerFile = 8, sortBy = Seq("x"))
    val lexY = EventStreams.readUpsertTableWhere(spark, t2,
      Seq(EventStreams.ColBound("y", Some("20"), Some("30"))))
    assert(slice("y").inputFiles.length < lexY.inputFiles.length)
    // guards: one ordering per fold; z-ranks need an ordered cast
    assert(intercept[IllegalArgumentException] {
      EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 2L,
        sortBy = Seq("x"), zOrderBy = Seq("y"))
    }.getMessage.contains("not both"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 2L,
        zOrderBy = Seq("s"))
    }.getMessage.contains("numeric"))
  }

  test("bloom filters: equality probes skip files that cannot hold the value") {
    val base = Files.createTempDirectory("graft-bloom").toString
    val t = s"$base/t"
    // high-cardinality UNSORTED strings: per-file ranges span the whole
    // domain, so only the membership sketch can prune
    val rows = (0L until 128L).map(k =>
      (k, s"u${(k * 2654435761L) % 100000}", 0L)).toDF("k", "u", "version")
    EventStreams.mergeBatchIntoTable(rows, t, Seq("k"), "version",
      nBuckets = 2, batchId = 0L, bloomCols = Some(Seq("u")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 1L,
      maxRecordsPerFile = 16)
    assert(EventStreams.tableBloomCols(spark, t) === Some(Seq("u")),
      "the bloom contract inherits through the fold")
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live >= 8, s"the fold must split each bucket (got $live files)")
    val v = s"u${(77L * 2654435761L) % 100000}"
    def probe(value: String) = EventStreams.readUpsertTableWhere(spark, t,
      Seq(EventStreams.ColBound("u", Some(value), Some(value))))
    val hit = probe(v)
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(77L))
    assert(hit.inputFiles.length < live,
      s"the equality probe must skip files (opened ${hit.inputFiles.length} of $live)")
    val miss = probe("u-nowhere")
    assert(miss.isEmpty && miss.inputFiles.length < live)
    // a RANGE probe on the bloom-only column stays exact (no ranges
    // recorded: conservative full read, the predicate still applies)
    val range = EventStreams.readUpsertTableWhere(spark, t,
      Seq(EventStreams.ColBound("u", Some("u0"), Some("u99999"))))
    val want = EventStreams.readUpsertTable(spark, t)
      .filter(col("u") >= "u0" && col("u") <= "u99999")
    assert(range.exceptAll(want).union(want.exceptAll(range)).isEmpty)
    // the delta trap, equality flavor: a key whose value MOVED must not
    // resurrect under its old value (bucket-granular reconcile rule)
    val td = s"$base/td"
    EventStreams.mergeBatchIntoTable(rows, td, Seq("k"), "version",
      nBuckets = 2, batchId = 0L, delta = true, bloomCols = Some(Seq("u")))
    EventStreams.mergeBatchIntoTable(
      Seq((77L, "moved", 1L)).toDF("k", "u", "version"), td,
      Seq("k"), "version", nBuckets = 2, batchId = 1L, delta = true)
    val stale = EventStreams.readUpsertTableWhere(spark, td,
      Seq(EventStreams.ColBound("u", Some(v), Some(v))))
    assert(stale.isEmpty, "the superseded value must not resurrect")
    assert(EventStreams.readUpsertTableWhere(spark, td,
      Seq(EventStreams.ColBound("u", Some("moved"), Some("moved"))))
      .collect().map(_.getLong(0)).toSeq === Seq(77L))
  }

  test("point read below a pin: bucket-pruned time travel equals the pinned scan") {
    val base = Files.createTempDirectory("graft-pointat").toString
    val t = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        t, Seq("k"), "version", nBuckets = 4, batchId = id, retain = 4)
    merge((0L until 16L).map(k => (k, s"p$k", 0L)), 0L)
    merge(Seq((3L, "updated", 1L)), 1L)
    // the pre-update snapshot, read by key: equals the pinned scan and
    // provably opens only the key's bucket at the OLD boundary
    val got = EventStreams.readUpsertTableForKeysBefore(spark, t,
      Seq(3L).toDF("k"), Seq("k"), batchId = 1L)
    assert(got.isDefined && got.get.isDefined)
    val row = got.get.get.collect()
    assert(row.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "p3")))
    val oldLive = EventStreams.readUpsertTableAt(spark, t, 0L).inputFiles.length
    assert(got.get.get.inputFiles.length < oldLive)
    // contract helpers resolve at the boundary, not the head
    assert(EventStreams.tableKeyedByBefore(spark, t, 1L) === Some(Seq("k")))
    // no manifest below the first commit
    assert(EventStreams.readUpsertTableForKeysBefore(spark, t,
      Seq(3L).toDF("k"), Seq("k"), batchId = 0L) === None)
    // committed-empty below the boundary reads as Some(None)
    EventStreams.deleteFromTable(spark, t,
      (0L until 16L).toDF("k"), Seq("k"), nBuckets = 4, batchId = 2L,
      retain = 4)
    val afterDelete = EventStreams.readUpsertTableForKeysBefore(spark, t,
      Seq(3L).toDF("k"), Seq("k"), batchId = 3L)
    assert(afterDelete.isDefined && afterDelete.get.forall(_.isEmpty),
      "a total takedown below the boundary reads as zero rows, not an error")
  }

  test("lost-update guard: a publish whose base moved fails loudly and lands nothing") {
    val base = Files.createTempDirectory("graft-occ").toString
    val t = s"$base/t"
    def merge(rows: Seq[(Long, String, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rows.toDF("k", "payload", "version"),
        t, Seq("k"), "version", nBuckets = 2, batchId = id, retain = 4)
    merge(Seq((0L, "a", 0L)), 0L)
    merge(Seq((1L, "b", 0L)), 1L)
    // simulate writer interleaving at the publish layer: a writer that
    // computed its live set from base 0 (the table has since advanced
    // to 1) must NOT commit — renaming its manifest over the chain
    // would drop batch 1's files from the live set
    val table = new org.apache.hadoop.fs.Path(t)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = intercept[IllegalStateException] {
      EventStreams.publishManifest(fs, table, 2L, 2,
        Map(0 -> Seq("gen_0/__bucket=0/nope.parquet")),
        base = Some(Some(0L)))
    }
    assert(stale.getMessage.contains("lost-update guard"))
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(1L),
      "the guarded publish must land nothing")
    assert(EventStreams.readUpsertTable(spark, t).count() === 2L)
  }

  test("deleteUpsertTableWhere: covered files drop metadata-only, boundaries rewrite, result stays exact") {
    import EventStreams.ColBound
    val t = Files.createTempDirectory("graft-delw").toString + "/t"
    val rows = (0L until 32L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v")
    EventStreams.mergeBatchIntoTable(rows, t, Seq("k"), "__v",
      nBuckets = 1, batchId = 0L, retain = 4, statsCols = Some(Seq("n")))
    // 8 files of 4 rows each, tight disjoint n-ranges
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 4, retain = 4)
    val nLive = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(nLive === 8)
    val before = EventStreams.readUpsertTable(spark, t).localCheckpoint()
    // delete n in [100, 250]: files [100..130],[160..190],[200..230]
    // fully covered (drop unread); [140..150 within 120..150? no —
    // boundary files overlap partially and must rewrite
    val rep = EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("100"), Some("250"))), batchId = 2L,
      retain = 4).get
    val got = EventStreams.readUpsertTable(spark, t)
    val want = before.filter(col("n") < 100L || col("n") > 250L)
    assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty)
    assert(rep.filesDropped >= 2, s"covered files must drop unread: $rep")
    assert(rep.filesCarried >= 2, s"disjoint files must carry: $rep")
    assert(rep.filesDropped + rep.filesRewritten + rep.filesCarried === 8, s"$rep")
    // metadata-only count still provable and tracks the commit
    assert(EventStreams.tableRowCountFromStats(spark, t) === Some(want.count()))
    // time travel: the pre-delete snapshot is intact under retain
    assert(EventStreams.readUpsertTableAt(spark, t, 1L).count() === 32L)
    // replay commits nothing
    assert(EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("100"), Some("250"))), batchId = 2L).isEmpty)
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(2L))
    // a disjoint predicate advances the watermark without touching data
    val rep2 = EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("5000"), Some("6000"))), batchId = 3L,
      retain = 4).get
    assert(rep2.filesDropped === 0 && rep2.filesRewritten === 0)
    assert(EventStreams.readUpsertTable(spark, t).count() === want.count())
  }

  test("deleteUpsertTableWhere: NULLs survive the predicate and block metadata-only drops") {
    import EventStreams.ColBound
    val t = Files.createTempDirectory("graft-delwn").toString + "/t"
    // k 0..5 carry NULL n; 6..21 carry n = k*10
    val rows = (0L until 22L).map(k =>
      (k, if (k < 6L) None else Some(k * 10L), 0L)).toDF("k", "n", "__v")
    EventStreams.mergeBatchIntoTable(rows, t, Seq("k"), "__v",
      nBuckets = 1, batchId = 0L, retain = 4, statsCols = Some(Seq("n")))
    // nulls sort FIRST: file0 = 4 nulls, file1 = 2 nulls + n=60,70 —
    // a mixed file the coverage proof must refuse to drop
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 4, retain = 4)
    val rep = EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("0"), Some("120"))), batchId = 2L,
      retain = 4).get
    val got = EventStreams.readUpsertTable(spark, t)
    // survivors: all 6 null rows + n > 120
    assert(got.filter(col("n").isNull).count() === 6L,
      "NULL never matches a bound; those rows must survive")
    assert(got.count() === 6L + 9L)
    // the all-null file is DISJOINT (carried); the mixed file must
    // REWRITE, not drop — dropping it would delete its null rows
    assert(rep.filesRewritten >= 1, s"mixed null file must rewrite: $rep")
  }

  test("deleteUpsertTableWhere on delta buckets reconciles first — superseded versions never resurrect") {
    import EventStreams.ColBound
    val t = Files.createTempDirectory("graft-delwd").toString + "/t"
    def merge(rs: Seq[(Long, Long, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rs.toDF("k", "n", "__v"),
        t, Seq("k"), "__v", nBuckets = 2, batchId = id,
        retain = 4, delta = true, statsCols = Some(Seq("n")))
    merge((0L until 8L).map(k => (k, k * 10L, 0L)), 0L)
    merge(Seq((3L, 999L, 1L)), 1L) // k=3 moved: 30 superseded by 999
    val rep = EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("900"), Some("1000"))), batchId = 2L,
      retain = 4).get
    val got = EventStreams.readUpsertTable(spark, t)
    val ks = got.collect().map(_.getLong(0)).toSet
    assert(!ks.contains(3L),
      "deleting the winning version must not resurrect the superseded one")
    assert(got.count() === 7L)
    assert(rep.filesRewritten >= 1)
    // deleting at the OLD value of a dead key touches nothing: k=3's
    // superseded n=30 is the only value in [25,35] and it is not a
    // current row — a file-granular classifier that read the stale
    // file without reconciling would wrongly kill it again or keep it
    EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", Some("25"), Some("35"))), batchId = 3L, retain = 4)
    assert(EventStreams.readUpsertTable(spark, t).count() === 7L,
      "[25,35] matches no CURRENT row; the logical table must not shrink")
  }

  test("rollup view: feed-driven sync tracks inserts, updates, group moves and deletes exactly") {
    import EventStreams.RollupSpec
    val base = Files.createTempDirectory("graft-rollup").toString
    val (src, ru) = (s"$base/src", s"$base/ru")
    val spec = RollupSpec(Seq("grp"), Seq("x"))
    def merge(rs: Seq[(Long, String, Double, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rs.toDF("k", "grp", "x", "__v"),
        src, Seq("k"), "__v", nBuckets = 4, batchId = id, retain = 8,
        delta = true)
    def converged(): Unit = {
      val got = EventStreams.readUpsertTable(spark, ru)
        .select("grp", "n_rows", "sum_x")
      val want = EventStreams.rollupAggregate(
        EventStreams.readUpsertTable(spark, src), spec)
      assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty,
        "the incremental view must equal the full recompute")
    }
    // seed: 12 keys in 3 groups
    merge((0L until 12L).map(k => (k, s"g${k % 3}", k * 1.5, 0L)), 0L)
    EventStreams.seedRollupFromSnapshot(spark, src, ru, "ru", spec,
      nBuckets = 2, retain = 8)
    converged()
    // window 1: update x (k=1), MOVE k=5 g2->g0, new key 12, stale
    // write on k=2 (version 0 vs existing 0 — loses the commit-order
    // tie? no: same version, later commit wins under the delta
    // contract, so make it a real loser: version -1)
    merge(Seq((1L, "g1", 100.0, 1L), (5L, "g0", 7.5, 1L),
      (12L, "g1", 3.0, 1L), (2L, "g2", 9999.0, -1L)), 1L)
    // window 1 continued: delete the rest of g2 (k=2, 8, 11) — the
    // group empties
    EventStreams.deleteFromTable(spark, src,
      Seq(2L, 8L, 11L).toDF("k"), Seq("k"), nBuckets = 4, batchId = 2L,
      retain = 8)
    val r1 = EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2, retain = 8).get
    converged()
    assert(r1._4 === 1L, s"g2 reached zero and must delete: $r1")
    assert(EventStreams.readUpsertTable(spark, ru)
      .filter(col("grp") === "g2").isEmpty)
    // window 2: g2 reappears
    merge(Seq((13L, "g2", 2.0, 0L)), 3L)
    assert(EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2, retain = 8).isDefined)
    converged()
    assert(EventStreams.readUpsertTable(spark, ru)
      .filter(col("grp") === "g2").select("n_rows")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // replay: at the watermark the sync no-ops
    assert(EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2).isEmpty)
    assert(EventStreams.feedCursor(spark, src, "ru") === Some(3L))
    // NULL group values fail loudly, never silently mis-aggregate
    merge(Seq((14L, null.asInstanceOf[String], 1.0, 0L)), 4L)
    val err = intercept[IllegalArgumentException] {
      EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
        nBuckets = 2)
    }
    assert(err.getMessage.contains("NULL"))
  }

  test("tableHistory: the commit log as a DataFrame, from metadata alone") {
    val t = Files.createTempDirectory("graft-hist").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L, retain = 8,
      statsCols = Some(Seq("n")))
    EventStreams.deleteFromTable(spark, t, Seq(3L).toDF("k"), Seq("k"),
      nBuckets = 2, batchId = 1L, retain = 8)
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 2L, retain = 8)
    val hist = EventStreams.tableHistory(spark, t)
      .orderBy(col("batch_id")).collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(hist.map(_.getString(1)).toSeq === Seq("write", "write", "fold"))
    // the fold records its parent; row counts come from the stats the
    // commits already wrote (15 after the keyed delete)
    assert(hist.last.getLong(2) === 1L, "fold base = the parent watermark")
    assert(hist.map(r => Option(r.get(5)).map(_.asInstanceOf[Long]))
      .toSeq === Seq(Some(16L), Some(15L), Some(15L)))
    assert(hist.forall(_.getString(8) == "k"), "key contract on every row")
    // a table that never opted into stats refuses row counts (null),
    // never guesses
    val tn = Files.createTempDirectory("graft-histn").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      Seq((1L, 0L)).toDF("k", "__v"), tn, Seq("k"), "__v",
      nBuckets = 1, batchId = 0L)
    assert(EventStreams.tableHistory(spark, tn).head().isNullAt(5))
  }

  test("catalyst-integrated scan: plain filters prune files inside the planned scan") {
    val t = Files.createTempDirectory("graft-zscan").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 32L).map(k => (k, k * 10L, f"p$k%02d", 0L))
        .toDF("k", "n", "payload", "__v"),
      t, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("n", "payload")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live === 8)
    def scanned(d: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
      val rows = d.collect().map(_.getLong(0)).sorted.toSeq
      val p = d.queryExecution.executedPlan
      val fin = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      val scan = fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      (rows, scan.metrics("numFiles").value)
    }
    def base() = EventStreams.readUpsertTableScan(spark, t)
    val full = EventStreams.readUpsertTable(spark, t)
    // a plain filter prunes: same rows, fewer files planned
    val (lowRows, lowFiles) = scanned(base().filter(col("n") <= 35))
    assert(lowRows === full.filter(col("n") <= 35)
      .collect().map(_.getLong(0)).sorted.toSeq)
    assert(lowFiles < live, "the narrow filter must not plan every file")
    // nothing in range: zero files planned
    val (noRows, noFiles) = scanned(base().filter(col("n").between(5000L, 6000L)))
    assert(noRows.isEmpty && noFiles === 0L)
    // uncontracted column: exact, unpruned
    val (kRows, kFiles) = scanned(base().filter(col("k").between(3L, 5L)))
    assert(kRows === Seq(3L, 4L, 5L) && kFiles === live.toLong)
    // a predicate the extractor can't read stays exact and conservative
    val (modRows, modFiles) = scanned(base().filter(pmod(col("n"), lit(100L)) === 0))
    assert(modRows === full.filter(pmod(col("n"), lit(100L)) === 0)
      .collect().map(_.getLong(0)).sorted.toSeq)
    assert(modFiles === live.toLong)
    // string equality prunes through the same path
    val (sRows, sFiles) = scanned(base().filter(col("payload") === "p07"))
    assert(sRows === Seq(7L) && sFiles < live)
    // column pruning reaches the scan (the relation is a real
    // HadoopFsRelation): a two-column projection reads two columns
    val proj = base().select("k", "n").filter(col("n") <= 35)
    assert(proj.queryExecution.executedPlan.toString.contains("ReadSchema") ||
      proj.collect().nonEmpty)
    // bloom-contracted equality prunes through the same planning hook:
    // a high-cardinality UNSORTED column (ranges useless) — the probe
    // hashes the literal driver-side with the writer's own expression
    val tb = Files.createTempDirectory("graft-zscanb").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 128L).map(k => (k, s"u${(k * 2654435761L) % 100000}", 0L))
        .toDF("k", "u", "__v"),
      tb, Seq("k"), "__v", nBuckets = 2, batchId = 0L,
      bloomCols = Some(Seq("u")))
    EventStreams.compactUpsertTable(spark, tb, Seq("k"), 2, 1L,
      maxRecordsPerFile = 16)
    val bLive = EventStreams.tableManifest(spark, tb).values.map(_.size).sum
    val v77 = s"u${(77L * 2654435761L) % 100000}"
    val (bRows, bFiles) = scanned(
      EventStreams.readUpsertTableScan(spark, tb).filter(col("u") === v77))
    assert(bRows === Seq(77L) && bFiles < bLive,
      "the bloom probe must skip files that cannot hold the value")
    val (mRows, mFiles) = scanned(
      EventStreams.readUpsertTableScan(spark, tb).filter(col("u") === "nowhere"))
    assert(mRows.isEmpty && mFiles < bLive)
    // the index plans from manifest-recorded byte lengths: every live
    // file carries a __bytes entry equal to the real filesystem length
    val tPath = new org.apache.hadoop.fs.Path(t)
    val tFs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tStats = EventStreams.tableFileStats(spark, t)
    assert(EventStreams.tableManifest(spark, t).values.flatten.forall { rel =>
      tStats.get(rel).flatMap(_.get("__bytes")).flatMap(_._1).exists(
        _.toLong == tFs.getFileStatus(
          new org.apache.hadoop.fs.Path(tPath, rel)).getLen)
    }, "every live file must record its byte length in the shard stats")
    // delta snapshots refuse loudly — file pruning there is unsound
    val td = Files.createTempDirectory("graft-zscand").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 4L).map(k => (k, k, 0L)).toDF("k", "n", "__v"),
      td, Seq("k"), "__v", nBuckets = 1, batchId = 0L, delta = true)
    EventStreams.mergeBatchIntoTable(
      Seq((0L, 99L, 1L)).toDF("k", "n", "__v"),
      td, Seq("k"), "__v", nBuckets = 1, batchId = 1L, delta = true)
    val err = intercept[IllegalArgumentException] {
      EventStreams.readUpsertTableScan(spark, td)
    }
    assert(err.getMessage.contains("delta"))
  }

  test("zone-map extraction: IN-lists, OR-of-ranges and starts_with prune planned files") {
    val t = Files.createTempDirectory("graft-zin").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 32L).map(k => (k, k * 10L, f"p$k%02d", 0L))
        .toDF("k", "n", "payload", "__v"),
      t, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("n", "payload")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live === 8)
    def scanned(d: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
      // collect from d ITSELF (k is the leading column) so the metrics
      // read from the executed plan, not an unexecuted twin
      val rows = d.collect().map(_.getLong(0)).sorted.toSeq
      val fin = d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      // a plan the optimizer collapsed to an empty relation (e.g. a
      // contradiction folded to `false`) has no scan: zero files
      val nf = fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(0L)
      (rows, nf)
    }
    def base() = EventStreams.readUpsertTableScan(spark, t)
    val full = EventStreams.readUpsertTable(spark, t)
    def oracle(c: org.apache.spark.sql.Column): Seq[Long] =
      full.filter(c).select("k").collect().map(_.getLong(0)).sorted.toSeq
    // small IN: union of point ranges — the point-lookup dashboard shape
    val (inRows, inFiles) = scanned(base().filter(col("n").isin(10L, 20L)))
    assert(inRows === Seq(1L, 2L) && inFiles < live,
      s"a 2-element IN must prune (opened $inFiles of $live)")
    // large IN (past the InSet conversion threshold): same pruning
    val big = (1L to 12L).map(_ * 10L)
    val (isRows, isFiles) = scanned(base().filter(col("n").isin(big: _*)))
    assert(isRows === (1L to 12L).toSeq && isFiles < live)
    // string InSet: the hset carries CATALYST-INTERNAL UTF8Strings —
    // the extraction must take them verbatim, not re-convert
    val bigS = (0 until 12).map(k => f"p$k%02d")
    val (ssRows, ssFiles) = scanned(base().filter(col("payload").isin(bigS: _*)))
    assert(ssRows === (0L to 11L).toSeq && ssFiles < live,
      s"a string InSet must prune (opened $ssFiles of $live)")
    // a NULL element contributes nothing (IN's three-valued logic
    // never yields true on it) — same rows, still sound
    val (nnRows, nnFiles) = scanned(base().filter(col("n").isin(10L, 20L, null)))
    assert(nnRows === Seq(1L, 2L) && nnFiles <= live)
    // OR of two ranges: the union of the branches' bounds
    val orPred = col("n") <= 15L || col("n") >= 290L
    val (orRows, orFiles) = scanned(base().filter(orPred))
    assert(orRows === oracle(orPred) && orFiles < live,
      s"an OR of two ranges must prune (opened $orFiles of $live)")
    // OR with an unextractable branch: conservative, exact, unpruned
    val mixed = col("n") <= 15L || pmod(col("n"), lit(7L)) === 0L
    val (mxRows, mxFiles) = scanned(base().filter(mixed))
    assert(mxRows === oracle(mixed) && mxFiles === live.toLong,
      "an OR with an unextractable branch must read everything")
    // starts_with: the [prefix, successor) range
    val (swRows, swFiles) = scanned(base().filter(col("payload").startsWith("p0")))
    assert(swRows === (0L to 9L).toSeq && swFiles < live,
      s"starts_with must prune (opened $swFiles of $live)")
    // CONTRADICTION PIN (VERDICT r14): col = a AND col = b (a ≠ b) must
    // read ZERO files via the RANGE path — extractEqualities keeps only
    // the first literal for the bloom probe, and that is sound only
    // because extractBounds feeds EqualTo into both range sides so the
    // empty interval prunes everything before any bloom decision.
    // End-to-end Catalyst folds the contradiction to `false` itself;
    // pin the FileIndex-level invariant directly so a future edit
    // narrowing extractBounds' EqualTo handling fails THIS case even
    // when blooms (absent here ⇒ conservative pass) admit both values
    val (cRows, cFiles) = scanned(base().filter(col("n") === 10L && col("n") === 20L))
    assert(cRows.isEmpty && cFiles === 0L,
      "contradictory equalities must prune to zero files")
    locally {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val p = new org.apache.hadoop.fs.Path(t)
      val st = new org.apache.hadoop.fs.FileStatus(
        4L, false, 1, 1L, 0L, new org.apache.hadoop.fs.Path(p, "b0/f0.parquet"))
      val idx = new graft.streaming.ZoneMapFileIndex(
        p, Seq((st, "b0/f0.parquet")),
        Map("b0/f0.parquet" -> Map("n" -> ((Some("0"), Some("100"))))),
        StructType(Seq(StructField("n", LongType))),
        bloomCols = Set("n")) // no sketch recorded ⇒ bloom passes everything
      val n = AttributeReference("n", LongType)()
      val out = idx.listFiles(Nil,
        Seq(EqualTo(n, Literal(10L)), EqualTo(n, Literal(20L))))
      assert(out.head.files.isEmpty,
        "the RANGE path alone must prune the contradiction — the bloom " +
          "probe (first-literal-only) must never be the deciding layer")
    }
    // NULL-count pruning: IS NULL skips zero-null files, IS NOT NULL
    // skips all-null files — both from the stats already recorded
    val tn = Files.createTempDirectory("graft-znull").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 8L).map(k =>
        (k, if (k < 3) None else Some(k * 10L), 0L))
        .toDF("k", "n", "__v"),
      tn, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("n")))
    EventStreams.compactUpsertTable(spark, tn, Seq("k"), 1, 1L,
      sortBy = Seq("n"), maxRecordsPerFile = 3)
    val tnLive = EventStreams.tableManifest(spark, tn).values.map(_.size).sum
    assert(tnLive === 3)
    def scannedN(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = d.count()
      val fin = d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      (n, fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(0L))
    }
    val (nnlRows, nnlFiles) = scannedN(
      EventStreams.readUpsertTableScan(spark, tn).filter(col("n").isNotNull))
    assert(nnlRows === 5L && nnlFiles < tnLive,
      s"IS NOT NULL must skip the all-null file ($nnlFiles of $tnLive)")
    val (nlRows, nlFiles) = scannedN(
      EventStreams.readUpsertTableScan(spark, tn).filter(col("n").isNull))
    assert(nlRows === 3L && nlFiles < tnLive,
      s"IS NULL must skip zero-null files ($nlFiles of $tnLive)")
    // IN composes with the bloom contract: each element probes the sketch
    val tb = Files.createTempDirectory("graft-zinb").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 128L).map(k => (k, s"u${(k * 2654435761L) % 100000}", 0L))
        .toDF("k", "u", "__v"),
      tb, Seq("k"), "__v", nBuckets = 2, batchId = 0L,
      bloomCols = Some(Seq("u")))
    EventStreams.compactUpsertTable(spark, tb, Seq("k"), 2, 1L,
      maxRecordsPerFile = 16)
    val bLive = EventStreams.tableManifest(spark, tb).values.map(_.size).sum
    val v77 = s"u${(77L * 2654435761L) % 100000}"
    val (bRows, bFiles) = scanned(
      EventStreams.readUpsertTableScan(spark, tb)
        .filter(col("u").isin(v77, "nowhere")))
    assert(bRows === Seq(77L) && bFiles < bLive,
      s"an IN on a bloom-contracted column must skip files ($bFiles of $bLive)")
  }

  test("zone maps: supplementary-plane strings compare in the writer's code-point order") {
    // "�" (U+FFFD, high BMP) sorts BELOW U+1F600 (a surrogate
    // pair) in code-point/UTF-8 order — the order the writer's
    // UTF8String min/max aggregated in — but ABOVE it under
    // String.compareTo's UTF-16 code-unit order. A probe comparing in
    // the wrong order would prune a file that HOLDS matching rows
    // (ADVICE r15): this pins statCompare's code-point canonicalization
    // end-to-end and at the FileIndex level.
    val hi = "�"
    val emoji = new String(Character.toChars(0x1F600))
    val t = Files.createTempDirectory("graft-zsupp").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      Seq((0L, "apple", 0L), (1L, "banana", 0L), (2L, hi, 0L),
        (3L, emoji + "grin", 0L)).toDF("k", "s", "__v"),
      t, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("s")))
    // sort by s (UTF8String binary order: apple, banana, hi, emoji…) at
    // 2 rows/file — the second file's recorded range is [hi, emoji…]
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("s"), maxRecordsPerFile = 2)
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live === 2)
    def run(c: org.apache.spark.sql.Column): (Seq[Long], Long) = {
      val d = EventStreams.readUpsertTableScan(spark, t).filter(c)
      val rows = d.collect().map(_.getLong(0)).sorted.toSeq
      val fin = d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      (rows, fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(0L))
    }
    // s >= U+FFFD: under UTF-16 comparison the file max (the emoji
    // string) reads BELOW the bound and the holding file prunes —
    // silently dropping both rows
    val (geRows, _) = run(col("s") >= hi)
    assert(geRows === Seq(2L, 3L),
      "a >= probe at U+FFFD must keep the file whose max is a " +
        "supplementary-plane string")
    // equality on the supplementary string itself
    val (eqRows, _) = run(col("s") === (emoji + "grin"))
    assert(eqRows === Seq(3L))
    // starts_with on the supplementary prefix (successor undefined —
    // lower bound only, still must not lose the row)
    val (swRows, _) = run(col("s").startsWith(emoji))
    assert(swRows === Seq(3L))
    // ASCII-prefix starts_with still PRUNES the supplementary file
    val (apRows, apFiles) = run(col("s").startsWith("a"))
    assert(apRows === Seq(0L) && apFiles < live,
      s"plain prefixes must still prune (opened $apFiles of $live)")
    // FileIndex-level pin, independent of how compaction laid files out
    locally {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, Literal}
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val p = new org.apache.hadoop.fs.Path(t)
      val st = new org.apache.hadoop.fs.FileStatus(
        4L, false, 1, 1L, 0L, new org.apache.hadoop.fs.Path(p, "b0/f0.parquet"))
      val idx = new graft.streaming.ZoneMapFileIndex(
        p, Seq((st, "b0/f0.parquet")),
        Map("b0/f0.parquet" -> Map("s" -> ((Some(hi), Some(emoji + "grin"))))),
        StructType(Seq(StructField("s", StringType))))
      val out = idx.listFiles(Nil, Seq(GreaterThanOrEqual(
        AttributeReference("s", StringType)(),
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(hi), StringType))))
      assert(out.head.files.nonEmpty,
        "[U+FFFD, U+1F600…] must overlap a >= U+FFFD probe — code-point " +
          "order, not UTF-16 code-unit order")
    }
  }

  test("zone maps: probes through safe casts prune; lossy shapes stay conservative") {
    val t = Files.createTempDirectory("graft-zcast").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 24L).map(k => (k, 0L)).toDF("k", "__v")
        .withColumn("d", expr("date_add(date'2021-06-01', cast(k as int))"))
        .withColumn("ts", expr("timestampadd(HOUR, cast(k * 6 as int), " +
          "timestamp'2021-06-01 00:00:00')"))
        .select("k", "d", "ts", "__v"),
      t, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("d", "ts")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
      sortBy = Seq("k"), maxRecordsPerFile = 4)
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
    assert(live === 6)
    val full = EventStreams.readUpsertTable(spark, t).localCheckpoint()
    def run(c: org.apache.spark.sql.Column): (Seq[Long], Long) = {
      val d = EventStreams.readUpsertTableScan(spark, t).filter(c)
      val rows = d.collect().map(_.getLong(0)).sorted.toSeq
      val fin = d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      (rows, fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(0L))
    }
    def oracle(c: org.apache.spark.sql.Column): Seq[Long] =
      full.filter(c).select("k").collect().map(_.getLong(0)).sorted.toSeq
    // DATE column vs TIMESTAMP literal — arrives as Cast(d, ts) >= lit;
    // mid-day cut: the ceil must round UP to the next date (a floor
    // would wrongly include 06-20's midnight and a raw reinterpretation
    // would read everything)
    val cut = lit(java.sql.Timestamp.valueOf("2021-06-20 12:00:00"))
    val (geRows, geFiles) = run(col("d") >= cut)
    assert(geRows === oracle(col("d") >= cut) && geRows.nonEmpty)
    assert(geFiles < live, s"date-vs-timestamp must prune ($geFiles of $live)")
    // exact-midnight boundary: inclusive on the boundary date
    val mid = lit(java.sql.Timestamp.valueOf("2021-06-21 00:00:00"))
    assert(run(col("d") >= mid)._1 === oracle(col("d") >= mid))
    assert(run(col("d") <= mid)._1 === oracle(col("d") <= mid))
    // TIMESTAMP column vs DATE literal — cast(ts as date) = d covers
    // the whole day's instants
    val day = lit(java.sql.Date.valueOf("2021-06-03"))
    val (eqRows, eqFiles) = run(col("ts").cast("date") === day)
    assert(eqRows === oracle(col("ts").cast("date") === day) && eqRows.nonEmpty)
    assert(eqFiles < live, s"ts-vs-date must prune ($eqFiles of $live)")
    val (deRows, _) = run(col("ts").cast("date") >= day)
    assert(deRows === oracle(col("ts").cast("date") >= day))
    // FileIndex-level pins (independent of what Catalyst unwraps):
    locally {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualNullSafe, EqualTo, GreaterThanOrEqual, IsNull, Literal, Not}
      import org.apache.spark.sql.types._
      val p = new org.apache.hadoop.fs.Path(t)
      def idx(stats: Map[String, (Option[String], Option[String])],
              dt: DataType) = {
        val st = new org.apache.hadoop.fs.FileStatus(
          4L, false, 1, 1L, 0L, new org.apache.hadoop.fs.Path(p, "b0/f0.parquet"))
        new graft.streaming.ZoneMapFileIndex(
          p, Seq((st, "b0/f0.parquet")),
          Map("b0/f0.parquet" -> stats.map { case (k, v) => k -> v }),
          StructType(Seq(StructField("c", dt))))
      }
      def kept(i: graft.streaming.ZoneMapFileIndex,
               e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
        i.listFiles(Nil, Seq(e)).head.files.nonEmpty
      val intIdx = idx(Map("c" -> ((Some("0"), Some("100"))),
        "__nl_c" -> ((Some("0"), Some("0")))), // the null-count pseudo-column
        IntegerType)
      val c = AttributeReference("c", IntegerType)()
      // widening-cast range: bigint literal above the recorded max
      // prunes; clamping an over-range literal stays sound (no int can
      // satisfy >= 5e9, so pruning the file is correct)
      assert(!kept(intIdx, GreaterThanOrEqual(
        Cast(c, LongType), Literal(5000000000L))))
      assert(kept(intIdx, GreaterThanOrEqual(
        Cast(c, LongType), Literal(50L))))
      // cast equality on an unrepresentable literal: EMPTY interval
      assert(!kept(intIdx, EqualTo(Cast(c, DoubleType), Literal(3.5))))
      assert(kept(intIdx, EqualTo(Cast(c, DoubleType), Literal(3.0))))
      // Not(IsNull) = IsNotNull semantics; EqualNullSafe = EqualTo
      assert(kept(intIdx, Not(IsNull(c))))
      assert(!kept(intIdx, EqualNullSafe(c, Literal(500, IntegerType))))
      assert(!kept(intIdx, EqualNullSafe(c, Literal(null, IntegerType))),
        "c <=> NULL is IS NULL — a zero-null-count file prunes")
      // LOSSY cast (string column read as int): unsupported pair, the
      // conservative fallback keeps the file
      val sIdx = idx(Map("c" -> ((Some("0"), Some("100")))), StringType)
      val sc = AttributeReference("c", StringType)()
      assert(kept(sIdx, GreaterThanOrEqual(
        Cast(sc, IntegerType), Literal(5000))))
    }
  }

  test("zone maps: timestamp probes render in the recorded stats time zone; NaN never throws at planning") {
    val tzKey = "spark.sql.session.timeZone"
    val origTz = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val t = Files.createTempDirectory("graft-ztz").toString + "/t"
      // 48 hourly rows across two days, written with stats rendered via
      // date_format in the SESSION zone — a UTC-rendered probe would be
      // offset by 4-5 hours and prune files that hold matching rows
      EventStreams.mergeBatchIntoTable(
        (0L until 48L).map(h => (h, 0L)).toDF("k", "__v")
          .withColumn("ts", expr(
            "timestampadd(HOUR, k, timestamp'2021-06-01 00:00:00')"))
          .select("k", "ts", "__v"),
        t, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
        statsCols = Some(Seq("ts")))
      EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L,
        sortBy = Seq("ts"), maxRecordsPerFile = 8)
      val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum
      assert(live === 6)
      val cut = java.sql.Timestamp.valueOf("2021-06-02 04:00:00")
      val got = EventStreams.readUpsertTableScan(spark, t)
        .filter(col("ts") >= lit(cut))
      val gotRows = got.collect().map(_.getLong(0)).sorted.toSeq
      val want = EventStreams.readUpsertTable(spark, t)
        .filter(col("ts") >= lit(cut))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(gotRows === want,
        "a non-UTC session must not prune files holding matching rows")
      val fin = got.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      val nf = fin.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
      assert(nf < live,
        s"the timestamp probe must still prune in a non-UTC session ($nf of $live)")
      // the stats TIME ZONE is a recorded manifest contract: a session
      // under a DIFFERENT zone still reads exactly (probes render in
      // the RECORDED zone), a stats-bearing WRITE under it fails
      // loudly, and a full fold ADOPTS the new zone
      assert(EventStreams.tableStatsTz(spark, t) === Some("America/New_York"))
      spark.conf.set(tzKey, "UTC")
      val crossRows = EventStreams.readUpsertTableScan(spark, t)
        .filter(col("ts") >= lit(cut))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(crossRows === want,
        "a session in a different zone must still read exactly — the " +
          "probe renders in the table's RECORDED stats zone")
      val tzErr = intercept[IllegalArgumentException] {
        EventStreams.mergeBatchIntoTable(
          Seq((99L, 0L)).toDF("k", "__v")
            .withColumn("ts", expr("timestamp'2021-06-03 00:00:00'"))
            .select("k", "ts", "__v"),
          t, Seq("k"), "__v", nBuckets = 1, batchId = 2L)
      }
      assert(tzErr.getMessage.contains("ONE zone"))
      EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 2L,
        sortBy = Seq("ts"), maxRecordsPerFile = 8)
      assert(EventStreams.tableStatsTz(spark, t) === Some("UTC"),
        "a full fold recomputes every file's stats and adopts the session zone")
      EventStreams.mergeBatchIntoTable(
        Seq((99L, 0L)).toDF("k", "__v")
          .withColumn("ts", expr("timestamp'2021-06-03 00:00:00'"))
          .select("k", "ts", "__v"),
        t, Seq("k"), "__v", nBuckets = 1, batchId = 3L)
      assert(EventStreams.readUpsertTable(spark, t).count() === 49L)
    } finally spark.conf.set(tzKey, origTz)
    // NaN/Infinity: a non-finite pushed literal extracts no bound (the
    // scan stays exact), and NaN VALUES in a stats column never break
    // statCompare — both paths previously threw NumberFormatException
    // during scan planning
    val td = Files.createTempDirectory("graft-znan").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      ((0L until 8L).map(k => (k, k * 1.0)) ++ Seq((8L, Double.NaN)))
        .toDF("k", "x").withColumn("__v", lit(0L)),
      td, Seq("k"), "__v", nBuckets = 1, batchId = 0L,
      statsCols = Some(Seq("x")))
    EventStreams.compactUpsertTable(spark, td, Seq("k"), 1, 1L,
      sortBy = Seq("x"), maxRecordsPerFile = 3)
    val scan = EventStreams.readUpsertTableScan(spark, td)
    // Spark's NaN semantics: NaN = NaN is true — row 8 must come back
    assert(scan.filter(col("x") === Double.NaN)
      .select("k").collect().map(_.getLong(0)).toSeq === Seq(8L))
    assert(scan.filter(col("x") === Double.PositiveInfinity).isEmpty)
    // a finite probe against a file whose recorded max is "NaN"
    assert(scan.filter(col("x") >= 6.0)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(6L, 7L, 8L))
  }

  test("rollup view: a crash after the delete half (or after both halves) replays cleanly") {
    import EventStreams.RollupSpec
    val base = Files.createTempDirectory("graft-rureplay").toString
    val (src, ru) = (s"$base/src", s"$base/ru")
    val spec = RollupSpec(Seq("grp"), Seq("x"))
    def merge(rs: Seq[(Long, String, Double, Long)], id: Long) =
      EventStreams.mergeBatchIntoTable(rs.toDF("k", "grp", "x", "__v"),
        src, Seq("k"), "__v", nBuckets = 4, batchId = id, retain = 8)
    def converged(): Unit = {
      val got = EventStreams.readUpsertTable(spark, ru)
        .select("grp", "n_rows", "sum_x")
      val want = EventStreams.rollupAggregate(
        EventStreams.readUpsertTable(spark, src), spec)
      assert(got.exceptAll(want).union(want.exceptAll(got)).isEmpty,
        "the incremental view must equal the full recompute")
    }
    merge((0L until 9L).map(k => (k, s"g${k % 3}", k * 1.0, 0L)), 0L)
    val from = EventStreams.seedRollupFromSnapshot(spark, src, ru, "ru", spec,
      nBuckets = 2, retain = 1)
    // window: g2 empties (keys 2, 5, 8 deleted) and g0 updates
    merge(Seq((0L, "g0", 50.0, 1L)), 1L)
    EventStreams.deleteFromTable(spark, src, Seq(2L, 5L, 8L).toDF("k"),
      Seq("k"), nBuckets = 4, batchId = 2L, retain = 8)
    val to = EventStreams.latestCommittedBatchId(spark, src).get
    // SIMULATED CRASH #1 (ADVICE r14): the first attempt committed the
    // DELETE half (batchId 2*to kills the emptied group's row) and died
    // before the merge and the cursor advance. The replay used to read
    // the mid-window rollup state, compute a negative n_rows for g2 and
    // wedge forever on the divergence guard.
    EventStreams.deleteFromTable(spark, ru, Seq("g2").toDF("grp"),
      Seq("grp"), nBuckets = 2, batchId = 2 * to, retain = 2)
    val r = EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2).get
    assert(r === ((from, to, 1L, 1L)), s"replayed window verdict: $r")
    converged()
    assert(EventStreams.feedCursor(spark, src, "ru") === Some(to))
    // SIMULATED CRASH #2: both halves committed, crash before the
    // cursor advance — rewind the cursor pin and replay the window
    EventStreams.unpinBatch(spark, src, s"feed.ru.$to")
    EventStreams.pinBatch(spark, src, s"feed.ru.$from", from)
    val r2 = EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2).get
    assert(r2 === ((from, to, 1L, 1L)),
      s"a full replay must recompute the same verdict: $r2")
    converged()
    assert(EventStreams.feedCursor(spark, src, "ru") === Some(to))
    // and the view keeps working after the replays
    merge(Seq((9L, "g2", 4.0, 0L)), 3L)
    assert(EventStreams.syncRollupFromFeed(spark, src, ru, "ru", spec,
      nBuckets = 2).isDefined)
    converged()
  }

  test("optimistic concurrency: disjoint-bucket writers both land; overlap and folds stay loud") {
    val t = Files.createTempDirectory("graft-occ").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 4, batchId = 0L, retain = 8,
      statsCols = Some(Seq("n")))
    // two keys provably in different buckets (the writer's own hash)
    val bks = (0L until 16L).toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(4)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kA = 0L
    val kB = bks.find(_._2 != bks(kA)).get._1
    def rowOf(k: Long): Long = EventStreams.readUpsertTable(spark, t)
      .filter(col("k") === k).select("n").head().getLong(0)
    // WRITER A (id 2) updates kA; its commit hook runs WRITER B (id 1,
    // kB — a different bucket) to completion first, so A's publish
    // finds the head moved and must REBASE. B's post-commit sweep runs
    // while A's generation is staged — the in-flight token must
    // protect it.
    var interleaved = false
    EventStreams.mergeBatchIntoTable(
      Seq((kA, 111L, 1L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 2L, retain = 8,
      beforeCommit = () => if (!interleaved) {
        interleaved = true
        EventStreams.mergeBatchIntoTable(
          Seq((kB, 222L, 1L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
          nBuckets = 4, batchId = 1L, retain = 8)
      })
    assert(interleaved)
    // BOTH writers' rows landed — neither commit was lost
    assert(rowOf(kA) === 111L, "the rebased writer's row must land")
    assert(rowOf(kB) === 222L, "the interleaved writer's row must survive the rebase")
    assert(EventStreams.readUpsertTable(spark, t).count() === 16L)
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(2L))
    // the staging tokens are all released and fsck is green after the race
    val fsp = new org.apache.hadoop.fs.Path(s"$t/_inflight")
    val fs = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(fsp) || fs.listStatus(fsp).isEmpty,
      "both commits must release their in-flight tokens")
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)),
      "fsck must be green after the rebased commit")
    // OVERLAP stays loud: writer C (id 4) and its hook-run interloper D
    // (id 3) touch the SAME key — C must die on the lost-update guard
    var overlapRan = false
    val err = intercept[IllegalStateException] {
      EventStreams.mergeBatchIntoTable(
        Seq((kA, 333L, 2L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
        nBuckets = 4, batchId = 4L, retain = 8,
        beforeCommit = () => if (!overlapRan) {
          overlapRan = true
          EventStreams.mergeBatchIntoTable(
            Seq((kA, 444L, 2L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
            nBuckets = 4, batchId = 3L, retain = 8)
        })
    }
    assert(err.getMessage.contains("cannot rebase"))
    assert(rowOf(kA) === 444L, "the interloper's committed row holds")
    // the documented recovery: RE-DRIVE the same batchId on the new
    // snapshot — the replay restages (adopting its own leftover
    // generation + token) and lands cleanly
    EventStreams.mergeBatchIntoTable(
      Seq((kA, 333L, 3L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 4L, retain = 8)
    assert(rowOf(kA) === 333L)
    assert(!fs.exists(fsp) || fs.listStatus(fsp).isEmpty)
    // a FOLD rewrites every bucket: a merge racing it can never rebase
    var foldRan = false
    val err2 = intercept[IllegalStateException] {
      EventStreams.mergeBatchIntoTable(
        Seq((kB, 555L, 4L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
        nBuckets = 4, batchId = 6L, retain = 8,
        beforeCommit = () => if (!foldRan) {
          foldRan = true
          EventStreams.compactUpsertTable(spark, t, Seq("k"), 4, 5L, retain = 8)
        })
    }
    assert(err2.getMessage.contains("cannot rebase"))
    EventStreams.mergeBatchIntoTable(
      Seq((kB, 555L, 4L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 6L, retain = 8)
    assert(rowOf(kB) === 555L)
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // disjoint DELETE rebases the same way: writer E (id 8) deletes kA
    // while the hook-run F (id 7) merges kB
    var delRan = false
    EventStreams.deleteFromTable(spark, t, Seq(kA).toDF("k"), Seq("k"),
      nBuckets = 4, batchId = 8L, retain = 8,
      beforeCommit = () => if (!delRan) {
        delRan = true
        EventStreams.mergeBatchIntoTable(
          Seq((kB, 666L, 5L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
          nBuckets = 4, batchId = 7L, retain = 8)
      })
    assert(EventStreams.readUpsertTable(spark, t)
      .filter(col("k") === kA).isEmpty, "the rebased delete must land")
    assert(rowOf(kB) === 666L, "the interleaved merge must survive the delete's rebase")
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // RESURRECTION PIN: the interloper EMPTIES a whole bucket (its
    // manifest entry vanishes) while our merge rebases onto it — the
    // rebase must mirror the head's ABSENCE, not overlay our stale
    // base pointer and resurrect the deleted rows
    val bVictim = bks(kB)
    val victims = bks.collect { case (k, b) if b == bVictim => k }.toSeq
    var emptyRan = false
    EventStreams.mergeBatchIntoTable(
      Seq((kA, 777L, 6L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 10L, retain = 8,
      beforeCommit = () => if (!emptyRan) {
        emptyRan = true
        EventStreams.deleteFromTable(spark, t, victims.toDF("k"), Seq("k"),
          nBuckets = 4, batchId = 9L, retain = 8)
      })
    assert(emptyRan)
    assert(rowOf(kA) === 777L)
    assert(EventStreams.readUpsertTable(spark, t)
      .filter(col("k").isin(victims: _*)).isEmpty,
      "the interloper's emptied bucket must STAY empty through the rebase")
    val fsckRows = EventStreams.fsckUpsertTable(spark, t).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(fsckRows.forall(_._2), s"fsck after the rebase: $fsckRows")
  }

  test("commit sequencer: the double-pass race cannot silently drop a commit (r15 TOCTOU closed)") {
    val t = Files.createTempDirectory("graft-seq").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 4, batchId = 0L, retain = 8)
    val bks = (0L until 16L).toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(4)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kA = 0L
    val kB = bks.find(_._2 != bks(kA)).get._1
    def rowOf(k: Long): Long = EventStreams.readUpsertTable(spark, t)
      .filter(col("k") === k).select("n").head().getLong(0)
    // WRITER A (id 2): the beforeRename seam fires AFTER A's publish
    // passed the head re-check — the exact instant the r15 rebase loop
    // left unguarded. The seam runs WRITER B (id 1, disjoint bucket) to
    // FULL completion on the SAME base: pre-sequencer, A's rename would
    // land over B's commit and B's bucket pointers would silently
    // vanish from the latest snapshot until fsck. The parent token's
    // under-token re-check must push A through the rebase instead.
    var raced = false
    EventStreams.mergeBatchIntoTable(
      Seq((kA, 111L, 1L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 2L, retain = 8,
      beforeRename = () => if (!raced) {
        raced = true
        EventStreams.mergeBatchIntoTable(
          Seq((kB, 222L, 1L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
          nBuckets = 4, batchId = 1L, retain = 8)
      })
    assert(raced, "the race seam must have provoked the interleaving")
    assert(rowOf(kA) === 111L && rowOf(kB) === 222L,
      "NEITHER double-pass writer's commit may be dropped")
    assert(EventStreams.readUpsertTable(spark, t).count() === 16L)
    // A's own committed snapshot carries B's bucket — nothing omitted —
    // and records the TRUE parent (B's id), proving A went through the
    // rebase rather than renaming over B
    val snapA = EventStreams.readUpsertTableAt(spark, t, 2L)
    assert(snapA.filter(col("k") === kB).select("n").head().getLong(0) === 222L)
    val baseTags = EventStreams.tableHistory(spark, t)
      .select("batch_id", "base").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(baseTags(2L) === 1L, "the raced writer must have rebased onto the winner")
    // end state: fsck green, no commit tokens left behind
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    val tokDir = new org.apache.hadoop.fs.Path(s"$t/_manifests/_commit")
    val fs = tokDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(tokDir) || fs.listStatus(tokDir).isEmpty,
      "every commit must release its parent token")
    // CRASHED-HOLDER discipline (the run-lock convention): a stale
    // PRE-RENAME token (holder id never committed) fails a different
    // writer loudly with the remediation; the holder's own replay
    // ADOPTS the token and lands; the failed id re-drives cleanly.
    fs.mkdirs(tokDir)
    val stale = new org.apache.hadoop.fs.Path(tokDir, f"${2L}%020d")
    val out = fs.create(stale, false)
    out.write("3".getBytes("UTF-8")); out.close()
    // fsck SEES the pending token (informational, never red)
    val withToken = EventStreams.fsckUpsertTable(spark, t).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(withToken("commit_tokens") === ((true, 1L)))
    assert(withToken.values.forall(_._1))
    val err = intercept[IllegalStateException] {
      EventStreams.mergeBatchIntoTable(
        Seq((kA, 333L, 2L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
        nBuckets = 4, batchId = 4L, retain = 8)
    }
    assert(err.getMessage.contains("commit sequencer") &&
      err.getMessage.contains("Replay the holder's batch"),
      s"contended writers must fail loudly with the remediation: ${err.getMessage}")
    EventStreams.mergeBatchIntoTable( // the holder's replay adopts
      Seq((kB, 444L, 2L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 3L, retain = 8)
    assert(rowOf(kB) === 444L)
    assert(!fs.exists(stale), "the adopted token must release on commit")
    EventStreams.mergeBatchIntoTable( // the failed id's re-drive lands
      Seq((kA, 333L, 2L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 4L, retain = 8)
    assert(rowOf(kA) === 333L)
    // a stale POST-RENAME token (holder's id IS committed) is litter —
    // the next contender collects it and commits
    val litter = new org.apache.hadoop.fs.Path(tokDir, f"${4L}%020d")
    val out2 = fs.create(litter, false)
    out2.write("3".getBytes("UTF-8")); out2.close() // 3 already committed
    EventStreams.mergeBatchIntoTable(
      Seq((kA, 555L, 3L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 4, batchId = 5L, retain = 8)
    assert(rowOf(kA) === 555L)
    assert(!fs.exists(litter), "a committed holder's token is collected")
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    assert(!fs.exists(tokDir) || fs.listStatus(tokDir).isEmpty)
  }

  test("column rename via stable ids: metadata-only commit; reads translate; time travel keeps the old name; the fold materializes") {
    val t = Files.createTempDirectory("graft-ren").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 32L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L, retain = 8,
      statsCols = Some(Seq("n")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 1L, retain = 8,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    val filesBefore = EventStreams.tableManifest(spark, t).values.flatten.toSet
    // the rename is METADATA ONLY: same live files, new logical name
    EventStreams.renameColumn(spark, t, "n", "metric", 2L)
    assert(EventStreams.tableManifest(spark, t).values.flatten.toSet ===
      filesBefore, "a rename must move zero data")
    val renamed = EventStreams.readUpsertTable(spark, t)
    assert(renamed.columns.toSeq === Seq("k", "metric", "__v"))
    assert(renamed.filter(col("k") === 7L).select("metric").head().getLong(0) === 70L)
    // replayed rename no-ops
    EventStreams.renameColumn(spark, t, "n", "metric", 2L)
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(2L))
    def scanned(c: org.apache.spark.sql.Column): (Seq[Long], Long) = {
      val d = EventStreams.readUpsertTableScan(spark, t).filter(c)
      val rows = d.collect().map(_.getLong(0)).sorted.toSeq
      val fin = d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case o => o
      }
      // SUM across scan nodes: a renamed-unfolded table plans one scan
      // per era
      (rows, fin.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum)
    }
    val live = EventStreams.tableManifest(spark, t).values.map(_.size).sum.toLong
    // pruned reads prune THROUGH the rename: the probe arrives on the
    // new name, the old files' stats are recorded under the old one —
    // the per-era projection pushdown reconciles them
    val (pr, pf) = scanned(col("metric") <= 155L)
    assert(pr === (0L to 15L).toSeq)
    assert(pf < live, s"the renamed probe must still prune ($pf of $live)")
    // a post-rename merge writes NEW-era files into ONE bucket — the
    // other bucket's old-era files stay live, so the read and the scan
    // must union the eras. (An eager merge rewrites whole touched
    // buckets, so keys are chosen to share k=7's bucket.)
    val bks = (0L until 200L).toDF("k")
      .withColumn("b", pmod(hash(col("k")), lit(2)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kNew = (100L until 200L).find(k => bks(k) == bks(7L)).get
    EventStreams.mergeBatchIntoTable(
      Seq((kNew, 9999L, 1L), (7L, 71L, 1L)).toDF("k", "metric", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 3L, retain = 8)
    val both = EventStreams.readUpsertTable(spark, t)
    assert(both.count() === 33L)
    assert(both.filter(col("k") === 7L).select("metric").head().getLong(0) === 71L)
    val (xr, xf) = scanned(col("metric") <= 155L)
    assert(xr === (0L to 15L).toSeq, s"cross-era scan rows: $xr")
    assert(xr.contains(7L) && !xr.contains(kNew))
    val liveNow = EventStreams.tableManifest(spark, t).values.map(_.size).sum.toLong
    assert(xf < liveNow, s"cross-era scan must prune ($xf of $liveNow)")
    // TIME TRAVEL below the rename reads the OLD name — history is
    // immutable, schema included
    val at1 = EventStreams.readUpsertTableAt(spark, t, 1L)
    assert(at1.columns.toSeq === Seq("k", "n", "__v"),
      "the pre-rename snapshot must serve the old name")
    assert(at1.filter(col("k") === 7L).select("n").head().getLong(0) === 70L)
    // the V2/SQL surface refuses the unmaterialized rename loudly
    val sqlErr = intercept[Exception] {
      spark.read.format("graft").load(t).collect()
    }
    assert((sqlErr.getMessage +
      Option(sqlErr.getCause).map(_.getMessage).getOrElse(""))
      .contains("unmaterialized"),
      s"DSv2 must name the remediation: ${sqlErr.getMessage}")
    // fsck green with the rename pending
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // the FOLD MATERIALIZES: files rewrite under current names,
    // histories truncate, single-era fast paths return (including SQL)
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 4L, retain = 8,
      sortBy = Seq("metric"), maxRecordsPerFile = 4)
    assert(EventStreams.tableColIds(spark, t).get.values.forall(_.size == 1),
      "the fold must truncate the name histories")
    val (fr, ff) = scanned(col("metric") <= 155L)
    val liveF = EventStreams.tableManifest(spark, t).values.map(_.size).sum.toLong
    assert(fr === xr && ff < liveF)
    assert(spark.read.format("graft").load(t).count() === 33L,
      "SQL serves the materialized table")
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // KEY columns rename too: contracts follow, later merges use the
    // new key name
    EventStreams.renameColumn(spark, t, "k", "doc_key", 5L)
    assert(EventStreams.tableKeyedBy(spark, t) === Some(Seq("doc_key")))
    EventStreams.mergeBatchIntoTable(
      Seq((200L, 1L, 2L)).toDF("doc_key", "metric", "__v"),
      t, Seq("doc_key"), "__v", nBuckets = 2, batchId = 6L, retain = 8)
    assert(EventStreams.readUpsertTable(spark, t).count() === 34L)
    assert(EventStreams.readUpsertTable(spark, t)
      .filter(col("doc_key") === 7L).select("metric").head().getLong(0) === 71L)
  }

  test("rename on a DELTA table: the reconcile spec renames with the column; reads stay exact") {
    val t = Files.createTempDirectory("graft-rendelta").toString + "/t"
    def merge(rows: Seq[(Long, Long, Long)], id: Long, cols: (String, String, String)) =
      EventStreams.mergeBatchIntoTable(
        rows.toDF(cols._1, cols._2, cols._3), t,
        Seq(cols._1), cols._3, nBuckets = 2, batchId = id, retain = 8,
        delta = true)
    merge((0L until 8L).map(k => (k, k * 10L, 0L)), 0L, ("k", "n", "__v"))
    merge(Seq((3L, 999L, 1L)), 1L, ("k", "n", "__v")) // delta update
    // rename BOTH a value column and the VERSION column mid-delta
    EventStreams.renameColumn(spark, t, "n", "metric", 2L)
    EventStreams.renameColumn(spark, t, "__v", "rev", 3L)
    assert(EventStreams.tableKeyedBy(spark, t) === Some(Seq("k")))
    val reconciled = EventStreams.readUpsertTable(spark, t)
    assert(reconciled.columns.toSeq === Seq("k", "metric", "rev"))
    assert(reconciled.count() === 8L)
    assert(reconciled.filter(col("k") === 3L)
      .select("metric").head().getLong(0) === 999L,
      "the delta winner must survive the renames")
    // a post-rename delta merge under the NEW names stacks and wins
    merge(Seq((3L, 1234L, 2L)), 4L, ("k", "metric", "rev"))
    assert(EventStreams.readUpsertTable(spark, t).filter(col("k") === 3L)
      .select("metric").head().getLong(0) === 1234L)
    // the fold materializes: plain scan path returns, values intact
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 5L, retain = 8)
    val folded = EventStreams.readUpsertTable(spark, t)
    assert(folded.columns.toSeq === Seq("k", "metric", "rev"))
    assert(folded.filter(col("k") === 3L)
      .select("metric").head().getLong(0) === 1234L)
    assert(EventStreams.tableColIds(spark, t).get.values.forall(_.size == 1))
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
  }

  test("predicate delete on a renamed-unfolded table: colIds survives, boundaries translate, fsck green") {
    val t = Files.createTempDirectory("graft-rendel").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 32L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 1, batchId = 0L, retain = 8,
      statsCols = Some(Seq("n")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 1L, retain = 8,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    EventStreams.renameColumn(spark, t, "n", "metric", 2L)
    // the delete bounds the NEW name over OLD-era files: stats under
    // the old name give no coverage proof (conservative rewrite), the
    // boundary read must translate, and the colIds contract must ride
    // the delete commit — before round 16's fix the commit DROPPED it
    // and every later read reverted to physical names
    val rep = EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(EventStreams.ColBound("metric", Some("200"), None)),
      batchId = 3L, retain = 8)
    assert(rep.isDefined)
    val after = EventStreams.readUpsertTable(spark, t)
    assert(after.columns.toSeq === Seq("k", "metric", "__v"),
      "the rename contract must survive the predicate delete")
    assert(after.count() === 20L)
    assert(after.agg(max(col("metric"))).head().getLong(0) === 190L)
    assert(EventStreams.tableColIds(spark, t).exists(_.values.exists(_.size > 1)))
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // and the materializing fold still works afterwards
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 1, 4L, retain = 8,
      sortBy = Seq("metric"), maxRecordsPerFile = 4)
    assert(EventStreams.readUpsertTable(spark, t).count() === 20L)
    assert(EventStreams.tableColIds(spark, t).get.values.forall(_.size == 1))
  }

  test("column drop via stable ids: metadata-only; reads project away; time travel keeps it; fold materializes") {
    val t = Files.createTempDirectory("graft-drop").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 16L).map(k => (k, k * 10L, s"aux$k", 0L))
        .toDF("k", "n", "aux", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L, retain = 8,
      statsCols = Some(Seq("n", "aux")))
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 1L, retain = 8,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    val filesBefore = EventStreams.tableManifest(spark, t).values.flatten.toSet
    EventStreams.dropColumn(spark, t, "aux", 2L)
    assert(EventStreams.tableManifest(spark, t).values.flatten.toSet ===
      filesBefore, "a drop must move zero data")
    assert(EventStreams.readUpsertTable(spark, t).columns.toSeq ===
      Seq("k", "n", "__v"))
    // the stats contract shed the dropped column
    assert(EventStreams.tableStatsCols(spark, t) === Some(Seq("n")))
    // time travel below the drop still serves it
    assert(EventStreams.readUpsertTableAt(spark, t, 1L)
      .columns.contains("aux"))
    // merges continue under the narrowed schema; the union read and
    // the pruned scan both stay exact across the eras
    EventStreams.mergeBatchIntoTable(
      Seq((100L, 5L, 1L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 3L, retain = 8)
    assert(EventStreams.readUpsertTable(spark, t).count() === 17L)
    val d = EventStreams.readUpsertTableScan(spark, t).filter(col("n") <= 35L)
    val rows = d.collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === Seq(0L, 1L, 2L, 3L, 100L))
    assert(!d.columns.contains("aux"))
    // guards: key columns refuse
    val keyErr = intercept[IllegalArgumentException] {
      EventStreams.dropColumn(spark, t, "k", 4L)
    }
    assert(keyErr.getMessage.contains("key"))
    // the fold materializes: tombstone leaves the contract, SQL serves
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 4L, retain = 8,
      sortBy = Seq("n"), maxRecordsPerFile = 4)
    assert(EventStreams.tableColIds(spark, t)
      .forall(_.values.forall(h => h.size == 1 && h.head._1.nonEmpty)))
    assert(spark.read.format("graft").load(t).columns.toSeq ===
      Seq("k", "n", "__v"))
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
  }

  test("rename chains through a reused name translate as ONE projection; fresh-name ambiguity refuses") {
    // rename b -> c, then a -> b: one old era's map is {a->b, b->c} —
    // the sequential withColumnRenamed application was order-dependent
    // (a->b first made the fresh b eligible for b->c, duplicating
    // columns); the single-select projection resolves each physical
    // column exactly once (ADVICE r16)
    val t = Files.createTempDirectory("graft-renchain").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 8L).map(k => (k, k * 10L, k * 100L, 0L))
        .toDF("k", "a", "b", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L, retain = 8,
      statsCols = Some(Seq("a", "b")))
    EventStreams.renameColumn(spark, t, "b", "c", 1L)
    EventStreams.renameColumn(spark, t, "a", "b", 2L)
    val r = EventStreams.readUpsertTable(spark, t)
    assert(r.columns.toSeq.sorted === Seq("__v", "b", "c", "k"))
    val row7 = r.filter(col("k") === 7L).select("b", "c").head()
    assert(row7.getLong(0) === 70L && row7.getLong(1) === 700L,
      "b must carry a's data and c must carry b's — exactly once each")
    // the scan surface unions/translates identically
    val s = EventStreams.readUpsertTableScan(spark, t)
      .filter(col("k") === 7L).select("b", "c").head()
    assert(s.getLong(0) === 70L && s.getLong(1) === 700L)
    // ALL live files are old-era: one group, nonempty rename map — the
    // one-relation V2 surface must refuse, not serve physical names
    val err = intercept[Exception] {
      spark.read.format("graft").load(t).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage)
      .getOrElse("")).contains("unmaterialized"),
      s"a pending one-era rename must refuse on the V2 surface: " +
        s"${err.getMessage}")
    // the fold materializes the chain; V2 then serves current names
    EventStreams.compactUpsertTable(spark, t, Seq("k"), 2, 3L, retain = 8,
      sortBy = Seq("b"), maxRecordsPerFile = 4)
    val v2 = spark.read.format("graft").load(t)
    assert(v2.columns.toSeq.sorted === Seq("__v", "b", "c", "k"))
    assert(v2.filter(col("k") === 7L).select("b").head().getLong(0) === 70L)
    assert(EventStreams.fsckUpsertTable(spark, t).collect().forall(_.getBoolean(1)))
    // drop-then-re-add-then-rename: the re-added name's old-era files
    // belonged to a DIFFERENT (tombstoned) id — renaming it would make
    // the era attribution ambiguous; refuse until a fold truncates
    val td = Files.createTempDirectory("graft-renamb").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 4L).map(k => (k, s"x$k", 0L)).toDF("k", "aux", "__v"),
      td, Seq("k"), "__v", nBuckets = 1, batchId = 0L, retain = 8)
    EventStreams.dropColumn(spark, td, "aux", 1L)
    EventStreams.mergeBatchIntoTable(
      (0L until 4L).map(k => (k, s"y$k", 1L)).toDF("k", "aux", "__v"),
      td, Seq("k"), "__v", nBuckets = 1, batchId = 2L, retain = 8)
    val ambErr = intercept[IllegalArgumentException] {
      EventStreams.renameColumn(spark, td, "aux", "score", 3L)
    }
    assert(ambErr.getMessage.contains("DIFFERENT column"),
      s"re-added-name rename must refuse: ${ambErr.getMessage}")
    EventStreams.compactUpsertTable(spark, td, Seq("k"), 1, 3L, retain = 8)
    EventStreams.renameColumn(spark, td, "aux", "score", 4L)
    assert(EventStreams.readUpsertTable(spark, td)
      .filter(col("k") === 2L).select("score").head().getString(0) === "y2")
  }

  test("readStream.format(graft): the change feed streams in bounded commit windows, resumes from the cursor") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-feedstream").toString
    val t = s"$base/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 8L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L, retain = 8)
    EventStreams.mergeBatchIntoTable(
      Seq((3L, 333L, 1L), (100L, 1000L, 1L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 1L, retain = 8)
    EventStreams.deleteFromTable(spark, t, Seq(5L).toDF("k"), Seq("k"),
      nBuckets = 2, batchId = 2L, retain = 8)
    val ckpt = s"$base/ckpt"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, String)])]
    def drain(): Int = {
      val before = got.size
      val q = spark.readStream.format("graft")
        .option("feed", "changes")
        .option("startingBatchId", "0")
        .option("maxCommitsPerTrigger", "1")
        .load(t)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          got += id -> df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getString(3))).sorted.toSeq
          ()
        }
        .start()
      q.awaitTermination()
      got.size - before
    }
    // the backlog (commits 1 and 2 above base 0) drains in BOUNDED
    // one-commit windows, each equal to the batch-diff of that window
    assert(drain() === 2, s"2 one-commit windows expected: $got")
    def windowDiff(from: Long, to: Long): Seq[(Long, Long, String)] =
      EventStreams.readChangeFeed(spark, t, from, Some(to))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
        .sorted.toSeq
    assert(got(0)._2 === windowDiff(0L, 1L),
      "first window must equal the batch diff (0,1]")
    assert(got(1)._2 === windowDiff(1L, 2L))
    assert(got(1)._2.exists(_._3 == "delete"),
      "the delete commit's window must carry the tagged delete row")
    // idle drain: nothing new committed — zero batches (a listing only)
    assert(drain() === 0, s"idle tick must process nothing: $got")
    // the cursor survives restarts: a new commit streams alone
    EventStreams.mergeBatchIntoTable(
      Seq((0L, 7L, 2L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 3L, retain = 8)
    assert(drain() === 1)
    assert(got(2)._2 === windowDiff(2L, 3L))
    // the feed handle is streaming-only; the plain handle is batch-only
    val batchErr = intercept[Exception] {
      spark.read.format("graft").option("feed", "changes").load(t).collect()
    }
    assert(batchErr.getMessage.toLowerCase.contains("batch"),
      s"batch read of the feed handle must refuse: ${batchErr.getMessage}")
    val streamErr = intercept[Exception] {
      spark.readStream.format("graft").load(t)
        .writeStream.option("checkpointLocation", s"$base/ckpt2")
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ())
        .start().awaitTermination()
    }
    assert(streamErr.getMessage.toLowerCase.contains("stream") ||
      Option(streamErr.getCause).exists(_.getMessage.toLowerCase
        .contains("stream")),
      s"streaming the plain handle must refuse: ${streamErr.getMessage}")
  }

  test("deleteUpsertTableWhere can empty the table; later merges recover it") {
    import EventStreams.ColBound
    val t = Files.createTempDirectory("graft-delwe").toString + "/t"
    EventStreams.mergeBatchIntoTable(
      (0L until 6L).map(k => (k, k * 10L, 0L)).toDF("k", "n", "__v"),
      t, Seq("k"), "__v", nBuckets = 2, batchId = 0L,
      statsCols = Some(Seq("n")))
    EventStreams.deleteUpsertTableWhere(spark, t,
      Seq(ColBound("n", None, Some("1000"))), batchId = 1L)
    assert(EventStreams.readUpsertTable(spark, t).count() === 0L,
      "an unbounded-below delete covering every row empties the table")
    assert(EventStreams.readUpsertTable(spark, t).columns.contains("n"),
      "the committed-empty table still carries its schema")
    EventStreams.mergeBatchIntoTable(
      Seq((9L, 90L, 1L)).toDF("k", "n", "__v"), t, Seq("k"), "__v",
      nBuckets = 2, batchId = 2L)
    assert(EventStreams.readUpsertTable(spark, t).count() === 1L)
  }

  /** Rows of a frame as a sorted multiset of their string renderings,
    * columns taken in `cols` order.
    */
  private def multiset(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("eager merge shape: one exchange on the bucket, one file per bucket, exact zone maps, pinned job count") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val t = Files.createTempDirectory("graft-shape").toString + "/t"
    def rows(ks: Range, v: Long) = ks.map(k =>
      (k.toLong, if (k % 7 == 0) null else s"p$k-$v", v)).toDF("k", "payload", "version")
    EventStreams.mergeBatchIntoTable(rows(0 until 400, 0L), t, Seq("k"), "version",
      nBuckets = 8, batchId = 1L, statsCols = Some(Seq("k", "payload")))
    // corrections of existing keys plus new keys, every bucket touched
    val JobTrace.Detail(jobs, writePlans, scans) = JobTrace.detail(spark) {
      EventStreams.mergeBatchIntoTable(rows(300 until 500, 1L), t, Seq("k"), "version",
        nBuckets = 8, batchId = 2L)
    }
    // the Spark-job count of an eager merge into a stats-contracted
    // table: touched-bucket probe (one job over the raw batch),
    // current-file schema inference, the single exchange's map stage and
    // the write — no merge-aggregate stage of its own, no re-shuffle, and
    // no zone-map read-back: the write tasks compute the stats
    assert(jobs.size === 4, s"eager merge launched jobs ${jobs.mkString(",")}")
    assert(!scans.exists(_.contains("/gen_2/")),
      s"no query of the merge may read its own fresh files: ${scans.filter(_.contains("/gen_2/"))}")
    assert(writePlans.size === 1, "exactly one data write per merge")
    val helper = new AdaptiveSparkPlanHelper {}
    val exchanges = helper.collect(writePlans.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"current ∪ batch must cross ONE exchange: $exchanges")
    exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(a: org.apache.spark.sql.catalyst.expressions.Attribute), n) =>
        assert(a.name === EventStreams.upsertBucketCol)
        assert(n === math.min(8, spark.sparkContext.defaultParallelism))
      case other => fail(s"the exchange must hash on the bucket alone: $other")
    }
    val live = EventStreams.tableManifest(spark, t)
    assert(live.keySet === (0 until 8).toSet)
    live.foreach { case (b, fls) =>
      assert(fls.size === 1 && fls.head.startsWith(s"gen_2/${EventStreams.upsertBucketCol}=$b/"),
        s"bucket $b must hold exactly one fresh file: $fls")
    }
    // recorded zone maps == a plain read-back of each fresh file
    val stats = EventStreams.tableFileStats(spark, t)
    live.values.flatten.foreach { rel =>
      val f = new java.io.File(t, rel)
      val r = spark.read.parquet(f.toString).agg(count(lit(1)).cast("string"),
        count(when(col("payload").isNull, 1)).cast("string"),
        count(when(col("k").isNull, 1)).cast("string"),
        min("k").cast("string"), max("k").cast("string"),
        min("payload"), max("payload")).head()
      def s(i: Int) = Option(r.getString(i))
      val want = Map("__rows" -> (s(0), s(0)), "__nl_payload" -> (s(1), s(1)),
        "__nl_k" -> (s(2), s(2)), "k" -> (s(3), s(4)), "payload" -> (s(5), s(6)),
        "__bytes" -> (Some(f.length.toString), Some(f.length.toString)))
      assert(stats(rel) === want, s"zone maps of $rel")
    }
    assert(multiset(EventStreams.readUpsertTable(spark, t), Seq("k", "payload", "version")) ===
      multiset(rows(0 until 300, 0L).unionByName(rows(300 until 500, 1L)),
        Seq("k", "payload", "version")))
  }

  test("compaction shape: one write, no read-back of its fresh files, pinned job count") {
    val t = Files.createTempDirectory("graft-cshape").toString + "/t"
    def rows(ks: Range, v: Long) = ks.map(k =>
      (k.toLong, if (k % 7 == 0) null else s"p$k-$v", v)).toDF("k", "payload", "version")
    EventStreams.mergeBatchIntoTable(rows(0 until 400, 0L), t, Seq("k"), "version",
      nBuckets = 8, batchId = 1L, statsCols = Some(Seq("k", "payload")))
    EventStreams.mergeBatchIntoTable(rows(300 until 500, 1L), t, Seq("k"), "version",
      nBuckets = 8, batchId = 2L)
    val JobTrace.Detail(jobs, writePlans, scans) = JobTrace.detail(spark) {
      EventStreams.compactUpsertTable(spark, t, Seq("k"), nBuckets = 8, batchId = 3L,
        sortBy = Seq("k"), maxRecordsPerFile = 40)
    }
    // live-file schema inference, the bucket exchange's map stage and the
    // write; the zone maps come from the write tasks (the read-back's map
    // and result jobs are gone)
    assert(jobs.size === 3, s"compaction launched jobs ${jobs.mkString(",")}")
    assert(writePlans.size === 1, "exactly one data write per compaction")
    assert(!scans.exists(_.contains("/gen_3/")),
      s"no query of the compaction may read its own fresh files: ${scans.filter(_.contains("/gen_3/"))}")
    val live = EventStreams.tableManifest(spark, t)
    assert(live.values.flatten.forall(_.startsWith("gen_3/")) && live.values.exists(_.size > 1))
    assert(multiset(EventStreams.readUpsertTable(spark, t), Seq("k", "payload", "version")) ===
      multiset(rows(0 until 300, 0L).unionByName(rows(300 until 500, 1L)),
        Seq("k", "payload", "version")))
  }

  test("eager merge aggregate: same snapshot multiset as the two-level upsertLatest formula") {
    import graft.operators.Load
    val base = Files.createTempDirectory("graft-parity").toString
    val bucket = EventStreams.upsertBucketCol
    var n = 0
    // merge `batch` into `t` and check the snapshot against the old
    // formula over the previous snapshot: compact the batch, align the
    // current rows to it, keep-latest over the union
    def checkMerge(t: String, batch: org.apache.spark.sql.DataFrame,
                   versionCol: String, id: Long): Unit = {
      val current = EventStreams.readUpsertTable(spark, t)
      val bucketOf = pmod(hash(col("k")), lit(4))
      val toMerge = Load.upsertLatest(batch, batch.limit(0), Seq("k"), versionCol)
        .withColumn(bucket, bucketOf)
      val want = Load.upsertLatest(
        EventStreams.alignTo(current.withColumn(bucket, bucketOf), toMerge, versionCol),
        toMerge, Seq("k"), versionCol)
      // materialized BEFORE the merge: its sweep retires the files `want` reads
      val cols = want.columns.filterNot(_ == bucket).toSeq
      val wantRows = multiset(want, cols)
      EventStreams.mergeBatchIntoTable(batch, t, Seq("k"), versionCol, nBuckets = 4, batchId = id)
      val live = EventStreams.tableManifest(spark, t)
      assert(live.values.flatten.forall(_.startsWith(s"gen_$id/")),
        "the batch must touch every bucket, so the whole snapshot is the merge's output")
      val got = EventStreams.readUpsertTable(spark, t)
      assert(got.columns.toSet === cols.toSet)
      assert(multiset(got, cols) === wantRows, s"merge $id")
      n += 1
    }
    val t = s"$base/t"
    EventStreams.mergeBatchIntoTable((0L until 40L).map(k => (k, s"a$k", 1L))
      .toDF("k", "payload", "version"), t, Seq("k"), "version", nBuckets = 4, batchId = 1L)
    // duplicate keys within one batch (the latest version must win)
    // plus corrections of existing keys, one of them stale
    checkMerge(t, ((0L until 40L).map(k => (k, s"b$k", 2L)) ++
      Seq((3L, "b3-late", 5L), (3L, "b3-mid", 4L), (50L, "new1", 1L), (50L, "new2", 2L),
        (7L, "stale", 0L))).toDF("k", "payload", "version"), "version", 2L)
    // a widening column: current rows default it to NULL
    checkMerge(t, (0L until 40L by 2).map(k => (k, s"c$k", 3L, s"x$k"))
      .toDF("k", "payload", "version", "extra"), "version", 3L)
    // re-versioning onto a NEW column: current rows are adopted at
    // version -1 and lose to any real batch version, beat a lower one
    checkMerge(t, ((0L until 40L by 3).map(k => (k, s"d$k", 3L, s"y$k", 0L)) ++
      Seq((1L, "loses", 3L, "z", -2L))).toDF("k", "payload", "version", "extra", "v2"),
      "v2", 4L)
    assert(n === 3)
  }

  test("shard fan-out: a failed shard write fails the publish by name; readers keep the old snapshot; the replay commits clean") {
    val t = Files.createTempDirectory("graft-shardfail").toString + "/t"
    val cols = Seq("k", "payload", "version")
    def merge(df: org.apache.spark.sql.DataFrame, id: Long,
              hook: Int => Unit = _ => ()): Unit =
      EventStreams.mergeBatchIntoTable(df, t, Seq("k"), "version", nBuckets = 8,
        batchId = id, statsCols = Some(Seq("k")), beforeShardRename = hook)
    val initial = (0L until 64L).map(k => (k, s"a$k", 1L)).toDF(cols: _*)
    merge(initial, 1L)
    val batch = (0L until 64L by 2).map(k => (k, s"b$k", 2L)).toDF(cols: _*)
    val before = multiset(EventStreams.readUpsertTable(spark, t), cols)
    val manifests = new java.io.File(t, "_manifests")
    def lists() = manifests.list().filter(_.endsWith(".json")).sorted.toSeq
    val listsBefore = lists()
    val victim = 3
    val e = intercept[IllegalStateException] {
      merge(batch, 2L, b => if (b == victim) throw new java.io.IOException("injected shard failure"))
    }
    assert(e.getMessage.contains(s"manifest shard write failed for bucket $victim of batch 2"),
      e.getMessage)
    assert(e.getCause.getMessage === "injected shard failure")
    assert(lists() === listsBefore, "a failed shard write must publish no list file")
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(1L))
    assert(multiset(EventStreams.readUpsertTable(spark, t), cols) === before,
      "readers keep the previous snapshot")
    // the replay of the same batchId commits over the failed attempt's debris
    merge(batch, 2L)
    assert(EventStreams.latestCommittedBatchId(spark, t) === Some(2L))
    assert(multiset(EventStreams.readUpsertTable(spark, t), cols) ===
      multiset(initial.filter(col("k") % 2 === 1).unionByName(batch), cols))
    val fsck = EventStreams.fsckUpsertTable(spark, t).collect()
    assert(fsck.forall(_.getBoolean(1)), fsck.mkString("; "))
    assert(fsck.exists(_.getString(0) == "no_orphan_shards"))
    val shardFiles = new java.io.File(manifests, "shards").list().toSeq
    assert(!shardFiles.exists(_.endsWith(".tmp")), s"no staged shard left: $shardFiles")
  }
}
