package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing sweep: every registered query at
  * `$SPARK_GRAFT_SF_DIR`, best-of-3 (best-of-5 for q25/q26), reported on
  * stdout as a full JSON line, with this run's own numbers and
  * canonicalized optimized-plan hashes, then a short summary line. `graft.tools.Run` shares the per-query loop
  * and the plan canonicalization.
  */
object Bench {
  /** DPP filter lines print their conjuncts in rule-application order,
    * which flips run-to-run with identical plans (observed:
    * `isnotnull(x) AND dynamicpruning#0` vs the reverse on q116) — sort
    * the depth-0 conjuncts inside the filter's parens so the hash tracks
    * the PLAN, not optimizer-rule ordering. Scoped to lines mentioning
    * dynamicpruning; all other lines pass through untouched.
    */
  private[graft] def normalizeDppLine(l: String): String = {
    if (!l.contains("dynamicpruning#")) return l
    val open = l.indexOf('(', math.max(0, l.indexOf("Filter")))
    if (open < 0) return l
    var depth = 0; var close = -1; var i = open
    while (i < l.length && close < 0) {
      l(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    if (close < 0) return l
    val inner = l.substring(open + 1, close)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var d = 0; var s = 0; var j = 0
    while (j < inner.length) {
      inner(j) match { case '(' => d += 1; case ')' => d -= 1; case _ => }
      if (d == 0 && inner.startsWith(" AND ", j)) {
        parts += inner.substring(s, j); s = j + 5; j += 5
      } else j += 1
    }
    parts += inner.substring(s)
    l.substring(0, open + 1) + parts.sorted.mkString(" AND ") + l.substring(close)
  }

  /** A canonicalized optimized-plan string with everything that changes
    * per JVM or per run, not per plan, rewritten out, so its hash changes
    * iff the PLAN changes — separates "code reshaped the plan" from
    * scheduler noise when diffing runs:
    *   - typed-Aggregator nodes print object identity (`$$anon$1@1f2e3d`)
    *     and typed ops print lambda hidden-class addresses
    *     (`$$Lambda$2524/0x7f67...`);
    *   - the per-process temp warehouse dir leaks into scan locations
    *     (q116's partitioned table);
    *   - partition COUNTS: a localCheckpoint's LogicalRDD records the
    *     AQE-coalesced partition count of the materialized frame, which
    *     depends on measured sizes at the runtime coalesce boundary
    *     (q108's hash flipped between runs of identical code). Structure
    *     still hashes; counts don't. Partitionings whose toString has no
    *     expression list (RoundRobinPartitioning(32)) need their own rule;
    *   - DPP conjunct order (see [[normalizeDppLine]]).
    * Not handled here: a sum of 3+ terms canonicalizes to a
    * `MultiCommutativeOp`, whose operands are ordered by a hashCode that
    * includes a Class's identity hash, so a join or filter condition
    * holding one prints its conjuncts in a different order per JVM (q137's
    * hash changed run to run until its `n_agree` became a chain of
    * subtractions). A query whose hash differs across runs of one commit
    * is worth checking for such a sum first.
    * The line split eats the trailing newline; it is restored so hashes
    * of untouched plans stay comparable with earlier runs.
    */
  private[graft] def canonicalPlan(plan: String): String =
    plan.replaceAll("@[0-9a-f]+", "@id")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("graft-bench-wh[0-9a-zA-Z]*", "graft-bench-wh")
      .replaceAll("partitioning\\(([^()]*?),\\s*\\d+\\)", "partitioning($1, N)")
      .replaceAll("Partitioning\\(\\d+\\)", "Partitioning(N)")
      .linesIterator.map(normalizeDppLine).mkString("\n") + "\n"

  private[graft] def canonicalPlan(df: DataFrame): String =
    canonicalPlan(df.queryExecution.optimizedPlan.canonicalized.toString)

  private[graft] def planHash(canonical: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString

  /** Materialize the query's OWN physical plan (toRdd.count executes it
    * as planned, producing every output column) instead of df.count():
    * the count-aggregate rewrite lets Catalyst prune output columns and
    * even eliminate whole joins (q142's span-removal left join has a
    * provably-unique right key and no referenced right column — under
    * count() the scrub was "measured" at the cost of counting documents).
    */
  private[graft] def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.count()

  /** Sweep-state hygiene (the r6 11% same-plan drift): the
    * localCheckpoint barriers (q113/q115/q135/q136, PQ encode) persist
    * RDD blocks that outlive their query — 4 executions per query across
    * ~136 queries left GBs of dead executor storage taxing later queries'
    * GC. Nothing cross-query lives in the block manager (the IVF index is
    * on disk, PQ codebooks are driver-side arrays), so clearing between
    * queries is free of semantic effect and keeps every query's storage
    * baseline flat.
    */
  private[graft] def clearSweepState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** JVM/codegen/parquet-reader classes load once here so the first
    * timed query isn't charged ~5 s of cold-start.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }

  /** The capped quadratic recall oracles (q25/q26) are the noisiest
    * timings in the suite (one big nested-loop task — scheduler jitter
    * dominates); best-of-5 instead of 3 pins their drift.
    */
  private[graft] def reps(name: String): Int =
    if (name.startsWith("q25") || name.startsWith("q26")) 5 else 3

  /** The timed part of one query's measurement: `reps(name)` fresh
    * build + materialize runs, after an untimed warm-up run the caller
    * makes (it pays plan compilation + janino codegen, ~0.3 s/query).
    * Returns the rep times and the last rep's frame: its plan is the one
    * to hash, since re-invoking the query would pay a whole extra
    * execution for eager builders (q104's table writes, q106's observed
    * noop write, q109's CC loop).
    */
  private[graft] def timedRuns(spark: SparkSession, sfDir: String,
                               name: String): (Seq[Double], DataFrame) = {
    val fn = SparkEntry.queries(name)
    var last: DataFrame = null
    val times = (1 to reps(name)).map { _ =>
      val t0 = System.nanoTime()
      last = fn(spark, sfDir)
      materialize(last)
      (System.nanoTime() - t0) / 1e9
    }
    (times, last)
  }

  /** `<ExceptionClass>: <first message line>` — names a failure in one
    * line without the multi-line plan dumps Spark messages carry.
    */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getName}: " +
      String.valueOf(e.getMessage).linesIterator.find(_.trim.nonEmpty).getOrElse("")

  /** A JSON string literal: backslash, quote and every control char
    * escaped (a tab or CR in builder-authored SQL, or a newline in an
    * exception message, would otherwise break the line's parse).
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of string values, in the given order. */
  private[graft] def jsonObject(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")

  /** How many failed query names the compact summary line carries. */
  private val summaryFailedNames = 5

  private final case class Result(seconds: Double, hash: String, plan: String, tasks: Long,
                                  error: Option[String] = None)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusRaw = GraftSession.defaultCpus
    // the fingerprint lands unquoted in JSON — a non-numeric override
    // (local[*]) quotes so the line stays parseable
    val cpus =
      if (cpusRaw.nonEmpty && cpusRaw.forall(_.isDigit)) cpusRaw
      else "\"" + cpusRaw + "\""
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Applied parallelism is recorded, not inferred: the close line
    // carries sc.defaultParallelism, and each query records how many
    // TASKS its timed reps launched — a query with 3 reps x a handful of
    // tasks at 0.1 s is visibly latency-bound, not core-starved. Counts
    // are listener-bus metadata (asynchronous, so ±a few tasks at query
    // boundaries); they label the work shape, they are not timings.
    val taskCounter = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        taskCounter.incrementAndGet(); ()
      }
    })
    warmUp(spark, sfDir)
    // queries run in name order for stable output
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val r =
        try {
          materialize(SparkEntry.queries(name)(spark, sfDir))
          val tasks0 = taskCounter.get()
          val (times, last) = timedRuns(spark, sfDir, name)
          val plan = canonicalPlan(last)
          Result(times.min, planHash(plan), plan, taskCounter.get() - tasks0)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${describe(e)}")
          Result(-1.0, "err", "", 0L, Some(describe(e)))
        } finally clearSweepState(spark)
      name -> r
    }
    // 4-decimal rounding keeps the stdout line compact (the r3 line was
    // long enough to get tail-truncated in the driver's log capture)
    def r4(v: Double): String = if (v < 0) "-1" else f"$v%.4f"
    def obj(f: Result => String): String =
      results.map { case (k, r) => "\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val total = results.map(_._2.seconds).filter(_ > 0).sum
    val head = s""""metric":"total","value":${r4(total)},"unit":"sec""""
    val setup = s""""cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism}"""
    // each failed query's `describe` line: the failure is in the artifact,
    // not only in a stderr line that can land inside a log4j stack trace
    val failed = results.flatMap { case (k, r) => r.error.map(k -> _) }
    val errors = s""""errors":${jsonObject(failed)}"""
    val json = s"""{$head,$setup,"queries":${obj(r => r4(r.seconds))},""" +
      s""""plans":${obj(r => "\"" + r.hash + "\"")},"tasks":${obj(_.tasks.toString)},$errors,"sf":"$sfDir"}"""
    // stdout FIRST: the artifact writes below can fail on a read-only
    // checkout / bad override path, and the JSON line is the one output
    // the driver must always get
    println(json)
    val histPath = sys.env.getOrElse("SPARK_GRAFT_HISTORY_OUT", "/root/repo/BENCH_HISTORY.jsonl")
    def writeQuietly(path: String, content: String, opts: StandardOpenOption*): Unit =
      try Files.writeString(Paths.get(path), content, opts: _*)
      catch { case e: Throwable =>
        System.err.println(s"bench: artifact write failed for $path: $e") }
    // full normalized plan STRINGS: the hash tells you THAT a plan
    // changed; this is what you diff to see WHY
    writeQuietly(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "/root/repo/BENCH_PLANS_LATEST.txt"),
      results.map { case (k, r) => s"##### $k ${r.hash}\n${r.plan}" }.mkString("\n") + "\n")
    writeQuietly(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LATEST.json"),
      json + "\n")
    // one committed line per run, so cross-run timing/plan-hash diffs
    // do not depend on git archaeology of BENCH_LATEST.json
    writeQuietly(histPath, s"""{"ts":${System.currentTimeMillis()},""" + json.stripPrefix("{") + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // compact summary as the LAST stdout line: the driver's log capture
    // keeps a bounded tail, and the full per-query JSON above is ~10 KB —
    // long enough that BENCH_r07.json recorded "parsed": null. Failures
    // are counted and at most `summaryFailedNames` named, so the line stays
    // bounded when most queries fail (a wrong SF dir); the messages are in
    // the full line and BENCH_LATEST/HISTORY
    val n = results.count(_._2.seconds > 0)
    val failedNames = failed.take(summaryFailedNames).map(f => jsonString(f._1)).mkString("[", ",", "]")
    println(s"""{$head,"n":$n,$setup,"n_failed":${failed.size},"failed":$failedNames,"sf":"$sfDir"}""")
    spark.stop()
  }
}
