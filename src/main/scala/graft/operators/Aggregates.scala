package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All of these are single hash-aggregates with map-side partial
  * aggregation (Catalyst plans partial+final automatically) — at 100 TB the
  * shuffle carries only per-group partial states, not rows.
  */
object Aggregates {

  /** A1 analog: group by day with NA-skipping means (pandas `mean` ==
    * Spark `avg`, both ignore nulls — ETL.py:69-73).
    */
  def daily(events: DataFrame, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => avg(col(c)).as(s"avg_$c")) :+ count(lit(1)).as("n")
    events.groupBy(to_date(col(tsCol)).as("d")).agg(aggs.head, aggs.tail: _*)
  }

  /** A2 analog: group by month number (ETL.py:116-123). */
  def monthly(events: DataFrame, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => avg(col(c)).as(s"avg_$c")) :+ count(lit(1)).as("n")
    events.groupBy(month(col(tsCol)).as("m")).agg(aggs.head, aggs.tail: _*)
  }

  /** A3: deterministic group mode — most frequent value, ties broken by the
    * SMALLEST value, empty/all-null group -> null. This is pandas
    * `mode().iloc[0]` semantics (ETL.py:76,122; pandas `mode()` sorts).
    *
    * Spark 4's built-in `mode()` is non-deterministic on ties, so this is
    * composed from deterministic primitives:
    *   count per (group, value) -> max count per group (window) -> min
    *   value among the argmax set.
    *
    * Scale shape: two shuffles, both on low-cardinality keys; the window
    * partitions by the group key over the already-aggregated (group, value)
    * counts — never over raw rows.
    */
  def deterministicMode(df: DataFrame, groupCol: Column, valueCol: Column,
                        outGroup: String, outMode: String): DataFrame = {
    val counts = df
      .filter(valueCol.isNotNull) // pandas mode() drops NA before counting
      .groupBy(groupCol.as(outGroup), valueCol.as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(outGroup))
    counts
      .withColumn("__mx", max(col("__cnt")).over(w))
      .filter(col("__cnt") === col("__mx"))
      .groupBy(col(outGroup))
      .agg(min(col("__v")).as(outMode))
  }

  /** A4: exact per-column median (NA-skipping), as one aggregate job —
    * the imputation source (ETL.py:62). `median` is exact (Spark 3.4+);
    * `percentile_approx` is the documented 100 TB escape hatch (exact
    * median requires a full sort of each column's values).
    */
  def medians(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val aggs = cols.map(c => median(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.collect { case (c, i) if !row.isNullAt(i) => c -> row.getDouble(i) }.toMap
  }

  /** F5: median imputation (ETL.py:61-62 intent), in-plan: the medians
    * are a one-row aggregate broadcast-cross-joined onto the rows, so the
    * fill launches no eager job and the medians are computed by whatever
    * action runs the plan (when `df` ends in a shuffle, the aggregate and
    * the rows can reuse its one exchange). Same result as
    * `df.na.fill(medians(df, cols))`: NaN counts as missing in float and
    * double columns, an all-null column (null median) is left as it is,
    * non-numeric columns are left alone, and every column keeps its type
    * (the median is cast to it). Filled columns become nullable in the
    * schema, since a median is only known at run time.
    */
  def imputeMedians(df: DataFrame, cols: Seq[String]): DataFrame = {
    def ref(c: String) = df.col("`" + c.replace("`", "``") + "`")
    val medianOf = cols.zipWithIndex.map { case (c, i) => c -> s"__median_$i" }.toMap
    val aggs = cols.map(c => median(ref(c)).as(medianOf(c)))
    val fills = df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))
    fills.select(df.schema.fields.toSeq.map { f =>
      medianOf.get(f.name) match {
        case Some(m) if f.dataType.isInstanceOf[NumericType] =>
          val v = f.dataType match {
            case DoubleType | FloatType => nanvl(ref(f.name), lit(null))
            case _ => ref(f.name)
          }
          coalesce(v, col(m).cast(f.dataType)).as(f.name)
        case _ => ref(f.name)
      }
    }: _*)
  }

  /** Distributed EXACT interpolated percentiles — the scale-safe
    * replacement for an UNGROUPED `percentile`/`median` aggregate
    * (optimization r18, guide §5 / VERDICT item 5).
    *
    * Why: Spark's exact `Percentile` buffers a count per DISTINCT value
    * of the whole column in ONE final aggregation buffer; on a
    * near-unique column (l_extendedprice: 583k distinct of 600k rows at
    * sf0.1) that buffer is O(rows) on a single reducer — at 100 TB, one
    * executor OOM. This computes the identical result from the
    * distributed CDF instead:
    *
    *   1. per-(column, value) counts — ONE full-data pass, map-side
    *      combinable (the only stage that sees every row);
    *   2. range-partition the distinct-value table by (column, value) +
    *      local sort: partition id becomes the coarse CDF position;
    *   3. bounded collect of per-(column, partition) subtotals (≤
    *      cols × shuffle-partitions rows) → per-partition rank offsets;
    *   4. one probe pass: the running in-partition count + the
    *      partition offset is the global cumulative count, and the rows
    *      covering the needed ranks (≤ 2 per fraction) are filtered out
    *      and collected;
    *   5. driver-side interpolation replicating `Percentile
    *      .getPercentile` EXACTLY: position = (n−1) · fraction computed
    *      as Long × Double, `value(floor)` when floor == ceil or the
    *      two covering values are equal, else
    *      `(ceil − pos) · v_floor + (pos − floor) · v_ceil` — the same
    *      doubles in the same operations, so results are bit-identical
    *      to the single-buffer aggregate (AggregatesSpec pins parity).
    *
    * Matches Percentile's null handling (nulls dropped; all-null column
    * → None). Caveat shared with the SQL ordering this rides on:
    * groupBy normalizes −0.0 to 0.0 where Percentile's hash buffer
    * keeps them distinct-but-equal-sorting — indistinguishable unless a
    * column contains literal −0.0 (none of ours do).
    */
  def exactPercentilesByRank(df: DataFrame, valueCols: Seq[String],
                             fractions: Seq[Double])
      : Map[String, Seq[Option[Double]]] = {
    require(valueCols.nonEmpty && fractions.nonEmpty)
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(array(valueCols.map(c =>
        struct(lit(c).as("c"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.c").as("c"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
    val parts = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    // the barrier feeds three bounded consumers (subtotals, probe) and
    // pins `pid` — spark_partition_id must not be re-derived under a
    // different runtime coalesce
    val ranged = counts.repartitionByRange(parts, col("c"), col("v"))
      .sortWithinPartitions(col("c"), col("v"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // bounded collect: ≤ cols × parts subtotal rows
    val sub = ranged.groupBy(col("c"), col("pid")).agg(sum(col("cnt")).as("s"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val nPerCol: Map[String, Long] =
      sub.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    // per-column target ranks (0-based), replicating Percentile's
    // position arithmetic: maxPosition (Long) × fraction (Double)
    val posOf: Map[String, Seq[Double]] = valueCols.flatMap { c =>
      nPerCol.get(c).filter(_ > 0).map { n =>
        c -> fractions.map(f => (n - 1) * f)
      }
    }.toMap
    val ranks: Seq[(String, Long)] = posOf.toSeq.flatMap { case (c, ps) =>
      ps.flatMap(p => Seq(p.floor.toLong, p.ceil.toLong)).distinct.map(c -> _)
    }
    if (ranks.isEmpty)
      return valueCols.map(_ -> fractions.map(_ => Option.empty[Double])).toMap
    val offRows = sub.toSeq.map { case ((c, pid), _) =>
      val off = sub.collect { case ((c2, p2), s) if c2 == c && p2 < pid => s }.sum
      Row(c, pid, off)
    }
    import org.apache.spark.sql.types._
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1),
      StructType(Seq(StructField("c", StringType, nullable = false),
        StructField("pid", IntegerType, nullable = false),
        StructField("off", LongType, nullable = false))))
    val rankDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ranks.map { case (c, r) => Row(c, r) }, 1),
      StructType(Seq(StructField("c", StringType, nullable = false),
        StructField("r", LongType, nullable = false))))
    val w = Window.partitionBy(col("c"), col("pid")).orderBy(col("v"))
    // probe: global cumulative end covers rank r iff cumEnd−cnt ≤ r < cumEnd
    val hit = ranged
      .join(broadcast(offDf), Seq("c", "pid"))
      .withColumn("cumEnd", col("off") + sum(col("cnt")).over(w))
      .alias("x")
      .join(broadcast(rankDf.alias("k")),
        col("x.c") === col("k.c") &&
          col("k.r") >= col("x.cumEnd") - col("x.cnt") &&
          col("k.r") < col("x.cumEnd"))
      .select(col("x.c"), col("k.r"), col("x.v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    valueCols.map { c =>
      c -> (posOf.get(c) match {
        case None => fractions.map(_ => Option.empty[Double])
        case Some(ps) => ps.map { position =>
          val lower = position.floor.toLong
          val higher = position.ceil.toLong
          val vLower = hit((c, lower))
          val out =
            if (higher == lower) vLower
            else {
              val vHigher = hit((c, higher))
              if (vHigher == vLower) vLower
              else (higher - position) * vLower + (position - lower) * vHigher
            }
          Some(out)
        }
      })
    }.toMap
  }

  /** Scalable exact distinct-count: phase 1 dedups on (key, value) —
    * partial-aggregated map-side, so a hot key's values spread across all
    * reducers — phase 2 counts per key. Same result as `countDistinct`,
    * which funnels each key's whole value set through one reducer's
    * hash set; at 100 TB with skewed keys this shape is the difference
    * between finishing and OOM.
    */
  def distinctCountTwoPhase(df: DataFrame, key: Column, value: Column,
                            outKey: String, outCount: String): DataFrame =
    df.select(key.as(outKey), value.as("__v")).distinct()
      .groupBy(col(outKey)).agg(count(lit(1)).as(outCount))
}
