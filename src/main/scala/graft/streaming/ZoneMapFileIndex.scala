package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZONE-MAP PRUNING INSIDE CATALYST'S SCAN PLANNING — the
  * [[EventStreams.readUpsertTableWhere]] classifier packaged as a
  * Spark [[FileIndex]], so a PLAIN `df.filter(col("ts") >= x)` over
  * [[EventStreams.readUpsertTableScan]] prunes data files with no
  * special read API: Catalyst pushes the filter's conjuncts into
  * `listFiles(dataFilters)` during planning, this index tests each
  * live file's recorded min/max against the extractable range bounds,
  * and the `FileSourceScanExec` that plans on the survivors reports
  * the pruned `numFiles` in its own metrics — the evidence surface
  * q207 pins. Joins whose pushable predicates reach the scan prune
  * the same way, because this is the idiomatic integration point (the
  * same hook partition pruning and Delta-style data skipping use),
  * not a bolt-on rewrite rule.
  *
  * Extraction is deliberately CONSERVATIVE — pruning must only ever
  * be an optimization: top-level conjuncts that are simple
  * comparisons (`>=`, `<=`, `>`, `<`, `=`, either operand order)
  * between a bare column and a foldable literal of a stats-supported
  * type become inclusive bounds (strict bounds weaken to inclusive —
  * sound); `IN`/`InSet` lists prune as a union of point ranges with a
  * bloom probe per element (the point-lookup dashboard shape), `OR`
  * trees as the union of their branches' predicates (only when every
  * branch extracts), `starts_with(p)` as the [p, successor(p)) range,
  * `IS NOT NULL` skips all-null files and `IS NULL` skips files whose
  * recorded null count is zero; everything else (casts, functions,
  * UDFs, null literals, an OR with an unextractable branch)
  * contributes no bound and the file is read. Files without recorded
  * stats always read; all-null files never match a range.
  */
final class ZoneMapFileIndex(
    table: Path,
    files: Seq[(FileStatus, String)], // (status, table-relative path)
    stats: EventStreams.FileStats,
    schema: StructType,
    bloomCols: Set[String] = Set.empty,
    statsTz: Option[String] = None) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(table)

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = files.map(_._1.getLen).sum

  override def inputFiles: Array[String] =
    files.map(_._1.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // normalize pushed shapes the extractors would otherwise skip —
    // comparisons through safe casts (DATE column vs timestamp
    // literal and the reverse, integral/float widenings),
    // EqualNullSafe, Not(IsNull)/Not(IsNotNull) — into the plain
    // column-vs-literal forms below, with SOUND (weakened-inclusive,
    // direction-aware rounded) bounds. Unrewritable shapes pass
    // through untouched and extract nothing, as before.
    val dataFiltersN = dataFilters.map(ZoneMapFileIndex.desugar)
    val typed = ZoneMapFileIndex.extractBounds(dataFiltersN, schema, statsTz)
    // equality conjuncts on bloom-contracted columns also test the
    // files' membership sketches — the probe positions come from a
    // DRIVER-SIDE eval of the same XxHash64 expression the writer
    // aggregated with (type-guarded: hash equality needs value+type
    // equality), no job at planning time
    val probes: Map[String, (Int, Int)] =
      ZoneMapFileIndex.extractEqualities(dataFiltersN, schema).collect {
        case (c, l) if bloomCols(c) && schema(c).dataType == l.dataType =>
          c -> ZoneMapFileIndex.bloomPositions(l)
      }
    def bloomPass(rel: String): Boolean = probes.forall { case (c, ps) =>
      ZoneMapFileIndex.bloomHas(stats, rel, c, ps)
    }
    // IN-lists, OR-of-ranges and starts_with prune per-conjunct: each
    // extractable conjunct becomes an independent file predicate
    // (union-of-intervals semantics — a file survives an IN if ANY
    // element's point range overlaps AND its bloom admits that
    // element); unextractable conjuncts contribute nothing, keeping
    // the conservative fallback intact for mixed trees
    val preds = dataFiltersN.flatMap(e =>
      ZoneMapFileIndex.conjunctPred(e, schema, stats, bloomCols, statsTz))
    val survivors =
      if (typed.isEmpty && probes.isEmpty && preds.isEmpty) files
      else files.filter { case (_, rel) =>
        EventStreams.statsOverlap(stats, typed, rel) && bloomPass(rel) &&
          preds.forall(_(rel))
      }
    Seq(PartitionDirectory(InternalRow.empty, survivors.map(_._1).toArray))
  }
}

object ZoneMapFileIndex {

  /** Normalize one pushed conjunct into the extractable
    * column-vs-literal shapes (round 16, the r15 "What's missing" #5):
    *
    *   - comparisons THROUGH A SAFE CAST — `Cast(col, wider) OP lit`,
    *     the shape every dashboard hits comparing a DATE column to a
    *     timestamp literal (or an INT to a LONG) — rewrite to the bare
    *     column with the literal rendered back in the COLUMN's type,
    *     rounded AWAY from the kept side ([[castBound]]) so the
    *     rewritten bound is implied by the original predicate (weaker,
    *     never wrong). Strict bounds weaken to inclusive — the
    *     extractors do that anyway. A cast equality whose literal is
    *     not exactly representable becomes an EMPTY interval (no row
    *     can match), which the range path prunes to zero files;
    *   - `EqualNullSafe(col, lit)` — EqualTo for a non-null literal
    *     (a NULL row never <=> a value), IsNull for a null literal;
    *   - `Not(IsNull)` / `Not(IsNotNull)` — the unnegated twins.
    *     `Not` of anything else extracts nothing, as before;
    *   - recursion through And/Or so the shapes compose inside trees.
    *
    * Anything unrewritable passes through untouched (and extracts
    * nothing downstream — the conservative fallback).
    */
  private[streaming] def desugar(e: Expression): Expression = e match {
    case And(l, r) => And(desugar(l), desugar(r))
    case Or(l, r) => Or(desugar(l), desugar(r))
    case Not(IsNull(a)) => IsNotNull(a)
    case Not(IsNotNull(a)) => IsNull(a)
    case EqualNullSafe(ar: AttributeReference, l: Literal) =>
      if (l.value == null) IsNull(ar) else EqualTo(ar, l)
    case EqualNullSafe(l: Literal, ar: AttributeReference) =>
      if (l.value == null) IsNull(ar) else EqualTo(ar, l)
    // --- comparisons through a cast: col side first, then mirrored ---
    case GreaterThanOrEqual(CastOf(ar, tz), l: Literal) => castLo(e, ar, l, tz)
    case GreaterThan(CastOf(ar, tz), l: Literal) => castLo(e, ar, l, tz)
    case LessThanOrEqual(CastOf(ar, tz), l: Literal) => castHi(e, ar, l, tz)
    case LessThan(CastOf(ar, tz), l: Literal) => castHi(e, ar, l, tz)
    case GreaterThanOrEqual(l: Literal, CastOf(ar, tz)) => castHi(e, ar, l, tz)
    case GreaterThan(l: Literal, CastOf(ar, tz)) => castHi(e, ar, l, tz)
    case LessThanOrEqual(l: Literal, CastOf(ar, tz)) => castLo(e, ar, l, tz)
    case LessThan(l: Literal, CastOf(ar, tz)) => castLo(e, ar, l, tz)
    case EqualTo(CastOf(ar, tz), l: Literal) => castEq(e, ar, l, tz)
    case EqualTo(l: Literal, CastOf(ar, tz)) => castEq(e, ar, l, tz)
    case EqualNullSafe(CastOf(ar, tz), l: Literal) if l.value != null =>
      castEq(e, ar, l, tz)
    case EqualNullSafe(l: Literal, CastOf(ar, tz)) if l.value != null =>
      castEq(e, ar, l, tz)
    case other => other
  }

  /** Matches `Cast(col, _)` and yields the column + the cast's zone. */
  private object CastOf {
    def unapply(e: Expression): Option[(AttributeReference, Option[String])] =
      e match {
        case c: Cast => c.child match {
          case ar: AttributeReference => Some((ar, c.timeZoneId))
          case _ => None
        }
        case _ => None
      }
  }

  private def castLo(orig: Expression, ar: AttributeReference, l: Literal,
                     tz: Option[String]): Expression =
    castBound(ar.dataType, l, ceil = true, tz)
      .map(b => GreaterThanOrEqual(ar, b): Expression).getOrElse(orig)

  private def castHi(orig: Expression, ar: AttributeReference, l: Literal,
                     tz: Option[String]): Expression =
    castBound(ar.dataType, l, ceil = false, tz)
      .map(b => LessThanOrEqual(ar, b): Expression).getOrElse(orig)

  private def castEq(orig: Expression, ar: AttributeReference, l: Literal,
                     tz: Option[String]): Expression =
    (castBound(ar.dataType, l, ceil = true, tz),
      castBound(ar.dataType, l, ceil = false, tz)) match {
      // ALWAYS the interval form, never a point EqualTo: range-edge
      // CLAMPING can collapse an unrepresentable literal onto the type
      // edge (ceil == floor at Int.MaxValue for `= 5e9`), and an
      // EqualTo would then bloom-probe a value the user never asked
      // for. The interval [ceil, floor] prunes identically through the
      // range path — empty (lo > hi) when the literal is between
      // representable values, a point when it is one.
      case (Some(lo), Some(hi)) =>
        And(GreaterThanOrEqual(ar, lo), LessThanOrEqual(ar, hi))
      case _ => orig
    }

  /** The pushed literal `l` (typed as the CAST's wider/other type)
    * rendered back in the column's type, rounded toward `ceil` (up for
    * lower bounds, down for upper) and clamped to the type's range —
    * every rounding direction chosen so the rewritten inclusive bound
    * is IMPLIED by the original comparison. None = not a cast pair
    * this understands (no rewrite — conservative).
    *
    * Supported pairs (column ← literal): integral ← wider
    * integral/float/double/decimal; float ← double; DATE ← TIMESTAMP
    * (midnight semantics in the cast's zone: `cast(d as ts) >= t` ⟺
    * `d >= ceilDate(t)`); TIMESTAMP ← DATE (`cast(ts as date) >= d` ⟺
    * `ts >= midnight(d)`; upper bounds widen to midnight(d+1) —
    * inclusive, sound).
    */
  private def castBound(colDt: DataType, l: Literal, ceil: Boolean,
                        tz: Option[String]): Option[Literal] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def zone = java.time.ZoneId.of(tz.getOrElse(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    def asBd: Option[JBD] = l.value match {
      case null => None
      case b: Byte => Some(JBD.valueOf(b.toLong))
      case s: Short => Some(JBD.valueOf(s.toLong))
      case i: Int => Some(JBD.valueOf(i.toLong))
      case j: Long => Some(JBD.valueOf(j))
      case f: Float if !f.isNaN && !f.isInfinite => Some(new JBD(f.toString))
      case d: Double if !d.isNaN && !d.isInfinite => Some(new JBD(d.toString))
      case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
      case _ => None
    }
    def clampedIntegral(lo: Long, hi: Long): Option[Long] = asBd.map { bd =>
      val r = bd.setScale(0, if (ceil) RoundingMode.CEILING else RoundingMode.FLOOR)
      if (r.compareTo(JBD.valueOf(lo)) < 0) lo
      else if (r.compareTo(JBD.valueOf(hi)) > 0) hi
      else r.longValueExact
    }
    (colDt, l.dataType) match {
      case (ByteType, ShortType | IntegerType | LongType | FloatType |
                      DoubleType | _: DecimalType) =>
        clampedIntegral(Byte.MinValue, Byte.MaxValue)
          .map(v => Literal(v.toByte, ByteType))
      case (ShortType, IntegerType | LongType | FloatType | DoubleType |
                       _: DecimalType) =>
        clampedIntegral(Short.MinValue, Short.MaxValue)
          .map(v => Literal(v.toShort, ShortType))
      case (IntegerType, LongType | FloatType | DoubleType | _: DecimalType) =>
        clampedIntegral(Int.MinValue, Int.MaxValue)
          .map(v => Literal(v.toInt, IntegerType))
      case (LongType, FloatType | DoubleType | _: DecimalType) =>
        // float/double above 2^53 no longer distinguishes adjacent
        // longs — the BigDecimal of the literal's DECIMAL RENDERING is
        // still exact for the value the plan actually carries, and
        // rounding toward the kept side keeps the bound implied
        clampedIntegral(Long.MinValue, Long.MaxValue)
          .map(v => Literal(v, LongType))
      case (FloatType, DoubleType) => l.value match {
        case d: Double if !d.isNaN && !d.isInfinite =>
          val f = d.toFloat // nearest float; nudge to the implied side
          val b =
            if (ceil) { if (f.toDouble < d) Math.nextUp(f) else f }
            else { if (f.toDouble > d) Math.nextDown(f) else f }
          Some(Literal(b, FloatType))
        case _ => None
      }
      case (DateType, TimestampType) => l.value match {
        case micros: Long =>
          // cast(d as timestamp) = midnight of d in the cast's zone:
          // >= t ⟺ d >= the first date whose midnight is at/after t
          val i = java.time.Instant.EPOCH.plusNanos(micros * 1000L)
          val dtm = java.time.LocalDateTime.ofInstant(i, zone)
          val d0 = dtm.toLocalDate
          val d = if (ceil && !dtm.toLocalTime.equals(java.time.LocalTime.MIDNIGHT))
            d0.plusDays(1) else d0
          Some(Literal(d.toEpochDay.toInt, DateType))
        case _ => None
      }
      case (TimestampType, DateType) => l.value match {
        case days: Int =>
          // cast(ts as date) >= d ⟺ ts >= midnight(d); <= d widens to
          // ts <= midnight(d+1) (inclusive of the boundary instant —
          // one extra representable instant, sound)
          val d = java.time.LocalDate.ofEpochDay(
            days.toLong + (if (ceil) 0L else 1L))
          val micros = d.atStartOfDay(zone).toInstant.toEpochMilli * 1000L
          Some(Literal(micros, TimestampType))
        case _ => None
      }
      case _ => None
    }
  }

  /** Canonical-string form of a pushed literal under the column's
    * type, aligned with the writer's stats rendering; None = not a
    * value the zone maps can compare (no bound extracted — the scan
    * stays exact). Two deliberate Nones beyond unsupported types:
    * non-finite float/double literals (NaN/Infinity have no BigDecimal
    * form — `statCompare` would throw during scan PLANNING instead of
    * just not pruning), and nothing else: a null literal already
    * extracts nothing via the Option wrap.
    */
  private def canonical(dt: DataType, v: Any,
                        statsTz: Option[String]): Option[String] =
    Option(v).flatMap { value =>
      dt match {
        case StringType => Some(value.asInstanceOf[UTF8String].toString)
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
          Some(value.toString)
        case FloatType =>
          Some(value.asInstanceOf[Float])
            .filter(f => !f.isNaN && !f.isInfinite).map(_.toString)
        case DoubleType =>
          Some(value.asInstanceOf[Double])
            .filter(d => !d.isNaN && !d.isInfinite).map(_.toString)
        case _: DecimalType => Some(value.toString)
        case DateType => Some(
          java.time.LocalDate.ofEpochDay(value.asInstanceOf[Int].toLong).toString)
        case TimestampType =>
          // the writer's stats render via date_format(..., micros) as
          // WALL CLOCKS in the table's RECORDED stats time zone
          // (GenerationWriter.statExpr at write; the statsTz manifest
          // contract) — the probe must render the instant in that same
          // zone or the comparison is between offset wall clocks and
          // can prune files that hold matching rows (silently wrong
          // results). Pre-r15 tables record no zone: fall back to the
          // session zone (exact when write and read sessions match —
          // the pre-r15 behavior).
          val micros = value.asInstanceOf[Long]
          val zone = java.time.ZoneId.of(statsTz.getOrElse(
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          val i = java.time.Instant.EPOCH.plusNanos(micros * 1000L)
          val dtm = java.time.LocalDateTime.ofInstant(i, zone)
          Some(f"${dtm.getYear}%04d-${dtm.getMonthValue}%02d-${dtm.getDayOfMonth}%02d " +
            f"${dtm.getHour}%02d:${dtm.getMinute}%02d:${dtm.getSecond}%02d." +
            f"${dtm.getNano / 1000}%06d")
        case _ => None
      }
    }

  /** The inclusive bounds extractable from the pushed conjuncts, in
    * [[EventStreams.statsOverlap]]'s typed shape. Conjuncts that
    * don't match the simple column-vs-literal form extract nothing
    * (the file reads — conservative).
    */
  private[streaming] def extractBounds(
      dataFilters: Seq[Expression],
      schema: StructType,
      statsTz: Option[String] = None): Seq[(String, DataType, Option[String], Option[String])] = {
    val perCol = scala.collection.mutable.Map
      .empty[String, (Option[String], Option[String])]
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def tighten(c: String, dt: DataType, lo: Option[String],
                hi: Option[String]): Unit = {
      val (l0, h0) = perCol.getOrElse(c, (None, None))
      val l = (l0 ++ lo).reduceOption((a, b) =>
        if (EventStreams.statCompare(dt, a, b) >= 0) a else b)
      val h = (h0 ++ hi).reduceOption((a, b) =>
        if (EventStreams.statCompare(dt, a, b) <= 0) a else b)
      perCol(c) = (l, h)
    }
    def bound(a: Expression, l: Literal, loSide: Boolean): Unit = a match {
      case ar: AttributeReference =>
        dtOf(ar.name).foreach { dt =>
          canonical(dt, l.value, statsTz).foreach { v =>
            if (loSide) tighten(ar.name, dt, Some(v), None)
            else tighten(ar.name, dt, None, Some(v))
          }
        }
      case _ => // cast/function over the column: no bound, stay exact
    }
    def walk(e: Expression): Unit = e match {
      case And(lhs, rhs) => walk(lhs); walk(rhs)
      case GreaterThanOrEqual(a, l: Literal) => bound(a, l, loSide = true)
      case GreaterThan(a, l: Literal) => bound(a, l, loSide = true)
      case LessThanOrEqual(a, l: Literal) => bound(a, l, loSide = false)
      case LessThan(a, l: Literal) => bound(a, l, loSide = false)
      case EqualTo(a, l: Literal) =>
        bound(a, l, loSide = true); bound(a, l, loSide = false)
      case GreaterThanOrEqual(l: Literal, a) => bound(a, l, loSide = false)
      case GreaterThan(l: Literal, a) => bound(a, l, loSide = false)
      case LessThanOrEqual(l: Literal, a) => bound(a, l, loSide = true)
      case LessThan(l: Literal, a) => bound(a, l, loSide = true)
      case EqualTo(l: Literal, a) =>
        bound(a, l, loSide = true); bound(a, l, loSide = false)
      case _ => // IsNotNull, Or, In, UDFs, ...: no bound from this conjunct
    }
    dataFilters.foreach(walk)
    perCol.toSeq.map { case (c, (lo, hi)) =>
      (c, dtOf(c).get, lo, hi)
    }.filter(t => t._3.isDefined || t._4.isDefined)
  }

  /** The two bloom probe positions for a literal — the same XxHash64
    * pair the write tasks fold into each file's bloom
    * ([[graft.io.GenerationWriter]]).
    */
  private def bloomPositions(l: Literal): (Int, Int) = {
    def pmod(x: Long): Int =
      (((x % EventStreams.bloomBits) + EventStreams.bloomBits) %
        EventStreams.bloomBits).toInt
    val h1 = XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]
    val h2 = XxHash64(Seq(l, Literal(1L)), 42L).eval(null).asInstanceOf[Long]
    (pmod(h1), pmod(h2))
  }

  /** Does `rel`'s membership sketch for column `c` admit the probe
    * positions? No sketch recorded = conservative true (read it).
    */
  private def bloomHas(stats: EventStreams.FileStats, rel: String,
                       c: String, ps: (Int, Int)): Boolean =
    stats.get(rel).flatMap(_.get(EventStreams.bloomKey(c)))
      .flatMap(_._1) match {
      case None => true
      case Some(b64) =>
        val bits = java.util.Base64.getDecoder.decode(b64)
        def has(p: Int) = (bits(p >> 3) & (1 << (p & 7))) != 0
        has(ps._1) && has(ps._2)
    }

  /** Does `rel`'s recorded (min, max) for column `c` overlap the
    * inclusive-lo interval [lo, hi] (hi exclusive when `hiExcl` — the
    * starts_with successor bound)? Missing stats = true (read it);
    * an all-null file matches no comparison.
    */
  private def rangePass(stats: EventStreams.FileStats, rel: String,
                        c: String, dt: DataType,
                        lo: Option[String], hi: Option[String],
                        hiExcl: Boolean = false): Boolean =
    stats.get(rel).flatMap(_.get(c)) match {
      case None => true
      case Some((None, None)) => false
      case Some((Some(mn), Some(mx))) =>
        lo.forall(l => EventStreams.statCompare(dt, mx, l) >= 0) &&
          hi.forall(h =>
            if (hiExcl) EventStreams.statCompare(dt, mn, h) < 0
            else EventStreams.statCompare(dt, mn, h) <= 0)
      case Some(_) => true // half-recorded stats: conservative
    }

  /** The lexicographic successor of a starts_with prefix — the
    * exclusive upper bound of the range every `p`-prefixed string
    * falls in. None (no finite successor, prune on the lower bound
    * alone) when the last char is at or above the surrogate range:
    * incrementing there could cross UTF-16/UTF-8 order disagreements,
    * and the writer's stats were min/maxed in UTF8String byte order
    * while [[EventStreams.statCompare]] compares java Strings — below
    * the surrogates the two orders agree, so the bound is sound in
    * both.
    */
  private[streaming] def prefixSuccessor(p: String): Option[String] = {
    val last = p.last
    if (last < '퟿') Some(p.init + (last + 1).toChar) else None
  }

  /** One pushed conjunct compiled to a per-file predicate, or None
    * when any needed leaf is unextractable (the conservative
    * fallback: the conjunct contributes no pruning). Handles the
    * shapes [[extractBounds]] deliberately skips — `In`/`InSet`
    * (union of point ranges, bloom-probed per element), `Or` (union
    * of its branches' predicates — only when BOTH branches extract),
    * `StartsWith` (the [prefix, successor) range) — plus plain
    * comparisons and nested `And`s so those shapes compose inside an
    * OR tree.
    */
  private[streaming] def conjunctPred(
      e: Expression, schema: StructType,
      stats: EventStreams.FileStats,
      bloomCols: Set[String],
      statsTz: Option[String] = None): Option[String => Boolean] = {
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def point(ar: AttributeReference, l: Literal): Option[String => Boolean] =
      dtOf(ar.name).flatMap { dt =>
        canonical(dt, l.value, statsTz).map { v =>
          val probe = if (bloomCols(ar.name) && dt == l.dataType)
            Some(bloomPositions(l)) else None
          (rel: String) =>
            rangePass(stats, rel, ar.name, dt, Some(v), Some(v)) &&
              probe.forall(ps => bloomHas(stats, rel, ar.name, ps))
        }
      }
    def side(a: Expression, l: Literal, loSide: Boolean): Option[String => Boolean] =
      a match {
        case ar: AttributeReference => dtOf(ar.name).flatMap { dt =>
          canonical(dt, l.value, statsTz).map { v =>
            if (loSide) (rel: String) =>
              rangePass(stats, rel, ar.name, dt, Some(v), None)
            else (rel: String) =>
              rangePass(stats, rel, ar.name, dt, None, Some(v))
          }
        }
        case _ => None
      }
    e match {
      case And(lhs, rhs) =>
        (conjunctPred(lhs, schema, stats, bloomCols, statsTz),
          conjunctPred(rhs, schema, stats, bloomCols, statsTz)) match {
          case (Some(a), Some(b)) => Some(rel => a(rel) && b(rel))
          case (a, b) => a.orElse(b) // And: each side alone is sound
        }
      case Or(lhs, rhs) =>
        for {
          a <- conjunctPred(lhs, schema, stats, bloomCols, statsTz)
          b <- conjunctPred(rhs, schema, stats, bloomCols, statsTz)
        } yield (rel: String) => a(rel) || b(rel)
      case In(ar: AttributeReference, elems)
        if elems.nonEmpty && elems.forall(_.isInstanceOf[Literal]) =>
        dtOf(ar.name).flatMap { _ =>
          // NULL elements match no row (IN's three-valued logic never
          // yields true on them) — they drop; an all-NULL list reads
          // nothing via the empty union
          val lits = elems.collect {
            case l: Literal if l.value != null => l }
          val pts = lits.map(point(ar, _))
          if (pts.exists(_.isEmpty)) None
          else Some((rel: String) => pts.flatten.exists(_(rel)))
        }
      case InSet(ar: AttributeReference, hset) =>
        dtOf(ar.name).flatMap { dt =>
          // hset holds CATALYST-INTERNAL values (UTF8String, Long, ...)
          // — the raw Literal constructor takes them verbatim;
          // Literal.create would re-run the external-type converter
          val pts = hset.toSeq.filter(_ != null)
            .map(v => point(ar, Literal(v, dt)))
          if (pts.exists(_.isEmpty)) None
          else Some((rel: String) => pts.flatten.exists(_(rel)))
        }
      case StartsWith(ar: AttributeReference, p: Literal)
        if p.value != null && dtOf(ar.name).contains(StringType) =>
        val prefix = p.value.asInstanceOf[UTF8String].toString
        if (prefix.isEmpty) None // every string matches: no bound
        else {
          val next = prefixSuccessor(prefix)
          Some((rel: String) => rangePass(stats, rel, ar.name, StringType,
            Some(prefix), next, hiExcl = true))
        }
      case IsNotNull(ar: AttributeReference) if dtOf(ar.name).isDefined =>
        // an ALL-NULL file records (None, None) range stats — no row
        // in it can satisfy IS NOT NULL; anything else reads
        Some((rel: String) =>
          stats.get(rel).flatMap(_.get(ar.name)) match {
            case Some((None, None)) => false
            case _ => true
          })
      case IsNull(ar: AttributeReference) if dtOf(ar.name).isDefined =>
        // a file whose recorded NULL COUNT (the __nl_<c> pseudo-column
        // every stats-bearing commit records) is zero has no row
        // satisfying IS NULL; missing counts read (conservative)
        Some((rel: String) =>
          stats.get(rel).flatMap(_.get(EventStreams.nullKey(ar.name)))
            .flatMap(_._1) match {
            case Some("0") => false
            case _ => true
          })
      case EqualTo(ar: AttributeReference, l: Literal) => point(ar, l)
      case EqualTo(l: Literal, ar: AttributeReference) => point(ar, l)
      case GreaterThanOrEqual(a, l: Literal) => side(a, l, loSide = true)
      case GreaterThan(a, l: Literal) => side(a, l, loSide = true)
      case LessThanOrEqual(a, l: Literal) => side(a, l, loSide = false)
      case LessThan(a, l: Literal) => side(a, l, loSide = false)
      case GreaterThanOrEqual(l: Literal, a) => side(a, l, loSide = false)
      case GreaterThan(l: Literal, a) => side(a, l, loSide = false)
      case LessThanOrEqual(l: Literal, a) => side(a, l, loSide = true)
      case LessThan(l: Literal, a) => side(a, l, loSide = true)
      case _ => None
    }
  }

  /** Top-level equality conjuncts (bare column = literal, either
    * order, reached through Ands) — the bloom-probe inputs. A column
    * equated to two DIFFERENT literals keeps the first
    * (`getOrElseUpdate` below); that is SOUND ONLY BECAUSE
    * [[extractBounds]] feeds EqualTo into BOTH range sides, so the
    * contradictory interval [max(a,b), min(a,b)] prunes every file
    * through the RANGE path before the bloom probe decides anything —
    * a two-module invariant pinned by the StreamingSpec case
    * "contradictory equalities prune via the range path". Narrowing
    * extractBounds' EqualTo handling breaks this.
    */
  private[streaming] def extractEqualities(
      dataFilters: Seq[Expression],
      schema: StructType): Map[String, Literal] = {
    val out = scala.collection.mutable.Map.empty[String, Literal]
    def put(a: Expression, l: Literal): Unit = a match {
      case ar: AttributeReference
        if schema.fieldNames.contains(ar.name) && l.value != null =>
        out.getOrElseUpdate(ar.name, l)
      case _ =>
    }
    def walk(e: Expression): Unit = e match {
      case And(lhs, rhs) => walk(lhs); walk(rhs)
      case EqualTo(a, l: Literal) => put(a, l)
      case EqualTo(l: Literal, a) => put(a, l)
      case _ =>
    }
    dataFilters.foreach(walk)
    out.toMap
  }
}
