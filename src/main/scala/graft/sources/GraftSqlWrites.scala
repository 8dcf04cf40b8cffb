package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.EventStreams

/** PLAIN-SQL WRITES for the graft table format (round 17): `MERGE INTO`
  * and `UPDATE` statements route to the COMMITTED merge
  * ([[EventStreams.mergeBatchIntoTable]]) — the same guarded publish,
  * sequencer token, O(batch)-delta-or-O(touched-buckets)-eager posture
  * and exactly-once replay the Scala API commits under — exactly as
  * SQL `DELETE` routes to the committed predicate delete.
  *
  * MECHANISM — a post-hoc resolution rule, not
  * `SupportsRowLevelOperations`: Spark's own row-level rewrite
  * (`RewriteMergeIntoTable`) only claims tables implementing the
  * group-based copy-on-write protocol, in which SPARK plans the
  * matched-file scan and a full-group replacement write. The graft
  * format already owns a strictly better merge executor — bucket-local
  * rewrites (or O(batch) delta appends) under the manifest commit
  * protocol — so the idiomatic integration (the SURVEY §3.2 custom
  * operator ladder: LogicalPlan + Rule + Strategy + SparkPlan) is to
  * claim the RESOLVED `MergeIntoTable`/`UpdateTable` nodes after the
  * analyzer's Resolution batch (post-hoc runs before CheckAnalysis
  * would reject them for a non-row-level table) and hand the batch to
  * the committed merge. The rewrite is registered through
  * `SparkSessionExtensions` ([[graft.plans.GraftExtensions]]).
  *
  * SEMANTICS — version-arbitrated upsert, the table's own contract
  * (NOT blind last-statement-wins): same-key upserts on a graft table
  * arbitrate on the recorded version column (`versionedBy`, adopted by
  * every r17+ merge; delta tables carry it in the reconcile spec).
  * Accordingly:
  *   - WHEN MATCHED THEN UPDATE with the version column ASSIGNED
  *     applies only where the new version is strictly above the
  *     current one (or the current is NULL — adopted legacy rows);
  *     stale rows are SKIPPED, the idempotent-CDC shape. With the
  *     version column UNASSIGNED the update AUTO-BUMPS it
  *     (current + 1, numeric contracts only), so it always applies.
  *   - WHEN NOT MATCHED THEN INSERT must assign every KEY column;
  *     an unassigned version column defaults to 0.
  *   - `UPDATE t SET ... WHERE ...` is the degenerate matched-only
  *     merge whose source is the table itself; key columns cannot be
  *     reassigned.
  * Source rows must be UNIQUE per key (the standard MERGE
  * cardinality rule — the engine refuses instead of resolving
  * nondeterministically). One UPDATE and one INSERT clause translate;
  * DELETE actions, NOT MATCHED BY SOURCE clauses and schema evolution
  * refuse loudly (deletes have their own committed surface).
  *
  * SCALE: the matched-resolution join reads the target through the
  * reconciling snapshot read and the source once; the committed merge
  * then touches only the batch's buckets. The read is
  * join-partitioned by Catalyst (broadcast for small sources under
  * AQE); the write cost is the API merge's, unchanged. Commit id =
  * `graft.sql.batchId` when the session pins one (exactly-once for
  * schedulers, replays no-op) or head+1; `retain = 2` keeps the
  * pre-write snapshot readable, the SQL-surface audit convention.
  */
case class GraftSqlWrites(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftDirOf(plan: LogicalPlan): Option[String] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftTable => Some(g.tableDir)
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && graftDirOf(m.targetTable).isDefined =>
      val target = EliminateSubqueryAliases(m.targetTable)
        .asInstanceOf[DataSourceV2Relation]
      GraftSqlWriteCommand("merge", graftDirOf(m.targetTable).get,
        target.table.asInstanceOf[GraftTable].asOfOpt,
        target.output, Some(m.sourceTable), Some(m.mergeCondition),
        m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions,
        m.withSchemaEvolution, Nil)
    case u: UpdateTable if u.resolved && graftDirOf(u.table).isDefined =>
      val target = EliminateSubqueryAliases(u.table)
        .asInstanceOf[DataSourceV2Relation]
      GraftSqlWriteCommand("update", graftDirOf(u.table).get,
        target.table.asInstanceOf[GraftTable].asOfOpt,
        target.output, None, u.condition, Nil, Nil, Nil,
        withSchemaEvolution = false, u.assignments)
  }
}

/** The routed SQL write as a leaf command: the analyzer's resolved
  * pieces ride the node verbatim; [[GraftSqlWriteExec]] executes them
  * through the committed merge at command execution (Spark executes
  * `Command` nodes eagerly and returns the report row as the
  * statement's result).
  */
case class GraftSqlWriteCommand(operation: String,
                                tableDir: String,
                                asOf: Option[Long],
                                targetAttrs: Seq[Attribute],
                                source: Option[LogicalPlan],
                                condition: Option[Expression],
                                matchedActions: Seq[MergeAction],
                                notMatchedActions: Seq[MergeAction],
                                notMatchedBySourceActions: Seq[MergeAction],
                                withSchemaEvolution: Boolean,
                                updateAssignments: Seq[Assignment])
  extends LeafNode with Command {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("batch_id", LongType, nullable = false)(),
    AttributeReference("rows_matched", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)(),
    AttributeReference("applied", BooleanType, nullable = false)())
}

/** Plans [[GraftSqlWriteCommand]]; injected via
  * [[graft.plans.GraftExtensions]] (and
  * `spark.experimental.extraStrategies` for already-built sessions).
  */
object GraftSqlWriteStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftSqlWriteCommand => GraftSqlWriteExec(c) :: Nil
    case _ => Nil
  }
}

case class GraftSqlWriteExec(cmd: GraftSqlWriteCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = cmd.output

  private lazy val result: Array[InternalRow] =
    Array(GraftSqlWrites.execute(session, cmd))

  override def executeCollect(): Array[InternalRow] = result

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(result.toIndexedSeq, 1)
}

object GraftSqlWrites {

  private val matchedFlag = "__graft_matched"

  private def refuse(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft SQL write: $msg")

  /** Execute one routed SQL write; returns the report row. */
  private[sources] def execute(spark: SparkSession,
                               cmd: GraftSqlWriteCommand): InternalRow = {
    cmd.asOf.foreach { at =>
      refuse(s"table ${cmd.tableDir} was opened with asOf=$at (time " +
        "travel): its reads serve that snapshot but a write would " +
        "mutate the LATEST one — open the table without asOf to write")
    }
    val dir = cmd.tableDir
    val nBuckets = EventStreams.tableNBuckets(spark, dir).getOrElse(refuse(
      s"$dir has no committed manifest to merge into"))
    val keyCols = EventStreams.tableKeyedBy(spark, dir).getOrElse(refuse(
      s"$dir records no key contract; run one mergeBatchIntoTable so " +
        "the table records it"))
    val reconcile = EventStreams.tableReconcileSpec(spark, dir)
    val versionCol = reconcile.map(_._2)
      .orElse(EventStreams.tableVersionedBy(spark, dir)).getOrElse(refuse(
        s"$dir records no version contract; run one mergeBatchIntoTable " +
          "so the table records it"))
    // the reconciling snapshot read: translated, delta-resolved — the
    // matched side of the join regardless of table posture
    val targetDF = EventStreams.readUpsertTable(spark, dir)
    require(!targetDF.columns.contains(matchedFlag),
      s"$dir has a reserved '$matchedFlag' column")
    val targetOut = analyzedOutput(targetDF)
    val vType = targetOut.find(_.name == versionCol).getOrElse(refuse(
      s"version contract '$versionCol' is not a column of $dir")).dataType

    val (batch, nMatched, nInserted) = cmd.operation match {
      case "merge" => mergeBatch(spark, cmd, dir, keyCols, versionCol,
        vType, targetDF, targetOut)
      case "update" => updateBatch(spark, cmd, dir, keyCols, versionCol,
        vType, targetDF, targetOut)
    }

    val head = EventStreams.latestCommittedBatchId(spark, dir)
    val batchId = GraftDataSource.sqlBatchId(spark)
      .getOrElse(head.getOrElse(-1L) + 1)
    val applied = head.forall(_ < batchId)
    if (applied) {
      EventStreams.mergeBatchIntoTable(batch, dir, keyCols, versionCol,
        nBuckets, batchId, retain = 2, delta = reconcile.isDefined)
    }
    val row = new GenericInternalRow(5)
    row.update(0, UTF8String.fromString(cmd.operation))
    row.setLong(1, batchId)
    row.setLong(2, nMatched)
    row.setLong(3, nInserted)
    row.setBoolean(4, applied)
    row
  }

  private def analyzedOutput(df: DataFrame): Seq[Attribute] =
    df.queryExecution.analyzed.output

  /** Rewrite target-attribute references (the analyzer resolved them
    * against the V2 relation) to the reconciling read's attributes, BY
    * NAME — the two frames share a schema but not expression ids.
    */
  private def remap(e: Expression, relAttrs: Seq[Attribute],
                    to: Seq[Attribute]): Expression = {
    val names = relAttrs.map(a => a.exprId -> a.name).toMap
    val byName = to.map(a => a.name -> a).toMap
    e.transform {
      case a: AttributeReference if names.contains(a.exprId) =>
        byName.getOrElse(names(a.exprId),
          refuse(s"column '${names(a.exprId)}' vanished from the target"))
    }
  }

  private def bridge(e: Expression): Column = ColumnBridge.column(e)

  /** One (name -> value expression) map from resolved assignments;
    * star actions expand from the source by name.
    */
  private def assignmentMap(assigns: Seq[Assignment],
                            relAttrs: Seq[Attribute]): Map[String, Expression] = {
    val names = relAttrs.map(a => a.exprId -> a.name).toMap
    assigns.map { a =>
      a.key match {
        case k: AttributeReference if names.contains(k.exprId) =>
          names(k.exprId) -> a.value
        case k: AttributeReference => k.name -> a.value
        case other => refuse(s"only whole-column assignments translate; " +
          s"got SET $other (nested-field updates need the Scala API)")
      }
    }.toMap
  }

  /** The MERGE batch: source LEFT JOIN target on the key equality, one
    * row per applying action, projected to the full target schema.
    * Returns (batch, matched-updates, inserts).
    */
  private def mergeBatch(spark: SparkSession, cmd: GraftSqlWriteCommand,
                         dir: String, keyCols: Seq[String],
                         versionCol: String, vType: DataType,
                         targetDF: DataFrame,
                         targetOut: Seq[Attribute]): (DataFrame, Long, Long) = {
    require(!cmd.withSchemaEvolution,
      refuseMsg("WITH SCHEMA EVOLUTION is not supported — the table " +
        "format widens through merges (a batch with new columns widens " +
        "the table); write the widened batch through the API"))
    require(cmd.notMatchedBySourceActions.isEmpty,
      refuseMsg("NOT MATCHED BY SOURCE clauses are not supported — " +
        "rows absent from the source are left untouched by a graft " +
        "merge; use DELETE for removals"))
    val update: Option[(Option[Expression], Map[String, Expression])] =
      cmd.matchedActions match {
        case Nil => None
        case Seq(u: UpdateAction) =>
          Some((u.condition, assignmentMap(u.assignments, cmd.targetAttrs)))
        case Seq(_: UpdateStarAction) =>
          refuse("UPDATE SET * did not expand during analysis")
        case other => refuse("exactly one WHEN MATCHED THEN UPDATE " +
          s"clause translates; got ${other.size} matched action(s) " +
          "(DELETE actions go through the committed delete surface)")
      }
    val insert: Option[(Option[Expression], Map[String, Expression])] =
      cmd.notMatchedActions match {
        case Nil => None
        case Seq(InsertAction(c, as)) =>
          Some((c, assignmentMap(as, cmd.targetAttrs)))
        case Seq(_: InsertStarAction) =>
          refuse("INSERT * did not expand during analysis")
        case other => refuse("exactly one WHEN NOT MATCHED THEN INSERT " +
          s"clause translates; got ${other.size} not-matched action(s)")
      }
    require(update.isDefined || insert.isDefined,
      refuseMsg("the MERGE has no translatable action"))

    val sourceDF = ColumnBridge.ofRows(spark, cmd.source.get)
    val sourceOut = analyzedOutput(sourceDF)
    require(!sourceDF.columns.contains(matchedFlag),
      refuseMsg(s"the source has a reserved '$matchedFlag' column"))

    // ON must be a conjunction of target-key = source equalities
    // covering EXACTLY the key contract: the committed merge addresses
    // rows by key, so any other shape would silently mis-match
    val cond = cmd.condition.getOrElse(refuse("MERGE needs an ON condition"))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val targetIds = cmd.targetAttrs.map(_.exprId).toSet
    val targetNames = cmd.targetAttrs.map(a => a.exprId -> a.name).toMap
    val sourceIds = sourceOut.map(_.exprId).toSet
    val onPairs: Seq[(String, Expression)] = conjuncts(cond).map {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(a: AttributeReference, b)
        if targetIds.contains(a.exprId) &&
          b.references.map(_.exprId).forall(sourceIds.contains) =>
        targetNames(a.exprId) -> b
      case org.apache.spark.sql.catalyst.expressions.EqualTo(b, a: AttributeReference)
        if targetIds.contains(a.exprId) &&
          b.references.map(_.exprId).forall(sourceIds.contains) =>
        targetNames(a.exprId) -> b
      case other => refuse("the ON condition must be a conjunction of " +
        s"target-key = source equalities; '$other' is neither side")
    }
    require(onPairs.map(_._1).toSet == keyCols.toSet,
      refuseMsg(s"the ON condition must cover exactly the key contract " +
        s"(${keyCols.mkString(",")}); it equates " +
        s"(${onPairs.map(_._1).mkString(",")})"))

    // an INSERT must assign every key column (a NULL key is
    // unaddressable), and an UPDATE may only "assign" a key to itself
    // or to the source expression the ON clause equates it to
    insert.foreach { case (_, as) =>
      val missing = keyCols.filterNot(as.contains)
      require(missing.isEmpty, refuseMsg("the INSERT action must assign " +
        s"every key column; missing (${missing.mkString(",")})"))
    }
    val onByKey = onPairs.toMap
    update.foreach { case (_, as) =>
      keyCols.foreach { k =>
        as.get(k).foreach { v =>
          val identity = v match {
            case a: AttributeReference =>
              targetNames.get(a.exprId).contains(k)
            case _ => false
          }
          val onEquated = onByKey.get(k).exists(_.semanticEquals(v))
          require(identity || onEquated, refuseMsg(s"the UPDATE action " +
            s"reassigns key column '$k' — an upsert cannot move a row " +
            "to a new key; DELETE + INSERT instead"))
        }
      }
    }

    val tagged = targetDF.withColumn(matchedFlag, lit(true))
    val taggedOut = analyzedOutput(tagged)
    def onTarget(e: Expression): Expression =
      remap(e, cmd.targetAttrs, taggedOut)
    val joined = sourceDF.join(tagged, bridge(onTarget(cond)), "left_outer")
    val matchedC = coalesce(col(matchedFlag), lit(false))
    val targetByName = taggedOut.map(a => a.name -> a).toMap

    def targetAttrC(name: String): Column = bridge(targetByName(name))
    val curV = targetAttrC(versionCol)

    // per-action gates (see class doc): stale matched updates SKIP
    val updGate = update.map { case (c, as) =>
      val condC = c.map(e => bridge(onTarget(e))).getOrElse(lit(true))
      val versionGuard = as.get(versionCol) match {
        case Some(v) => // assigned: strictly-newer wins; NULL current
          // (adopted legacy rows) always loses to a real version
          val newV = bridge(onTarget(v)).cast(vType)
          newV > curV || curV.isNull
        case None => // auto-bump always applies
          require(vType.isInstanceOf[NumericType], refuseMsg(
            s"the UPDATE leaves version column '$versionCol' " +
              s"unassigned and its type ($vType) cannot auto-bump — " +
              "assign it explicitly"))
          lit(true)
      }
      matchedC && condC && versionGuard
    }.getOrElse(lit(false))
    val insGate = insert.map { case (c, _) =>
      val condC = c.map(e => bridge(onTarget(e))).getOrElse(lit(true))
      !matchedC && condC
    }.getOrElse(lit(false))

    val outCols = targetOut.map { ta =>
      val updV: Column = update.map { case (_, as) =>
        as.get(ta.name) match {
          case Some(v) => bridge(onTarget(v)).cast(ta.dataType)
          case None if ta.name == versionCol =>
            (coalesce(curV.cast(LongType), lit(-1L)) + lit(1L))
              .cast(ta.dataType) // auto-bump in long space
          case None => targetAttrC(ta.name) // unassigned: keep
        }
      }.getOrElse(targetAttrC(ta.name))
      val insV: Column = insert.map { case (_, as) =>
        as.get(ta.name) match {
          case Some(v) => bridge(onTarget(v)).cast(ta.dataType)
          case None if ta.name == versionCol => lit(0L).cast(ta.dataType)
          case None => lit(null).cast(ta.dataType)
        }
      }.getOrElse(lit(null).cast(ta.dataType))
      when(matchedC, updV).otherwise(insV).as(ta.name)
    }

    // one bounded materialization serves the cardinality check, the
    // counts and the merge input (O(applied rows), never O(table))
    val flagged = joined.filter(updGate || insGate)
      .select(outCols :+ matchedC.as(matchedFlag): _*)
      .localCheckpoint()
    val dup = flagged.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, refuseMsg("the source matches a target key " +
      "more than once (or inserts one key twice) — MERGE requires " +
      "unique source keys; deduplicate the source"))
    val counts = flagged.agg(
      count(lit(1)).as("n"),
      count(when(col(matchedFlag), 1)).as("m")).head()
    val (n, m) = (counts.getLong(0), counts.getLong(1))
    (flagged.drop(matchedFlag), m, n - m)
  }

  /** The UPDATE batch: the degenerate matched-only merge whose source
    * is the table itself — filter, apply assignments, auto-bump the
    * version (so the rewrite always wins arbitration).
    */
  private def updateBatch(spark: SparkSession, cmd: GraftSqlWriteCommand,
                          dir: String, keyCols: Seq[String],
                          versionCol: String, vType: DataType,
                          targetDF: DataFrame,
                          targetOut: Seq[Attribute]): (DataFrame, Long, Long) = {
    val assigns = assignmentMap(cmd.updateAssignments, cmd.targetAttrs)
    val targetByName = targetOut.map(a => a.name -> a).toMap
    def onTarget(e: Expression): Expression =
      remap(e, cmd.targetAttrs, targetOut)
    keyCols.foreach { k =>
      assigns.get(k).foreach { v =>
        val identity = v match {
          case a: AttributeReference =>
            cmd.targetAttrs.find(_.exprId == a.exprId).exists(_.name == k)
          case _ => false
        }
        require(identity, refuseMsg(s"UPDATE reassigns key column '$k' " +
          "— an upsert cannot move a row to a new key"))
      }
    }
    if (!assigns.contains(versionCol))
      require(vType.isInstanceOf[NumericType], refuseMsg(
        s"UPDATE leaves version column '$versionCol' unassigned and " +
          s"its type ($vType) cannot auto-bump — assign it explicitly"))
    val filtered = cmd.condition
      .map(e => targetDF.filter(bridge(onTarget(e)))).getOrElse(targetDF)
    val outCols = targetOut.map { ta =>
      val cur = bridge(targetByName(ta.name))
      val v = assigns.get(ta.name) match {
        case Some(e) => bridge(onTarget(e)).cast(ta.dataType)
        case None if ta.name == versionCol =>
          // auto-bump: the rewritten row must WIN version arbitration
          // against the row it replaces
          (coalesce(cur.cast(LongType), lit(-1L)) + lit(1L))
            .cast(ta.dataType)
        case None => cur
      }
      v.as(ta.name)
    }
    val batch = filtered.select(outCols: _*).localCheckpoint()
    (batch, batch.count(), 0L)
  }

  private def refuseMsg(msg: String): String = s"graft SQL write: $msg"
}
