package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate (SURVEY.md §2.7; reference ETL.py:142-201).
  *
  * The reference runs 9 separate full-table scans (one per check). Here the
  * whole check set compiles into one set of conditional counts, one column
  * per check, evaluated in a single pass: as an aggregate (`report`), or
  * as observed metrics of the pass that materializes the gated frame
  * (`enforce`, `observed`), which then costs no scan of its own.
  *
  * Failure semantics match the reference's fail-stop gate: `enforce` throws
  * `ValidationException` carrying a bounded sample of offending values (V5,
  * ETL.py:184-191) — the sample is `limit(n)`-collected, never the full
  * violation set.
  */
object Validation {

  final case class ValidationException(msg: String) extends RuntimeException(msg)

  /** A single data-quality check compiled to a violation predicate. */
  sealed trait Check {
    def name: String
    def violation: Column
  }
  /** V1: column must be non-null. */
  final case class NotNull(colName: String) extends Check {
    val name = s"notnull_$colName"
    def violation: Column = col(colName).isNull
  }
  /** V2/V3: column within [lo, hi]. */
  final case class InRange(colName: String, lo: Double, hi: Double) extends Check {
    val name = s"range_$colName"
    def violation: Column = !col(colName).between(lo, hi) || col(colName).isNull
  }
  /** V4: column >= 0. */
  final case class NonNegative(colName: String) extends Check {
    val name = s"nonneg_$colName"
    def violation: Column = col(colName) < 0
  }
  /** V5: soft outlier bounds — reported with sample values. */
  final case class Outlier(colName: String, lo: Double, hi: Double) extends Check {
    val name = s"outlier_$colName"
    def violation: Column = !col(colName).between(lo, hi)
  }

  /** One row with one violation-count column per check (single scan). */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      checks.map(c => count(when(c.violation, lit(1))).as(c.name))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Zero-extra-scan gate: attach the checks as `observe()` metrics so
    * they are computed as a side effect of whatever action consumes the
    * frame (e.g. the sink write) — at 100 TB the validation costs nothing
    * beyond the write itself. Call `assertClean` AFTER the action.
    */
  def observed(df: DataFrame, checks: Seq[Check], name: String = "graft_checks"): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val aggs = count(lit(1)).as("n_rows") +:
      checks.map(c => count(when(c.violation, lit(1))).as(c.name))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Throws ValidationException if any observed check saw violations. */
  def assertClean(obs: org.apache.spark.sql.Observation, checks: Seq[Check]): Unit = {
    val m = obs.get
    val failed = checks.filter(c => m(c.name).asInstanceOf[Long] > 0)
    if (failed.nonEmpty)
      throw ValidationException("validation failed — " +
        failed.map(c => s"${c.name}: ${m(c.name)} violations").mkString("; "))
  }

  /** Fail-stop gate in one materializing pass. The checks ride along as
    * [[observed]] metrics while `df` is `localCheckpoint()`-ed, so one
    * action computes both the rows and the check counts. If any check saw
    * violations it throws `ValidationException` with up to `sampleN`
    * offending values per failed check (sampled from the materialized
    * rows) before returning. Otherwise it returns the materialized frame:
    * the same rows, read back from the checkpoint, so the gated plan never
    * runs a second time downstream.
    */
  def enforce(df: DataFrame, checks: Seq[Check], sampleN: Int = 5): DataFrame = {
    val (gated, obs) = observed(df, checks)
    val materialized = gated.localCheckpoint()
    val counts = obs.get
    val failed = checks.filter(c => counts(c.name).asInstanceOf[Long] > 0)
    if (failed.nonEmpty) {
      val detail = failed.map { c =>
        val sample = materialized.filter(c.violation).select(col(c.colNameOf)).limit(sampleN)
          .collect().map(_.get(0)).mkString(", ")
        s"${c.name}: ${counts(c.name)} violations (sample: $sample)"
      }.mkString("; ")
      throw ValidationException(s"validation failed — $detail")
    }
    materialized
  }

  implicit private class CheckCol(private val c: Check) extends AnyVal {
    def colNameOf: String = c match {
      case NotNull(n) => n
      case InRange(n, _, _) => n
      case NonNegative(n) => n
      case Outlier(n, _, _) => n
    }
  }
}
