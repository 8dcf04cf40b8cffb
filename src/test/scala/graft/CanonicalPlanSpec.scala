package graft

import org.scalatest.funsuite.AnyFunSuite

/** The canonical plan string Bench hashes (and `Run plan` prints): each
  * rewrite pinned on a handwritten plan. A change here changes every
  * recorded plan hash, so it must be deliberate.
  */
class CanonicalPlanSpec extends AnyFunSuite {
  import Bench.canonicalPlan

  test("DPP filter: depth-0 conjuncts sorted, nested ones and other lines untouched") {
    assert(canonicalPlan(":  +- 'Filter (isnotnull(none#2) AND dynamicpruning#0 [none#2])") ===
      ":  +- 'Filter (dynamicpruning#0 [none#2] AND isnotnull(none#2))\n")
    assert(Bench.normalizeDppLine("Filter (isnotnull(k#1) AND (b#2 AND a#3) AND dynamicpruning#0 [k#1]) AND z") ===
      "Filter ((b#2 AND a#3) AND dynamicpruning#0 [k#1] AND isnotnull(k#1)) AND z")
    assert(Bench.normalizeDppLine("Filter (isnotnull(k#1) AND a#3)") === "Filter (isnotnull(k#1) AND a#3)")
  }

  test("object identities read @id") {
    assert(canonicalPlan("Aggregate [graft.Agg$$anon$1@1f2e3d]") === "Aggregate [graft.Agg$$anon$1@id]\n")
  }

  test("lambda hidden-class addresses read $$Lambda") {
    assert(canonicalPlan("MapElements graft.Q$$Lambda$2524/0x00007f67a1b2c3d8@5e6f, obj#3") ===
      "MapElements graft.Q$$Lambda@id, obj#3\n")
  }

  test("the per-process warehouse dir reads graft-bench-wh") {
    assert(canonicalPlan("Relation [file:/tmp/graft-bench-wh8301675912/q116_part] parquet") ===
      "Relation [file:/tmp/graft-bench-wh/q116_part] parquet\n")
  }

  test("partitioning(exprs, n) reads N; an expression list with parens is left as is") {
    assert(canonicalPlan("RepartitionByExpression [k#1], hashpartitioning(none#1, none#2, 200)") ===
      "RepartitionByExpression [k#1], hashpartitioning(none#1, none#2, N)\n")
    assert(canonicalPlan("hashpartitioning(cast(none#1 as int), 8)") ===
      "hashpartitioning(cast(none#1 as int), 8)\n")
  }

  test("Partitioning(n) without an expression list reads N") {
    assert(canonicalPlan("LogicalRDD [a#1], false, RoundRobinPartitioning(32), UnknownPartitioning(5)") ===
      "LogicalRDD [a#1], false, RoundRobinPartitioning(N), UnknownPartitioning(N)\n")
  }

  test("exactly one trailing newline, with or without one in the input") {
    assert(canonicalPlan("Project [a#1]\n+- LocalRelation <empty>, [a#1]") ===
      "Project [a#1]\n+- LocalRelation <empty>, [a#1]\n")
    assert(canonicalPlan("Project [a#1]\n+- LocalRelation <empty>, [a#1]\n") ===
      "Project [a#1]\n+- LocalRelation <empty>, [a#1]\n")
  }

  test("the hash is the first 4 bytes of the canonical string's MD5") {
    assert(Bench.planHash("") === "d41d8cd9")
  }
}
