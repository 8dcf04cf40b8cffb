package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-family functions for near-dup detection ([ext], SURVEY.md §2.8):
  * MinHash signatures and LSH band keys, built entirely from codegen'd
  * built-ins (`xxhash64` over nested lambdas). SimHash lives in
  * graft.plans.SimHash64 (a custom Catalyst expression — per-bit counters
  * aren't expressible efficiently with built-ins).
  */
object Hashes {

  /** MinHash signature of a shingle array: k independent hash slots,
    * slot i = min over shingles of a slot-seeded xxhash64. Delegates to
    * the custom Catalyst expression graft.plans.MinHashSig — the
    * higher-order-function formulation re-evaluates the shingle subtree
    * k times per row once CollapseProject inlines it (see MinHashSig
    * scaladoc). Empty/all-null input -> null signature — filter first.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.plans.MinHashSig.minhashSig(shingles, k)

  /** Jaccard similarity of two string arrays as SETS (array_intersect /
    * array_union both dedup — mirrors DuckDB list_intersect semantics).
    */
  def jaccardSet(a: Column, b: Column): Column =
    try_divide(
      size(array_intersect(a, b)).cast("double"),
      size(array_union(a, b)).cast("double"))
}
