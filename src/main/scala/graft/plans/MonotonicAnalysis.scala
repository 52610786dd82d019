package graft.plans

import org.apache.spark.sql.DataFrame


import graft.streaming.Changelog

/** Monotonicity (append-only) analysis — the reference's
  * `src/transform/src/monotonic.rs` marks subgraphs whose collections only
  * ever grow, letting Reduce/TopK render without retraction machinery
  * (`MonotonicTop1/MonotonicTopK`, `src/compute-types/src/plan/top_k.rs:28-35`).
  *
  * In our changelog model a plan is monotonic iff no row can carry a
  * negative `diff`. This is decided POSITIVELY by [[DiffProvenance]]: the
  * diff attribute must trace back, untouched or through provably
  * sign-preserving constructions, to the `+1` literal
  * [[Changelog.fromRows]] stamps. Anything the analysis cannot recognize —
  * an explicit negation, `diff * -1` hidden in SQL, an opaque typed
  * operator (flatMapGroupsWithState, so upsert-envelope outputs), a
  * changelog re-read from storage — is conservatively NON-monotonic.
  * (The previous implementation scanned for a `UnaryMinus` over the diff
  * column and assumed monotonic otherwise; a negation written any other way
  * escaped the scan and would have sent a retracting plan down the
  * append-only state path, whose `require(diff > 0)` kills the query at
  * runtime.)
  *
  * No planner consults the flag today: a caller that knows its input is
  * append-only picks a monotonic reducer itself
  * ([[graft.streaming.HierarchicalMinMax.monotonicMinMaxStream]], O(1)
  * (min,max) state instead of a per-key value multiset, or
  * [[graft.streaming.MonotonicTopK]]), and DiffProvenance's sign proof
  * serves [[Changelog.threshold]].
  */
object MonotonicAnalysis {

  def isMonotonic(df: DataFrame): Boolean = DiffProvenance.nonNegative(df)
}
