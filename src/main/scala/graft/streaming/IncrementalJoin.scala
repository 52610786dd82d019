package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental equi-join maintenance under arbitrary insert/retract
  * changelogs — the reference's linear join plan
  * (`src/compute/src/render/join/`, `JoinPlan::Linear`): for collections A, B
  * with updates δA, δB in one timestamp's batch,
  *
  *   δ(A ⋈ B) = δA ⋈ B ∪ A ⋈ δB ∪ δA ⋈ δB
  *
  * where multiset multiplicities MULTIPLY through the join
  * (`diff_out = diff_l · diff_r` — differential dataflow's product rule; a
  * retraction meeting a retraction yields +1, which is exactly the
  * inclusion-exclusion correction).
  *
  * Scale: each term is a plain Spark equi-join — shuffled on the join key
  * (or broadcast when one side is small), so the delta evaluation
  * parallelizes like any batch join and touches |δ|·matches rows, never the
  * full A ⋈ B. In continuous operation A and B are the maintained state
  * (e.g. materialized-view snapshots); the deltas are micro-batches.
  */
object IncrementalJoin {

  private val L = "__diff_l"
  private val R = "__diff_r"

  /** Join two changelogs on `keys`; multiplicities multiply. Non-key columns
    * must be disjoint (rename before calling, as with any join). */
  def joinChangelogs(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.withColumnRenamed(Changelog.DiffCol, L)
      .join(right.withColumnRenamed(Changelog.DiffCol, R), keys, "inner")
      .withColumn(Changelog.DiffCol, col(L) * col(R))
      .drop(L, R)

  /** The delta rule: output changelog of `A ⋈ B` for one batch, given the
    * pre-batch states and the batch's deltas. Union the result into the
    * maintained output (then consolidate) to advance the view. */
  def delta(
      aState: DataFrame, aDelta: DataFrame,
      bState: DataFrame, bDelta: DataFrame,
      keys: Seq[String]): DataFrame =
    Changelog.unionAll(
      joinChangelogs(aDelta, bState, keys),
      joinChangelogs(aState, bDelta, keys),
      joinChangelogs(aDelta, bDelta, keys))

  /** N-ary linear-chain delta rule — the reference's delta-query plan shape
    * (`JoinPlan::Delta`, `src/compute-types/src/plan/join.rs:46-51`): for a
    * join chain `A_1 ⋈ A_2 ⋈ … ⋈ A_n` (input `i+1` joins the prefix on
    * `stepKeys(i)`), one batch's output delta telescopes as
    *
    *   δOut = Σ_i  A_1' ⋈ … ⋈ A_{i-1}' ⋈ δA_i ⋈ A_{i+1} ⋈ … ⋈ A_n
    *
    * (primes = post-batch states `A_j ∪ δA_j`). Every term routes through a
    * delta-sized input, so no intermediate of the full join is ever
    * materialized — the property that gave the reference its 9.4 GB vs
    * 45.5 GB LDBC result (`test/ldbc-bi/20231206_eager_delta_join_experiment.md`). */
  def deltaN(
      states: Seq[DataFrame],
      deltas: Seq[DataFrame],
      stepKeys: Seq[Seq[String]]): DataFrame =
    deltaNWithUpdated(states,
      states.zip(deltas).map { case (s, d) => Changelog.unionAll(s, d) },
      deltas, stepKeys)

  /** [[deltaN]] with caller-supplied post-batch states — the ARRANGEMENT
    * SHARING hook (reference `join_implementation.rs`: per-input pipelines
    * reuse one arrangement of each input across all N telescoping terms).
    * Input j appears in up to N-1 terms; a caller that pins each
    * `states(j)`/`updated(j)` once (e.g. [[graft.plans.Arrangement.arrangeBy]]
    * on its join key) makes every term reuse that one shuffle+scan instead
    * of re-reading the collection per term. */
  def deltaNWithUpdated(
      states: Seq[DataFrame],
      updated: Seq[DataFrame],
      deltas: Seq[DataFrame],
      stepKeys: Seq[Seq[String]]): DataFrame = {
    require(states.size >= 2 && states.size == deltas.size &&
      updated.size == states.size && stepKeys.size == states.size - 1)
    val terms = states.indices.map { i =>
      val parts = states.indices.map { j =>
        if (j < i) updated(j) else if (j == i) deltas(i) else states(j)
      }
      parts.zipWithIndex.tail.foldLeft(parts.head) { case (acc, (p, j)) =>
        joinChangelogs(acc, p, stepKeys(j - 1))
      }
    }
    Changelog.unionAll(terms: _*)
  }
}
