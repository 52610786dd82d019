package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental equi-join maintenance under arbitrary insert/retract
  * changelogs — the reference's delta-query join plan (`JoinPlan::Delta`,
  * `src/compute-types/src/plan/join.rs:46-51`; `src/compute/src/render/join/`).
  * Multiset multiplicities MULTIPLY through the join
  * (`diff_out = diff_l · diff_r` — differential dataflow's product rule).
  *
  * One delta rule covers every arity: for a chain `A_1 ⋈ … ⋈ A_n` (input
  * `j+1` joins the prefix on `stepKeys(j)`) and one batch's updates `δA_i`,
  *
  *   δOut = Σ_i  A_1' ⋈ … ⋈ A_{i-1}' ⋈ δA_i ⋈ A_{i+1} ⋈ … ⋈ A_n
  *
  * (primes = post-batch states `A_j ∪ δA_j`). At n = 2 this is
  * `δA ⋈ B ∪ A' ⋈ δB`, which equals the textbook three-term
  * `δA ⋈ B ∪ A ⋈ δB ∪ δA ⋈ δB` over Z-relations ("Recent Increments in
  * Incremental View Maintenance", PODS 2024) with one join fewer.
  *
  * Scale: each term is a plain Spark equi-join routed through a delta-sized
  * input, so no intermediate of the full join is ever materialized — the
  * property that gave the reference its 9.4 GB vs 45.5 GB LDBC result
  * (`test/ldbc-bi/20231206_eager_delta_join_experiment.md`).
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

  /** `parts(0) ⋈ parts(1) ⋈ …`, part `j` joining the prefix on
    * `stepKeys(j - 1)`. */
  def joinChain(parts: Seq[DataFrame], stepKeys: Seq[Seq[String]]): DataFrame = {
    require(parts.nonEmpty && stepKeys.size == parts.size - 1,
      s"${parts.size} inputs need ${parts.size - 1} step keys, got ${stepKeys.size}")
    parts.tail.zip(stepKeys).foldLeft(parts.head) { case (acc, (p, k)) =>
      joinChangelogs(acc, p, k)
    }
  }

  /** The delta rule: the output changelog of `joinChain(states)` for one
    * batch, given the pre-batch states and the batch's deltas (any may be
    * empty). Union it into the maintained output (then consolidate) to
    * advance the view. */
  def deltaN(
      states: Seq[DataFrame],
      deltas: Seq[DataFrame],
      stepKeys: Seq[Seq[String]]): DataFrame = {
    require(states.size >= 2 && deltas.size == states.size)
    val updated = states.zip(deltas).map { case (s, d) => Changelog.unionAll(s, d) }
    Changelog.unionAll(states.indices.map { i =>
      joinChain(states.indices.map { j =>
        if (j < i) updated(j) else if (j == i) deltas(i) else states(j)
      }, stepKeys)
    }: _*)
  }
}
