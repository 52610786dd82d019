package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, sum}

/** `WITH MUTUALLY RECURSIVE` / `LetRec` analog
  * (reference `src/expr/src/relation.rs:154-166`).
  *
  * Spark has no recursive-plan primitive, so we run a driver-side
  * **semi-naive** fixpoint: each round only the newly-discovered rows
  * (`delta`) feed the step function, and iteration stops when no new rows
  * appear or `maxIter` is hit (the reference's per-binding `limits`).
  *
  * Scale notes: `localCheckpoint` truncates lineage each round — without it
  * the plan tree grows linearly with iterations and planning cost explodes.
  * Each round is a distributed distinct + except; state lives in executors,
  * never on the driver.
  */
object Recursion {

  /** Marker column of the single-aggregation delta step (absent from every
    * user relation fed to a fixpoint — double-underscore namespace). */
  private val TagCol = "__graft_known"

  /** Least fixpoint of `base ∪ step(·)` under set semantics.
    *
    * REQUIRES a **linear** step: the semi-naive loop feeds only the
    * newly-discovered delta to `step`, which computes the true fixpoint only
    * when `step` distributes over union (`step(A ∪ B) = step(A) ∪ step(B)`)
    * — e.g. `frontier ⋈ static_edges`. A non-linear step (frontier joined
    * with itself, as in `path ⋈ path` transitive closure) needs naive
    * iteration over the full accumulated set instead.
    *
    * Hitting `maxIter` without convergence (the reference's per-binding
    * `limits`, relation.rs:154-166, which also truncates silently by default)
    * logs a warning and returns the truncated result.
    */
  /** `stepsPerCheck > 1` batches K lazily-composed step applications per
    * materialized round. Correct ONLY for linear steps — which [[fixpoint]]
    * itself already requires (see above: semi-naive feeds only the delta);
    * still, the default stays at the sequential 1 so a caller must opt in
    * where linearity was actually verified. */
  def fixpoint(
      base: DataFrame,
      step: DataFrame => DataFrame,
      maxIter: Int = 100,
      stepsPerCheck: Int = 1): DataFrame = {
    require(stepsPerCheck >= 1)
    // LAZY checkpoints throughout: `delta.isEmpty` is the round's single
    // explicit job — Spark's end-of-job checkpoint pass materializes the
    // marked ancestors in the same action, so each round costs one driver
    // round-trip instead of four (delta job, emptiness, union job, loop-top
    // emptiness). Lineage is still truncated every round.
    //
    // `stepsPerCheck` batches K lazily-composed step applications into ONE
    // materialized round (the same r18 trick mutualFixpoint already uses):
    // driver/job-launch latency dominates small fixpoints, so an R-round
    // fixpoint costs ~R/K round-trips. For a LINEAR step this is the
    // standard batched semi-naive form — every row of `all` has already had
    // `step` applied in the round that discovered it, so re-derivations
    // inside a batch are removed by the same `except(all)`; union of the K
    // intermediate step outputs is exactly what K sequential rounds would
    // have discovered. Batches clamp at maxIter, preserving the truncation
    // semantics (the reference's LetRec `limits`) step-for-step.
    var all = base.distinct().localCheckpoint(false)
    var frontier = all
    var i = 0
    while (i < maxIter) {
      val k = math.min(stepsPerCheck, maxIter - i)
      var sub = frontier
      var news: DataFrame = null
      var j = 0
      while (j < k) {
        sub = step(sub)
        // LAZY lineage boundary between sub-steps: a step closure that joins
        // a captured DataFrame would otherwise appear twice in the composed
        // plan and trip DetectAmbiguousSelfJoin; the checkpoint mark costs no
        // extra job (it materializes inside the round's single isEmpty action)
        if (j < k - 1) sub = sub.localCheckpoint(false)
        news = if (news == null) sub else news.union(sub)
        j += 1
      }
      // single-aggregation delta (replaces `news.except(all)` + the separate
      // `all.union(delta)` maintenance): tag known rows 0 and candidates 1,
      // aggregate once over all columns — min(tag)=1 rows are exactly the
      // EXCEPT (set semantics included), and the aggregated relation itself
      // IS the new `all` (old ∪ delta, distinct). One exchange per round
      // where except planned an anti-join over two shuffled sides plus a
      // distinct, and the union upkeep rides the same checkpointed RDD.
      val cols = all.columns.toIndexedSeq.map(col)
      val tagged = all.withColumn(TagCol, lit(0))
        .union(news.withColumn(TagCol, lit(1)))
        .groupBy(cols: _*)
        .agg(min(col(TagCol)).as(TagCol))
        .localCheckpoint(false) // materialized by the isEmpty below
      val delta = tagged.filter(col(TagCol) === 1).drop(TagCol)
      if (delta.isEmpty) return all
      all = tagged.drop(TagCol)
      frontier = delta
      i += k
    }
    System.err.println(s"[graft] WARN Recursion.fixpoint: maxIter=$maxIter reached " +
      "without convergence; result is truncated (the reference's LetRec `limits` semantics)")
    all
  }

  /** Per-binding iteration cap — the reference's `LetRecLimit`
    * (relation.rs:154-166): after `maxIters` rounds the binding freezes at
    * its current value while others continue. */
  final case class LetRecLimit(maxIters: Int)

  /** `WITH MUTUALLY RECURSIVE` (reference `LetRec`, relation.rs:154-166):
    * N bindings re-evaluated JOINTLY until every binding is stable —
    * `X_j^{t+1} = step_j(X_1^t … X_N^t)`, general fixed-point iteration
    * (each step sees all current bindings; steps typically include their
    * base as `base ∪ …`, matching the reference's recomputation semantics
    * rather than blind accumulation).
    *
    * `limits(j)` freezes binding j after its round cap (per-binding
    * `LetRecLimit`); the global `maxIter` guards divergence like
    * [[fixpoint]]. Each round is distributed (distinct + exceptAll on
    * executors, localCheckpoint lineage truncation); the driver only
    * orchestrates. */
  def mutualFixpoint(
      bases: Seq[DataFrame],
      step: Seq[DataFrame] => Seq[DataFrame],
      limits: Seq[Option[LetRecLimit]] = Nil,
      maxIter: Int = 100,
      stepsPerCheck: Int = 1): Seq[DataFrame] = {
    require(bases.nonEmpty)
    require(stepsPerCheck >= 1)
    // `stepsPerCheck > 1` batches K step applications into ONE materialized
    // round (the intermediate plans compose lazily — no extra jobs), so a
    // fixpoint needing R rounds costs ~R/K driver round-trips. The endpoint
    // convergence test (X^{t+K} == X^t) implies a fixpoint only for
    // INFLATIONARY iterate sequences (each binding grows over rounds, the
    // LetRec-over-sets common case); a non-monotone step could cycle with
    // period dividing K undetected. Per-binding limits count rounds, which
    // batching would miscount — mutually exclusive by construction.
    require(stepsPerCheck == 1 || limits.forall(_.isEmpty),
      "stepsPerCheck > 1 cannot honor per-binding LetRec limits")
    val lim: Seq[Option[LetRecLimit]] =
      if (limits.isEmpty) Seq.fill(bases.size)(None) else limits
    var cur = bases.map(_.distinct().localCheckpoint(false))
    val frozen = Array.fill(bases.size)(false)
    var i = 0
    while (i < maxIter) {
      var proposed = step(cur)
      require(proposed.size == cur.size, "step must return one plan per binding")
      var k = 1
      while (k < stepsPerCheck && i + k < maxIter) {
        proposed = step(proposed)
        k += 1
      }
      // LAZY checkpoints: materialization piggybacks on the one
      // change-detection job below instead of costing a job per binding
      val next = proposed.zip(cur).zipWithIndex.map { case ((n, c), j) =>
        if (frozen(j)) c else n.distinct().localCheckpoint(false)
      }
      // ONE job per round: union every live binding's symmetric difference
      // (normalized to a single column) and test emptiness — driver/job-launch
      // latency dominates small fixpoints, so 2N emptiness jobs became the
      // bottleneck, not the distributed work itself. Each binding's multiset
      // symmetric difference is ONE +1/-1 aggregation (sum per distinct row
      // ≠ 0) instead of two exceptAll anti-joins — one exchange per binding,
      // not four.
      val diffs = next.zip(cur).zipWithIndex.collect {
        case ((n, c), j) if !frozen(j) && (n ne c) =>
          val cols = n.columns.toIndexedSeq.map(col)
          n.withColumn(TagCol, lit(1L)).union(c.withColumn(TagCol, lit(-1L)))
            .groupBy(cols: _*)
            .agg(sum(col(TagCol)).as(TagCol))
            .filter(col(TagCol) =!= 0L)
            .select(lit(1).as("one"))
      }
      val changed = diffs.reduceOption(_ unionByName _).exists(!_.isEmpty)
      cur = next
      i += k
      lim.zipWithIndex.foreach { case (l, j) =>
        if (l.exists(_.maxIters <= i)) frozen(j) = true
      }
      if (!changed) return cur
    }
    System.err.println(s"[graft] WARN Recursion.mutualFixpoint: maxIter=$maxIter reached " +
      "without convergence; result is truncated (the reference's LetRec limits semantics)")
    cur
  }
}
