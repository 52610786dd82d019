package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, sum}

/** `WITH MUTUALLY RECURSIVE` / `LetRec` analog
  * (reference `src/expr/src/relation.rs:154-166`).
  *
  * Spark has no recursive-plan primitive, so fixpoints run as driver-side
  * loops, and there are two: [[fixpoint]] is **semi-naive** (only the
  * newly-discovered rows feed the step) for a step the caller declares
  * linear; [[letRec]] is naive, for N bindings and any round function,
  * and it is what SQL `WITH MUTUALLY RECURSIVE` runs.
  *
  * Scale notes: `localCheckpoint` truncates lineage each round — without it
  * the plan tree grows linearly with iterations and planning cost explodes.
  * Each round is distributed; state lives in executors, never on the driver.
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
    * iteration over the full accumulated set instead ([[letRec]]).
    *
    * Hitting `maxIter` without convergence (the reference's per-binding
    * `limits`, relation.rs:154-166, which also truncates silently by default)
    * logs a warning and returns the truncated result.
    */
  def fixpoint(
      base: DataFrame,
      step: DataFrame => DataFrame,
      maxIter: Int = 100): DataFrame = {
    // LAZY checkpoints throughout: `delta.isEmpty` is the round's single
    // explicit job, and Spark's end-of-job checkpoint pass materializes the
    // marked ancestors in the same action.
    //
    // Each round applies `step` twice, lazily composed: driver/job-launch
    // latency dominates small fixpoints. For a LINEAR step this is batched
    // semi-naive evaluation — re-derivations inside a round are removed by
    // the delta test below. 2 is the measured knee: 4 was slower on the
    // embedding-cosine connected components. The last round clamps at
    // maxIter, so truncation stays step-for-step.
    var all = base.distinct().localCheckpoint(false)
    var frontier = all
    var i = 0
    while (i < maxIter) {
      val k = math.min(2, maxIter - i)
      // LAZY lineage boundary between the two steps: a step closure that
      // joins a captured DataFrame would otherwise appear twice in the
      // composed plan and trip DetectAmbiguousSelfJoin; the mark costs no
      // extra job (it materializes inside the round's single isEmpty action)
      val once = if (k == 1) step(frontier) else step(frontier).localCheckpoint(false)
      val news = if (k == 1) once else once.union(step(once))
      // tag known rows 0 and candidates 1 and aggregate once over all
      // columns: min(tag)=1 rows are the delta, and the aggregate itself is
      // the new `all` (old ∪ delta, distinct) — one exchange per round
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

  /** Rounds [[letRec]] builds lazily per change-detection job. */
  private val BatchRounds = 8

  /** The reference's `LetRec{ids, values, limits, body}` fixpoint
    * (relation.rs:154-166), naive and under multiset semantics:
    * `X^0 = inits`, `X^{t+1} = round(X^t)`, until two consecutive rounds
    * are equal or `maxIter` rounds have run. Binding j freezes at its value
    * after `limits(j)` rounds while the others continue.
    *
    * `round` owns what a round means: set semantics (`distinct()`), the
    * update order (Jacobi, or SQL's sequential rule, which sees fresh
    * values before freezing applies), and a lazy `localCheckpoint(false)`
    * per binding so plans do not grow with the rounds. Returns the last
    * round's bindings and whether they converged.
    *
    * Driver round trips, not data, dominate small fixpoints, so ONE job
    * per [[BatchRounds]] rounds materializes them and compares the batch's
    * last two rounds — exact for any round function, because a fixpoint
    * reached mid-batch stays fixed.
    */
  def letRec(
      inits: Seq[DataFrame],
      round: Seq[DataFrame] => Seq[DataFrame],
      limits: Seq[Option[LetRecLimit]] = Nil,
      maxIter: Int = 100): (Seq[DataFrame], Boolean) = {
    val lim = if (limits.isEmpty) inits.map(_ => None) else limits
    require(lim.size == inits.size, "one limit per binding")
    var cur = inits
    var i = 0
    while (i < maxIter) {
      var prev = cur
      val end = math.min(i + BatchRounds, maxIter)
      while (i < end) {
        val next = round(cur)
        require(next.size == cur.size, "round must return one plan per binding")
        i += 1
        prev = cur
        cur = next.indices.map { j =>
          if (lim(j).exists(_.maxIters < i)) prev(j) else next(j)
        }
      }
      val diffs = cur.indices.collect {
        case j if cur(j) ne prev(j) => symmetricDiff(cur(j), prev(j))
      }
      if (diffs.reduceOption(_ union _).forall(_.isEmpty)) return (cur, true)
    }
    (cur, false)
  }

  /** One row per distinct row whose multiplicity differs between `a` and
    * `b` (a +1/-1 sum per row); columns are matched by position. */
  private def symmetricDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.indices.map(j => s"c$j")
    a.toDF(cols: _*).withColumn(TagCol, lit(1L))
      .union(b.toDF(cols: _*).withColumn(TagCol, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(TagCol)).as(TagCol))
      .filter(col(TagCol) =!= 0L)
      .select(lit(1).as("one"))
  }
}
