package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, UnaryMinus}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._

/** Changelog (diff-multiset) algebra.
  *
  * The reference's native data model is a multiset of rows with signed
  * multiplicities — updates are `(row, timestamp, diff)` triples
  * (reference `src/repr/src/diff.rs`; `src/expr/src/relation.rs:278-297` for
  * Negate/Threshold/Union). We model the same thing as a DataFrame with an
  * explicit `diff: Long` column; these operators work identically on batch
  * DataFrames and (where Spark allows the aggregation) streaming ones.
  *
  * Scale notes: `consolidate` is a single hash aggregation over all columns —
  * map-side partial aggregation keeps the shuffle proportional to distinct
  * rows, not input rows. No driver-side state.
  */
object Changelog {
  val DiffCol = "diff"

  /** Attach diff=+1 to a plain relation, making it a changelog. */
  def fromRows(df: DataFrame): DataFrame = df.withColumn(DiffCol, lit(1L))

  /** `Negate` (relation.rs:278-281): flip multiplicities. */
  def negate(df: DataFrame): DataFrame =
    df.withColumn(DiffCol, -col(DiffCol))

  /** Multiset `Union` (relation.rs:292-297): multiplicities add.
    *
    * Applies UNION CANCELLATION (reference `src/transform/src/union_cancel.rs`)
    * first: a branch that is exactly the negation of another branch
    * (canonicalized-plan equality under the Negate projection) annihilates
    * with it — the pair contributes nothing to any row's net multiplicity, so
    * both are dropped before Spark ever evaluates them. An all-cancelled
    * union is the empty changelog. */
  def unionAll(dfs: DataFrame*): DataFrame = {
    val remaining = cancelPairs(dfs)
    if (remaining.isEmpty) dfs.head.filter(lit(false))
    else remaining.reduce(_.unionByName(_))
  }

  /** The canonical plan a branch adds (positively or negatively): Negate's
    * `withColumn(diff, -diff)` projection is peeled so `x` and `negate(x)`
    * share a base. */
  private def signedBase(df: DataFrame): (LogicalPlan, Int) =
    df.queryExecution.analyzed match {
      case Project(list, child) if list.length == child.output.length &&
        list.zip(child.output).forall {
          case (a: Attribute, c) => a.exprId == c.exprId
          case (Alias(UnaryMinus(a: Attribute, _), DiffCol), c) =>
            a.exprId == c.exprId && c.name == DiffCol
          case _ => false
        } && list.exists {
          case Alias(UnaryMinus(_, _), DiffCol) => true
          case _ => false
        } => (child.canonicalized, -1)
      case p => (p.canonicalized, 1)
    }

  private def cancelPairs(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val sigs = dfs.map(signedBase)
    val cancelled = Array.fill(dfs.length)(false)
    for (i <- dfs.indices; j <- dfs.indices
        if i < j && !cancelled(i) && !cancelled(j) &&
          sigs(i)._1 == sigs(j)._1 && sigs(i)._2 == -sigs(j)._2) {
      cancelled(i) = true
      cancelled(j) = true
    }
    dfs.indices.collect { case i if !cancelled(i) => dfs(i) }
  }

  /** Sum multiplicities per distinct row; drop rows with net 0.
    * (The analog of differential dataflow's consolidation.) */
  def consolidate(df: DataFrame): DataFrame = {
    val keys = df.columns.filterNot(_ == DiffCol).map(col)
    df.groupBy(keys.toIndexedSeq: _*)
      .agg(sum(DiffCol).as(DiffCol))
      .filter(col(DiffCol) =!= 0L)
  }

  /** `Threshold` (relation.rs:285-288): keep rows with positive net
    * multiplicity.
    *
    * THRESHOLD ELISION (reference `src/transform/src/threshold_elision.rs`):
    * when [[graft.plans.DiffProvenance]] proves every diff ≥ 0, no
    * cancellation can occur, so the all-columns consolidation aggregation —
    * a full shuffle — is dropped and only the zero-diff filter remains. The
    * result is then the (unconsolidated) input multiset, which is the same
    * changelog: multiplicities may be split across rows instead of summed,
    * and every consumer of a changelog must be (and is) insensitive to that
    * split. Callers needing the consolidated SHAPE use [[consolidate]]. */
  def threshold(df: DataFrame): DataFrame =
    if (graft.plans.DiffProvenance.nonNegative(df)) df.filter(col(DiffCol) > 0L)
    else consolidate(df).filter(col(DiffCol) > 0L)

  /** Collapse a changelog back to a plain relation by expanding positive
    * multiplicities (the reference's `RepeatRow` table function,
    * `src/expr/src/relation/func.rs:3611-3614`). */
  def toRows(df: DataFrame): DataFrame = expand(threshold(df))

  /** [[toRows]] for an ALREADY-consolidated changelog: `threshold` on an
    * unprovably-signed input re-consolidates — a second all-columns exchange
    * over rows the caller just aggregated — so the consolidated-shape caller
    * (ViewCatalog merge-on-read reconstruction) skips straight to the
    * positive filter + expansion. Correct ONLY when each distinct row
    * appears once (the consolidated shape); multiplicities split across
    * entries would expand per-entry instead of per-net-sum. */
  def toRowsOfConsolidated(df: DataFrame): DataFrame =
    expand(df.filter(col(DiffCol) > 0L))

  private def expand(positive: DataFrame): DataFrame = {
    val cols = positive.columns.filterNot(_ == DiffCol).map(col)
    // array_repeat takes an Int count; a >2³¹ multiplicity would silently
    // truncate under a bare cast, so raise instead (expanding 2 billion
    // copies of one row is out of scope for RepeatRow either way).
    val guarded = when(col(DiffCol) > Int.MaxValue.toLong,
        raise_error(concat(
          lit(s"Changelog.toRows: row multiplicity exceeds Int.MaxValue: "),
          col(DiffCol))))
      .otherwise(col(DiffCol)).cast("int")
    positive
      .withColumn("__rep", explode(array_repeat(lit(1), guarded)))
      .select(cols.toIndexedSeq: _*)
  }
}
