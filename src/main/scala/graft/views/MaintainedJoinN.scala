package graft.views

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Arrangement
import graft.streaming.{Changelog, IncrementalJoin}

/** Continuously maintained N-ARY join view — the reference's delta-query
  * join plan attached to persisted collections (`JoinPlan::Delta`,
  * `src/compute-types/src/plan/join.rs:46-51`; pipeline choice
  * `src/transform/src/join_implementation.rs`).
  *
  * Collections `<name>__in0 … __inN-1` (consolidated input changelogs) and
  * `<name>__out` live in ONE [[ViewCatalog]] commit group: every batch commits
  * all N+1 collections atomically with a recorded batchId (replay = no-op),
  * exactly like the binary [[MaintainedJoin]].
  *
  * ARRANGEMENT SHARING: input j's post-batch state appears in the j-prefix
  * of every later telescoping term, and its pre-batch state in every earlier
  * one — without sharing, each of the N terms re-reads and re-shuffles the
  * same collections (the round-2 gap: "each term re-reads states"). Here
  * each pre/post state is arranged ONCE per batch — hash-partitioned on its
  * join key and pinned ([[Arrangement.arrangeBy]]) — so all terms and the
  * final commit writes reuse one scan+shuffle per collection, and Catalyst
  * elides the per-term exchanges on the arranged side. Arrangements are
  * released after the commit.
  *
  * Work per batch is Σ_i |δ_i| · matches — independent of state size beyond
  * the arrangement scan, which is one pass per input (the reference pays the
  * same: its arrangements are maintained indices over the full collection).
  */
final class MaintainedJoinN(
    catalog: ViewCatalog,
    name: String,
    n: Int,
    stepKeys: Seq[Seq[String]]) {
  require(n >= 2 && stepKeys.size == n - 1)

  private def inName(i: Int) = s"${name}__in$i"
  private val outName = s"${name}__out"

  /** Input j joins the chain on stepKeys(j-1); input 0 on stepKeys(0). */
  private def keyOf(j: Int): Seq[String] = stepKeys(math.max(j - 1, 0))

  private def chainJoin(parts: Seq[DataFrame]): DataFrame =
    parts.zipWithIndex.tail.foldLeft(parts.head) { case (acc, (p, j)) =>
      IncrementalJoin.joinChangelogs(acc, p, stepKeys(j - 1))
    }

  def initialize(inputs: Seq[DataFrame]): Unit = {
    require(inputs.size == n)
    val cls = inputs.map(in => Changelog.consolidate(Changelog.fromRows(in)))
    catalog.commitGroup(name, -1L,
      cls.zipWithIndex.map { case (cl, i) => inName(i) -> cl }.toMap +
        (outName -> Changelog.consolidate(chainJoin(cls))))
    // durable definition recomputes from the live inputs — never captures a delta
    catalog.registerDefinition(outName, _ =>
      Changelog.consolidate(chainJoin((0 until n).map(i => catalog.table(inName(i))))))
  }

  /** Advance by one batch of per-input changelogs (any may be empty).
    * Returns false when `batchId >= 0` was already applied (replay no-op). */
  def applyBatch(deltas: Seq[DataFrame], batchId: Long = -1L): Boolean = {
    require(deltas.size == n)
    if (batchId >= 0 && catalog.lastBatchId(name) >= batchId) return false
    val states = (0 until n).map(i => catalog.table(inName(i)))
    // one arrangement per collection per batch, shared by all delta terms
    // AND the commit writes below
    val arrStates = states.zipWithIndex.map { case (s, j) =>
      Arrangement.arrangeBy(s, keyOf(j): _*)
    }
    val arrUpdated = arrStates.zip(deltas).zipWithIndex.map { case ((s, d), j) =>
      Arrangement.arrangeBy(Changelog.unionAll(s, d), keyOf(j): _*)
    }
    try {
      val outDelta = IncrementalJoin.deltaNWithUpdated(arrStates, arrUpdated, deltas, stepKeys)
      catalog.commitGroup(name, batchId,
        arrUpdated.zipWithIndex.map { case (u, i) =>
          inName(i) -> Changelog.consolidate(u)
        }.toMap +
          (outName -> Changelog.consolidate(
            catalog.table(outName).unionByName(outDelta))))
    } finally {
      arrUpdated.foreach(Arrangement.release)
      arrStates.foreach(Arrangement.release)
    }
  }

  /** The maintained join as a plain relation (positive-multiplicity rows). */
  def output: DataFrame =
    catalog.table(outName).filter(col(Changelog.DiffCol) > 0)

  /** AS OF: the output at global timestamp `seq` (e.g. an earlier
    * [[currentSeq]]), consistent with [[inputAsOf]] at the same timestamp. */
  def outputAsOf(seq: Long): DataFrame =
    catalog.tableAtTime(outName, seq).filter(col(Changelog.DiffCol) > 0)

  def inputAsOf(seq: Long, i: Int): DataFrame = catalog.tableAtTime(inName(i), seq)

  /** Global timestamp of the join's latest group commit. */
  def currentSeq: Option[Long] = catalog.currentGroupSeq(name)
}
