package graft.views

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{Changelog, IncrementalJoin}

/** Continuously maintained JOIN view — the MV lifecycle composed with the
  * incremental-join delta rule (reference: a materialized view over a join
  * is a persist-backed dataflow whose join operator updates incrementally,
  * `src/compute/src/sink/materialized_view.rs` + `render/join/`).
  *
  * The view joins n ≥ 2 inputs in a chain: input `j+1` joins the prefix on
  * `stepKeys(j)` (one step, `keys`, for the binary join). Its versioned
  * collections live in the [[ViewCatalog]]: `<name>__in0 … __in<n-1>`
  * (consolidated input changelogs) and `<name>__out` (the consolidated join
  * changelog). Each [[applyBatch]] evaluates ONLY the delta-sized terms of
  * [[IncrementalJoin.deltaN]], merges, and commits every collection in ONE
  * atomic timeline entry ([[ViewCatalog.commitGroup]]) — a reader can never
  * observe the output at batch N with an input at N-1, and a crash
  * mid-commit leaves the previous consistent set visible, exactly the
  * persist-sink frontier guarantee. Batches carry a `batchId`; a replayed
  * batch (streaming restart) is a recorded no-op, so delivery is
  * exactly-once. The full join is computed once at [[initialize]] and never
  * again; the REGISTERED definition of the output recomputes the join from
  * the current inputs (it never captures a batch delta), so `refreshFull`
  * is always safe.
  */
final class MaintainedJoin private (
    catalog: ViewCatalog,
    name: String,
    n: Int,
    stepKeys: Seq[Seq[String]]) {
  require(n >= 2 && stepKeys.size == n - 1)

  /** The binary join `A ⋈ B` on `keys`. */
  def this(catalog: ViewCatalog, name: String, keys: Seq[String]) =
    this(catalog, name, 2, Seq(keys))

  private val inNames = (0 until n).map(i => s"${name}__in$i")
  private val outName = s"${name}__out"

  /** Register the inputs (plain relations) and materialize the initial
    * join state — one atomic commit of all collections. */
  def initialize(inputs: Seq[DataFrame]): Unit = {
    require(inputs.size == n)
    val cls = inputs.map(in => Changelog.consolidate(Changelog.fromRows(in)))
    catalog.commitGroup(name, -1L, inNames.zip(cls).toMap +
      (outName -> Changelog.consolidate(IncrementalJoin.joinChain(cls, stepKeys))))
    // the durable definition recomputes from live inputs — no delta capture
    catalog.registerDefinition(outName, _ =>
      Changelog.consolidate(IncrementalJoin.joinChain(inNames.map(catalog.table), stepKeys)))
  }

  def initialize(a: DataFrame, b: DataFrame): Unit = initialize(Seq(a, b))

  /** Advance the view by one batch of per-input changelogs (any may be
    * empty). Work is proportional to Σ|δ| × matches, never the full join.
    * Returns false when `batchId >= 0` was already applied (replay no-op).
    */
  def applyBatch(deltas: Seq[DataFrame], batchId: Long): Boolean = {
    require(deltas.size == n)
    // pinned to the CURRENT versions — resolved before any new dir is written
    val states = inNames.map(catalog.table)
    val outDelta = IncrementalJoin.deltaN(states, deltas, stepKeys)
    catalog.commitGroup(name, batchId,
      inNames.indices.map { i =>
        inNames(i) -> Changelog.consolidate(states(i).unionByName(deltas(i)))
      }.toMap +
        (outName -> Changelog.consolidate(catalog.table(outName).unionByName(outDelta))))
  }

  def applyBatch(aDelta: DataFrame, bDelta: DataFrame, batchId: Long = -1L): Boolean =
    applyBatch(Seq(aDelta, bDelta), batchId)

  /** The maintained join as a plain relation (positive-multiplicity rows). */
  def output: DataFrame = catalog.table(outName).filter(col(Changelog.DiffCol) > 0)

  /** AS OF: the output at global timestamp `seq` (e.g. an earlier
    * [[currentSeq]]), consistent with the inputs [[inputAsOf]] returns for
    * the same timestamp. */
  def outputAsOf(seq: Long): DataFrame =
    catalog.tableAtTime(outName, seq).filter(col(Changelog.DiffCol) > 0)

  def inputAsOf(seq: Long, i: Int): DataFrame = catalog.tableAtTime(inNames(i), seq)

  /** Global timestamp of the join's latest group commit. */
  def currentSeq: Option[Long] = catalog.currentGroupSeq(name)

  def outputVersion: Option[Long] = catalog.currentVersion(outName)

  /** Continuous operation of a binary join: attach a STREAMING tagged
    * changelog (`__src ∈ {a, b}` + the union of both sides' columns + diff)
    * and apply each micro-batch through the delta rule — Structured
    * Streaming's foreachBatch is the reference's "dataflow keeps running"
    * loop, the micro-batch boundary its timestamp. The foreachBatch
    * `batchId` flows into the group commit, so a replayed micro-batch after
    * restart is a no-op. Spark allows one sink per query, so the two inputs
    * arrive as one tagged union (disjoint non-key columns null on the other
    * side's rows). */
  def attachStream(tagged: DataFrame, name: String,
      aCols: Seq[String], bCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    require(n == 2, s"attachStream drives a binary join; this one has $n inputs")
    tagged.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().persist()
        try {
          applyBatch(
            b.filter(col("__src") === "a").select(aCols.map(col): _*),
            b.filter(col("__src") === "b").select(bCols.map(col): _*),
            id)
          ()
        } finally { b.unpersist(); () }
      }
      .start()
  }
}

object MaintainedJoin {

  /** The n-ary chain join: input `j+1` joins the prefix on `stepKeys(j)`,
    * so `stepKeys.size + 1` inputs. */
  def chain(catalog: ViewCatalog, name: String, stepKeys: Seq[Seq[String]]): MaintainedJoin =
    new MaintainedJoin(catalog, name, stepKeys.size + 1, stepKeys)
}
