package graft.views

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{Changelog, IncrementalJoin}

/** Continuously maintained JOIN view — the MV lifecycle composed with the
  * incremental-join delta rule (reference: a materialized view over a join
  * is a persist-backed dataflow whose join operator updates incrementally,
  * `src/compute/src/sink/materialized_view.rs` + `render/join/`).
  *
  * Three versioned collections live in the [[ViewCatalog]]:
  * `<name>__a`, `<name>__b` (consolidated input changelogs) and
  * `<name>__out` (the consolidated join changelog). Each [[applyBatch]]
  * evaluates ONLY delta-sized joins (δA⋈B ∪ A⋈δB ∪ δA⋈δB), merges, and
  * commits all three in ONE atomic timeline entry
  * ([[ViewCatalog.commitGroup]]) — a reader can never observe the output at
  * batch N with an input at N-1, and a crash mid-commit leaves the previous
  * consistent triplet visible, exactly the persist-sink frontier guarantee.
  * Batches carry a `batchId`; a replayed batch (streaming restart) is a
  * recorded no-op, so delivery is exactly-once. The full A⋈B is computed
  * once at [[initialize]] and never again; the REGISTERED definition of the
  * output recomputes the join from the current inputs (it never captures a
  * batch delta), so `refreshFull` is always safe.
  */
final class MaintainedJoin(
    catalog: ViewCatalog,
    name: String,
    keys: Seq[String]) {

  private val aName = s"${name}__a"
  private val bName = s"${name}__b"
  private val outName = s"${name}__out"

  /** Register the two inputs (plain relations) and materialize the initial
    * join state — one atomic commit of all three collections. */
  def initialize(a: DataFrame, b: DataFrame): Unit = {
    val aCl = Changelog.consolidate(Changelog.fromRows(a))
    val bCl = Changelog.consolidate(Changelog.fromRows(b))
    catalog.commitGroup(name, -1L, Map(
      aName -> aCl,
      bName -> bCl,
      outName -> Changelog.consolidate(IncrementalJoin.joinChangelogs(aCl, bCl, keys))))
    // the durable definition recomputes from live inputs — no delta capture
    catalog.registerDefinition(outName, _ =>
      Changelog.consolidate(
        IncrementalJoin.joinChangelogs(catalog.table(aName), catalog.table(bName), keys)))
  }

  /** Advance the view by one batch of input changelogs (either may be
    * empty). Work is proportional to |δ| × matches, never |A⋈B|.
    * Returns false when `batchId >= 0` was already applied (replay no-op).
    */
  def applyBatch(aDelta: DataFrame, bDelta: DataFrame, batchId: Long = -1L): Boolean = {
    // pinned to the CURRENT versions — resolved before any new dir is written
    val aState = catalog.table(aName)
    val bState = catalog.table(bName)
    val outState = catalog.table(outName)
    val outDelta = IncrementalJoin.delta(aState, aDelta, bState, bDelta, keys)
    catalog.commitGroup(name, batchId, Map(
      outName -> Changelog.consolidate(outState.unionByName(outDelta)),
      aName -> Changelog.consolidate(aState.unionByName(aDelta)),
      bName -> Changelog.consolidate(bState.unionByName(bDelta))))
  }

  /** The maintained join as a plain relation (positive-multiplicity rows). */
  def output: DataFrame = {
    val out = catalog.table(outName)
    out.filter(col(Changelog.DiffCol) > 0)
  }

  /** AS OF: the output at global timestamp `seq` (e.g. an earlier
    * [[currentSeq]]), consistent with the inputs [[inputAsOf]] returns for
    * the same timestamp. */
  def outputAsOf(seq: Long): DataFrame =
    catalog.tableAtTime(outName, seq).filter(col(Changelog.DiffCol) > 0)

  def inputAsOf(seq: Long, side: String): DataFrame =
    catalog.tableAtTime(if (side == "a") aName else bName, seq)

  /** Global timestamp of the join's latest group commit. */
  def currentSeq: Option[Long] = catalog.currentGroupSeq(name)

  def outputVersion: Option[Long] = catalog.currentVersion(outName)

  /** Continuous operation: attach a STREAMING tagged changelog
    * (`__src ∈ {a, b}` + the union of both sides' columns + diff) and apply
    * each micro-batch through the delta rule — Structured Streaming's
    * foreachBatch is the reference's "dataflow keeps running" loop, the
    * micro-batch boundary its timestamp. The foreachBatch `batchId` flows
    * into the group commit, so a replayed micro-batch after restart is a
    * no-op. Spark allows one sink per query, so the two inputs arrive as one
    * tagged union (disjoint non-key columns null on the other side's rows). */
  def attachStream(tagged: DataFrame, name: String,
      aCols: Seq[String], bCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
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
