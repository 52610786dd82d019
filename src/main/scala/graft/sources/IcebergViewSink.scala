package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.views.ViewCatalog

/** The commit step of a continuously-maintained Iceberg sink on a
  * materialized view (reference `src/storage/src/sink/iceberg.rs`: the sink
  * consumes the view's persist CHANGELOG and derives its resume position
  * from its own snapshots, `retrieve_upper_from_snapshots`).
  *
  * Invoked from the view's post-commit hook with the commit's stored delta.
  * The sink table's `resumeUpper` records the last view version it applied:
  *  - `resumeUpper == version - 1` — the common case; apply the delta the
  *    hook was handed. Work ∝ |delta|.
  *  - `resumeUpper < version - 1` — a prior hook invocation failed AFTER the
  *    view's pointer flip (the view commit is durable, the sink commit is
  *    not). Self-heal: apply the consolidated STORED deltas
  *    `(resumeUpper, version]` ([[ViewCatalog.changesSince]]) — still
  *    delta-sized, never a snapshot diff.
  *  - `resumeUpper >= version` — a replayed refresh; `applyChangeSet`'s
  *    resume-upper check drops it (and we skip the plan entirely).
  *
  * A changelog maps onto one Iceberg change set: insertions (`diff > 0`)
  * upsert by key; keys retracted and NOT re-inserted become equality
  * deletes.
  */
object IcebergViewSink {

  def applyCommit(spark: SparkSession, cat: ViewCatalog, view: String,
      path: String, keys: Seq[String], delta: DataFrame, version: Long): Unit = {
    val table = new IcebergTable(spark, path)
    if (version == 0L) {
      // the view was dropped and re-created from scratch while the sink
      // stayed attached: reseed — upsert the snapshot AND delete sink keys
      // absent from it, so rows of the old incarnation cannot survive
      val snap = cat.tableAt(view, 0L)
      val gone = table.read().select(keys.map(col): _*)
        .exceptAll(snap.select(keys.map(col): _*)).distinct()
      table.applyChangeSet(snap, gone, keys, batchId = 0L)
      ()
    } else {
      val resumeUpper = table.metadata.resumeUpper
      if (resumeUpper >= version) return // replayed refresh: recorded no-op
      val eff =
        if (resumeUpper == version - 1) delta else cat.changesSince(view, resumeUpper, version)
      val (inserts, goneKeys) = SinkEnvelopes.changes(eff, keys)
      table.applyChangeSet(inserts, goneKeys, keys, batchId = version)
      ()
    }
  }
}
