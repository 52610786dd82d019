package graft.sources

import org.apache.spark.sql.SparkSession

import graft.views.ViewCatalog

/** The commit step of a continuously-maintained Iceberg sink on a
  * materialized view (reference `src/storage/src/sink/iceberg.rs`: the sink
  * consumes the view's persist CHANGELOG and derives its resume position
  * from its own snapshots, `retrieve_upper_from_snapshots`).
  *
  * Invoked from the view's post-commit hook with the committed version.
  * The sink's position is the `resumeUpper` of its table metadata, the
  * last view version it applied: a version at or below it is a replayed
  * refresh and a no-op, and any other applies
  * [[ViewCatalog.changesSince]]`(resumeUpper, version)` — the stored delta
  * of this commit, or the consolidated stored deltas since the position
  * when a hook failed after the view commit. Work ∝ |delta|, never a
  * snapshot diff.
  *
  * A changelog maps onto one Iceberg change set: insertions (`diff > 0`)
  * upsert by key; keys retracted and NOT re-inserted become equality
  * deletes.
  */
object IcebergViewSink {

  def applyCommit(spark: SparkSession, cat: ViewCatalog, view: String,
      path: String, keys: Seq[String], version: Long): Unit = {
    val table = new IcebergTable(spark, path)
    // a replayed refresh has no changes, and its batch id is dropped
    val (inserts, goneKeys) =
      SinkEnvelopes.changes(cat.changesSince(view, table.metadata.resumeUpper, version), keys)
    table.applyChangeSet(inserts, goneKeys, keys, batchId = version)
    ()
  }
}
