package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Incremental maintenance of **accumulable** aggregates (sum/count and
  * everything derivable: avg, stddev) under arbitrary insert/retract
  * changelogs — the reference's `ReductionType::Accumulable`
  * (reference `src/compute-types/src/plan/reduce.rs:89-102`,
  * `src/compute/src/render/reduce.rs`).
  *
  * Accumulable aggregates are invertible: a retraction `(row, -1)` is handled
  * by adding `-value`. Hierarchical aggregates (min/max) are NOT invertible:
  * [[HierarchicalMinMax]] keeps each key's value multiset instead.
  *
  * Batch form: one `groupBy` with diff-weighted sums — a single shuffle with
  * map-side partial aggregation, scale-safe. Streaming form: per-key running
  * sums through [[KeyedReduce]].
  */
object IncrementalReduce {

  /** Batch: changelog (cols..., valueCol, diff) → per-key sum/count/avg that
    * respect multiplicities, keeping only keys with net-positive support. */
  def accumulable(changelog: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val d = col(Changelog.DiffCol)
    changelog
      .groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(
        sum(d).as("support"),
        sum(col(valueCol) * d).as("sum_val"))
      .filter(col("support") > 0)
      .withColumn("avg_val", col("sum_val") / col("support"))
  }

  /** `(support, total)` per key: the view has one row while support is
    * positive. State whose view is empty is kept until it sums to `(0, 0)`,
    * so a retraction that arrives before its insertion is not lost. */
  private[streaming] val sums = Reducer[(Long, Double), Double, (Long, Double)]((0L, 0.0),
    { case ((support, total), v, diff) => (support + diff, total + v * diff) },
    s => if (s._1 > 0L) Seq(s -> 1L) else Nil)

  /** Streaming: per touched key, emit the FULL changelog of the maintained
    * aggregate — a retraction `(old_row, -1)` followed by an insertion
    * `(new_row, +1)` — exactly what a downstream SUBSCRIBE consumer needs to
    * mirror the view (reference `sink/subscribe.rs`: subscribes receive the
    * view's update stream, not its state). Output tuples are
    * `(key, support, total, diff)`; a key whose support drops to ≤ 0 emits
    * only the retraction. */
  def accumulableChangelogStream[K](deltas: Dataset[(K, Double, Long)])(
      implicit ke: Encoder[K],
      ste: Encoder[(Long, Double)],
      oute: Encoder[(K, Long, Double, Long)]): Dataset[(K, Long, Double, Long)] =
    KeyedReduce(deltas, sums) { case (k, (support, total), d) => (k, support, total, d) }
}
