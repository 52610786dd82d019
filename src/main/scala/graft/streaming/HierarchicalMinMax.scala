package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** Incremental min/max maintenance under retractions — the reference's
  * **hierarchical** reduction class (`ReductionType::Hierarchical`,
  * `src/compute-types/src/plan/reduce.rs:89-102`; tournament-tree render
  * `src/compute/src/render/reduce.rs:40-50`). min/max are not invertible, so
  * a retraction of the current extremum forces recomputation over the key's
  * remaining values; the reference keeps a per-key tree so that recompute is
  * O(log n). Here the per-key state is the value multiset (value → net
  * multiplicity); extrema recompute over the distinct values of ONE key only
  * — state is partitioned by key across executors, and a retraction touches
  * exactly one key's multiset, never the collection.
  *
  * Output is the changelog of the maintained `(key, min, max)` view:
  * retract-old / insert-new pairs per touched key, empty for no-op batches —
  * the [[KeyedReduce]] contract every streaming reducer shares.
  */
object HierarchicalMinMax {

  /** One `(min, max)` row while the key's value multiset is non-empty. */
  private[streaming] val extrema = Reducer.overMultiset(ms =>
    if (ms.isEmpty) Nil else Seq((ms.keys.min, ms.keys.max) -> 1L))

  /** `(min, max)` of an append-only input, `(+∞, −∞)` before its first row. */
  private[streaming] val monotonicExtrema =
    Reducer[(Double, Double), Double, (Double, Double)](
      (Double.PositiveInfinity, Double.NegativeInfinity),
      { case ((mn, mx), v, diff) =>
        require(diff > 0, "monotonic min/max plan received a retraction")
        (math.min(mn, v), math.max(mx, v))
      },
      s => if (s._1 <= s._2) Seq(s -> 1L) else Nil)

  /** Monotonic (append-only) min/max — the reference's `MonotonicTop1` plan
    * (`src/compute-types/src/plan/top_k.rs:28-35`): when the caller knows
    * the input never retracts, state shrinks from a value multiset to a
    * single (min, max) pair — O(1) per key instead of O(distinct values).
    * Negative diffs are rejected loudly. */
  def monotonicMinMaxStream[K](deltas: Dataset[(K, Double, Long)])(
      implicit ke: Encoder[K],
      ste: Encoder[(Double, Double)],
      oute: Encoder[(K, Double, Double, Long)]): Dataset[(K, Double, Double, Long)] =
    KeyedReduce(deltas, monotonicExtrema) { case (k, (mn, mx), d) => (k, mn, mx, d) }

  def minMaxChangelogStream[K](deltas: Dataset[(K, Double, Long)])(
      implicit ke: Encoder[K],
      ste: Encoder[Map[Double, Long]],
      oute: Encoder[(K, Double, Double, Long)]): Dataset[(K, Double, Double, Long)] =
    KeyedReduce(deltas, extrema) { case (k, (mn, mx), d) => (k, mn, mx, d) }
}
