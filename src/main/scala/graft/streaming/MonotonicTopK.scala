package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** Monotonic (append-only) per-key top-k maintenance — the reference's
  * `TopKPlan::MonotonicTopK` (`src/compute-types/src/plan/top_k.rs:56-94`):
  * when the input never retracts, per-key state is just the current top-k
  * list (bounded, O(k)), not the full value history the retraction-capable
  * plan needs. Each batch emits the top-k set's changelog: insertions of
  * new members and retractions of evicted ones, so downstream consumers
  * (SUBSCRIBE, materialized views) mirror the maintained TopK exactly.
  *
  * Values ordered DESC (top = largest); ties kept arbitrarily-but-
  * deterministically by value order. Retractions in the input are rejected
  * loudly: the caller chooses this plan only for an append-only source.
  */
object MonotonicTopK {

  /** The key's top-k list, DESC; a row of multiplicity `diff` adds `diff`
    * copies of its value. */
  private[streaming] def topList(k: Int) = Reducer[Seq[Double], Double, Double](Seq.empty,
    (top, v, diff) => {
      require(diff > 0, "monotonic top-k plan received a retraction")
      (top ++ Seq.fill(math.min(diff, k.toLong).toInt)(v)).sorted(Ordering[Double].reverse).take(k)
    },
    _.map(_ -> 1L))

  def topKChangelogStream[K](deltas: Dataset[(K, Double, Long)], k: Int)(
      implicit ke: Encoder[K],
      oute: Encoder[(K, Double, Long)],
      ste: Encoder[Seq[Double]]): Dataset[(K, Double, Long)] = {
    require(k > 0)
    KeyedReduce(deltas, topList(k))((_, _, _))
  }
}
