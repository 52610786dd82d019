package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retraction-capable per-key top-k maintenance — the reference's
  * `TopKPlan::Basic` (`src/compute-types/src/plan/top_k.rs:34,85`, render
  * `src/compute/src/render/top_k.rs`): unlike the monotonic plan
  * ([[MonotonicTopK]], O(k) state, insert-only), the basic plan must survive
  * ARBITRARY inserts and retractions — a retraction of the current #1 must
  * promote the runner-up, which requires remembering values below the
  * current top k.
  *
  * State per key is the full value multiset `value -> multiplicity`
  * (the flattened analog of the reference's bucketed arrangement hierarchy;
  * Spark's state store already gives per-key point lookup, so the bucket
  * tree's "touch only affected buckets" win collapses to one keyed state
  * read/write per batch). Each micro-batch folds its deltas into the
  * multiset and emits the CHANGELOG of the top-k set: `(key, value, diff)`
  * with diff the change in the value's multiplicity within the top k.
  * Retracting a row that was never inserted is a loud error, matching the
  * reference's negative-accumulation guard.
  *
  * Scale: state is per-key and partitioned by key hash across executors;
  * batch work is O(|delta| + distinct values per touched key × log) with no
  * driver involvement. Keys with huge distinct-value counts are the same
  * hazard the reference's bucketed plan mitigates; the mitigation here is
  * Spark's state store spilling per-key entries, not a resident tree.
  */
object BasicTopK {

  /** Maintain per-key top-k over a streaming changelog of
    * `(key, value, diff)`; emits the top-k set's changelog. Values ordered
    * DESC (top = largest). */
  def topKChangelogStream[K](deltas: Dataset[(K, Double, Long)], k: Int)(
      implicit ke: Encoder[K],
      oute: Encoder[(K, Double, Long)],
      ste: Encoder[Map[Double, Long]]): Dataset[(K, Double, Long)] = {
    require(k > 0)
    KeyedReduce(deltas, top(k))((_, _, _))
  }

  /** The key's top-k sub-multiset (`value -> multiplicity inside the top
    * k`), values DESC — duplicates consume top-k slots. */
  private[streaming] def top(k: Int) = Reducer.overMultiset { ms =>
    var remaining = k.toLong
    ms.toSeq.sortBy(-_._1).flatMap { case (v, c) =>
      val t = math.min(c, remaining)
      remaining -= t
      if (t > 0L) Some(v -> t) else None
    }
  }

  /** Batch form of the same semantics: resolve a retraction-bearing
    * changelog to its net multiset (Threshold), expand multiplicities, and
    * keep each group's rows ranked `offset < rn <= offset + k` under
    * `ordering` — the result the maintained operator converges to after
    * ingesting the whole changelog. `ordering` should be a total order
    * (include a tiebreaker) for deterministic output. */
  def maintainBatch(
      changelog: DataFrame,
      keyCols: Seq[String],
      ordering: Seq[Column],
      k: Int,
      offset: Int = 0): DataFrame = {
    require(k > 0 && offset >= 0)
    val w = Window.partitionBy(keyCols.map(col).toIndexedSeq: _*)
      .orderBy(ordering.toIndexedSeq: _*)
    Changelog.toRows(changelog) // threshold + multiplicity expansion
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > offset && col("__rn") <= offset + k)
      .drop("__rn")
  }
}
