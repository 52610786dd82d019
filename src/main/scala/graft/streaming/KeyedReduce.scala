package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One maintained reduction class (the reference's `ReductionType` and
  * `TopKPlan` variants, `src/compute-types/src/plan/reduce.rs:89-102`,
  * `plan/top_k.rs:28-35`): per-key state `S`, starting at `empty`, that
  * `fold` updates with one `(value, diff)` row, and the key's output
  * multiset `view(state)`, in emission order. */
final case class Reducer[S, V, O](empty: S, fold: (S, V, Long) => S, view: S => Seq[(O, Long)])

object Reducer {

  /** A reducer whose state is the key's value multiset (value → net
    * multiplicity, zero entries dropped). Rows of one batch may arrive in
    * any order, so a multiplicity may dip below zero inside a batch; after
    * the batch a negative one is a loud error, the retraction of a row that
    * was never inserted. */
  def overMultiset[O](view: Map[Double, Long] => Seq[(O, Long)]): Reducer[Map[Double, Long], Double, O] =
    Reducer(Map.empty[Double, Long],
      (ms, v, diff) => {
        val n = ms.getOrElse(v, 0L) + diff
        if (n == 0L) ms - v else ms.updated(v, n)
      },
      ms => {
        ms.collectFirst { case (v, n) if n < 0L => v }.foreach { v =>
          throw new IllegalArgumentException(s"negative multiplicity at value $v: " +
            "retraction of a row that was never inserted")
        }
        view(ms)
      })
}

/** The one keyed reduction operator of the streaming reducers
  * ([[IncrementalReduce]], [[HierarchicalMinMax]], [[BasicTopK]],
  * [[MonotonicTopK]]): each micro-batch folds a key's `(key, value, diff)`
  * rows into its state and emits `view(new) − view(old)`, the change of the
  * key's output, so a consumer that sums the emitted diffs holds the view of
  * the current state (SUBSCRIBE, materialized views).
  *
  * Emission order per key and batch: first the retractions, in `view(old)`
  * order, then the insertions, in `view(new)` order; each output value at
  * most once, with its net diff; nothing when the view did not change. The
  * key's state is removed when it equals the reducer's `empty` and updated
  * otherwise, so state whose view is empty but that a later row can still
  * cancel (an accumulable retraction ahead of its insertion) is kept.
  */
object KeyedReduce {

  /** Maintain `reducer` per key over a changelog `(key, value, diff)`;
    * `row` shapes each emitted `(key, output, diff)`. */
  def apply[K, V, S, O, R](deltas: Dataset[(K, V, Long)], reducer: Reducer[S, V, O])(
      row: (K, O, Long) => R)(
      implicit ke: Encoder[K], se: Encoder[S], re: Encoder[R]): Dataset[R] =
    deltas
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(K, V, Long)], state: GroupState[S]) =>
          val (next, out) =
            try step(reducer, state.getOption.getOrElse(reducer.empty), rows.map(r => (r._2, r._3)))
            catch {
              case e: IllegalArgumentException =>
                throw new IllegalArgumentException(s"key $key: ${e.getMessage}", e)
            }
          if (next == reducer.empty) state.remove() else state.update(next)
          out.iterator.map { case (o, d) => row(key, o, d) }
      }

  /** One key's batch: the state after folding `rows` into `old`, and the
    * emitted change `view(new) − view(old)`. */
  private[streaming] def step[S, V, O](reducer: Reducer[S, V, O], old: S,
      rows: Iterator[(V, Long)]): (S, Seq[(O, Long)]) = {
    val next = rows.foldLeft(old) { case (s, (v, d)) => reducer.fold(s, v, d) }
    (next, if (next == old) Nil else difference(reducer.view(old), reducer.view(next)))
  }

  /** `after − before` over multisets: the values whose net diff is
    * negative in `before` order, then those whose net diff is positive in
    * `after` order. */
  private def difference[O](before: Seq[(O, Long)], after: Seq[(O, Long)]): Seq[(O, Long)] = {
    val net = mutable.HashMap.empty[O, Long]
    after.foreach { case (o, n) => net(o) = net.getOrElse(o, 0L) + n }
    before.foreach { case (o, n) => net(o) = net.getOrElse(o, 0L) - n }
    def take(side: Seq[(O, Long)])(keep: Long => Boolean): Seq[(O, Long)] =
      side.flatMap { case (o, _) => net.get(o).filter(keep).map { d => net.remove(o); o -> d } }
    take(before)(_ < 0L) ++ take(after)(_ > 0L)
  }
}
