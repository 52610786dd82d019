package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SUBSCRIBE — the streaming tail of a view (reference
  * `src/compute-types/src/sinks.rs:43`, render
  * `src/compute/src/sink/subscribe.rs`): the consumer receives the view's
  * changelog as `(mz_ts, mz_diff, row...)` batches in timestamp order.
  *
  * Spark-first: the view is a streaming changelog DataFrame (rows carrying a
  * `diff` column); each micro-batch is stamped with its batch id as the
  * logical timestamp — the micro-batch boundary IS the frontier: when batch
  * `t` is delivered, no further updates with ts ≤ `t` can appear, which is
  * exactly the reference's progress guarantee.
  *
  * Two consumption modes:
  *  - [[start]] hands the consumer the stamped *DataFrame* per batch — the
  *    scale path (consumer writes to Kafka/object storage without the rows
  *    ever visiting the driver).
  *  - [[startCollecting]] collects rows to the driver — the pgwire-cursor
  *    analog (a human tailing a view), fine for bounded result streams.
  */
object Subscribe {

  val TsCol = "mz_ts"
  val DiffCol = "mz_diff"

  /** Stamp a changelog at logical time `ts` as `(mz_ts, mz_diff, row...)`,
    * the row's columns in the order `columns` names — the one SUBSCRIBE
    * row shape of the streaming tail, the batch frame and the cursor. */
  def stamp(changelog: DataFrame, ts: Long, columns: Seq[String]): DataFrame =
    changelog.select(lit(ts).as(TsCol) +:
      col(Changelog.DiffCol).cast("long").as(DiffCol) +: columns.map(col): _*)

  /** The row columns of a changelog, in its own order. */
  def rowColumns(changelog: DataFrame): Seq[String] =
    changelog.columns.toSeq.filterNot(_ == Changelog.DiffCol)

  /** Tail `changelog` (a streaming DataFrame with a `diff` column), handing
    * each stamped batch DataFrame to `consume` in timestamp order.
    * `trigger` defaults to continuous micro-batching (tail forever);
    * pass `Trigger.AvailableNow()` for a bounded drain that self-terminates.
    */
  def start(changelog: DataFrame, name: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)(
      consume: (Long, DataFrame) => Unit): StreamingQuery = {
    val w = changelog.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        consume(batchId, stamp(batch, batchId, rowColumns(batch)))
      }
    trigger.foreach(w.trigger)
    w.start()
  }

  /** Driver-collecting variant: rows of each batch are sorted by a stable
    * column order and appended to `sink` — the SUBSCRIBE cursor analog. */
  def startCollecting(changelog: DataFrame, name: String,
      sink: java.util.concurrent.ConcurrentLinkedQueue[Row]): StreamingQuery =
    start(changelog, name) { (_, stamped) =>
      stamped.collect().foreach(sink.add)
    }
}
