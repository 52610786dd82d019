package graft.sql

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.streaming.Subscribe

/** Continuous SUBSCRIBE as a cursor (reference
  * `src/compute/src/sink/subscribe.rs` + the pgwire FETCH loop,
  * `doc/user/content/sql/subscribe.md`): a subscription on a materialized
  * view is a post-commit hook that stamps each commit's STORED delta
  * changelog `(mz_ts, mz_diff, row...)` and appends it to a driver-side
  * queue; `FETCH` drains whatever arrived since the last call, in timestamp
  * order. WITH (SNAPSHOT) seeds the queue with the view's contents at
  * subscribe time; WITH (PROGRESS) interleaves `mz_progressed = true` rows
  * — "no further updates with ts < this will appear" — after every commit,
  * the reference's progress message.
  *
  * Driver-side by design: this is the cursor a HUMAN tails (the reference
  * serves it over pgwire); the distributed path for machine consumers is
  * [[graft.streaming.Subscribe.start]], which hands whole DataFrames to the
  * consumer without collecting. Each enqueue is one collect of a
  * delta-sized frame.
  */
final class SubscriptionCursor(
    val view: String,
    val viewSchema: StructType,
    val withProgress: Boolean,
    val envelope: Option[(String, Seq[String])] = None) {

  private val queue = new ConcurrentLinkedQueue[Row]

  val rowSchema: StructType = {
    val head = Seq(
      StructField(Subscribe.TsCol, LongType, nullable = false),
      StructField(Subscribe.DiffCol, LongType, nullable = true))
    val prog = if (withProgress)
      Seq(StructField("mz_progressed", BooleanType, nullable = false)) else Nil
    StructType(head ++ prog ++ viewSchema.fields)
  }

  /** The stamped changelog shape WITHOUT the progress column — the input the
    * envelope transforms consume. */
  val plainSchema: StructType = StructType(
    StructField(Subscribe.TsCol, LongType, nullable = false) +:
      StructField(Subscribe.DiffCol, LongType, nullable = true) +:
      viewSchema.fields)

  /** Schema FETCH presents: the raw stamped rows, or the envelope's reshaped
    * form (computed once by running the transform over an empty frame), with
    * `mz_progressed` re-inserted after `mz_state` when PROGRESS is on. */
  def fetchSchema(spark: org.apache.spark.sql.SparkSession): StructType =
    envelope match {
      case None => rowSchema
      case Some((kind, keys)) =>
        val empty = spark.createDataFrame(
          new java.util.ArrayList[Row](), plainSchema)
        val shaped =
          (if (kind.equalsIgnoreCase("UPSERT")) SubscribeEnvelope.upsert(empty, keys)
          else SubscribeEnvelope.debezium(empty, keys)).schema
        if (!withProgress) shaped
        else StructType((shaped.fields.take(2) ++
          Seq(StructField("mz_progressed", BooleanType, nullable = false)) ++
          shaped.fields.drop(2)).map(f =>
            if (f.name == Subscribe.TsCol) f else f.copy(nullable = true)))
    }

  private def dataRow(ts: Long, diff: Long, cols: Seq[Any]): Row =
    Row.fromSeq(
      if (withProgress) Seq(ts, diff, false) ++ cols
      else Seq(ts, diff) ++ cols)

  /** Width of the rows FETCH presents (shaped when enveloped). */
  private lazy val fetchWidth: Int = envelope match {
    case None => rowSchema.length
    case Some(_) => shapedArity + (if (withProgress) 1 else 0)
  }
  @volatile private var shapedArity: Int = -1

  private def progressRow(ts: Long): Row =
    Row.fromSeq(Seq(ts, null, true) ++ Seq.fill(fetchWidth - 3)(null))

  /** Stamp + enqueue one commit's changelog (or the snapshot as all-inserts
    * at the subscribe version). One delta-sized collect, column-aligned to
    * the view schema. An ENVELOPED cursor reshapes here — per commit, i.e.
    * per timestamp, which is exactly the envelope's grouping unit — so
    * FETCH is a pure queue drain with no driver-side DataFrame round-trip. */
  def enqueue(changelog: DataFrame, version: Long): Unit = {
    val stamped = Subscribe.stamp(changelog, version, viewSchema.fieldNames.toSeq)
    envelope match {
      case None =>
        stamped.collect().foreach { r =>
          queue.add(dataRow(r.getLong(0), r.getLong(1), r.toSeq.drop(2)))
        }
      case Some((kind, keys)) =>
        val shaped =
          (if (kind.equalsIgnoreCase("UPSERT")) SubscribeEnvelope.upsert(stamped, keys)
          else SubscribeEnvelope.debezium(stamped, keys))
        shapedArity = shaped.schema.length
        shaped.collect().foreach { r =>
          val s = r.toSeq
          queue.add(Row.fromSeq(
            if (withProgress) s.take(2) ++ Seq(false) ++ s.drop(2) else s))
        }
    }
    if (withProgress) queue.add(progressRow(version))
    ()
  }

  /** Rows delivered since the last drain, in arrival order — all of them,
    * or at most `limit` (pg FETCH n semantics: the rest stay queued). */
  def drain(limit: Option[Int] = None): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    var n = 0
    var r = if (limit.exists(_ <= 0)) null else queue.poll()
    while (r != null) {
      out += r; n += 1
      r = if (limit.exists(n >= _)) null else queue.poll()
    }
    out.result()
  }
}
