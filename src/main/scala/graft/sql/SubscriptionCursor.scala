package graft.sql

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.streaming.Subscribe
import graft.views.ViewCatalog

/** Continuous SUBSCRIBE as a cursor (reference
  * `src/compute/src/sink/subscribe.rs` + the pgwire FETCH loop,
  * `doc/user/content/sql/subscribe.md`): a subscription on a materialized
  * view is a post-commit hook that appends the view's stamped changes
  * `(mz_ts, mz_diff, row...)`, shaped by the optional output envelope, to a
  * driver-side queue; `FETCH` drains whatever arrived since the last call,
  * in timestamp order. WITH (SNAPSHOT) seeds the queue with the view's
  * contents at the subscribe version; WITH (PROGRESS) interleaves
  * `mz_progressed = true` rows — "no further updates with ts < this will
  * appear" — after every version, the reference's progress message.
  *
  * The cursor's position is the last version it queued. On each commit it
  * queues [[SubscribeFrame.steps]] from its position to the committed
  * version, one stamped step per version — what the batch
  * `SUBSCRIBE … AS OF` frame reads after its snapshot — so a commit a
  * failed hook skipped is queued at the next one. An envelope reshapes
  * each step, i.e. per timestamp, which is exactly its grouping unit, so
  * FETCH is a pure queue drain.
  *
  * Driver-side by design: this is the cursor a HUMAN tails (the reference
  * serves it over pgwire); the distributed path for machine consumers is
  * [[graft.streaming.Subscribe.start]], which hands whole DataFrames to the
  * consumer without collecting. Each step is one collect of a delta-sized
  * frame.
  */
final class SubscriptionCursor private (cat: ViewCatalog, val view: String,
    private var applied: Long, columns: Seq[String], withProgress: Boolean,
    envelope: Option[(String, Seq[String])], shapedSchema: StructType) {

  private val queue = new ConcurrentLinkedQueue[Row]

  /** Schema FETCH presents: the shaped seed frame's, with `mz_progressed`
    * after its first two columns when PROGRESS is on (progress rows are
    * NULL everywhere else but `mz_ts`). */
  val fetchSchema: StructType =
    if (!withProgress) shapedSchema
    else {
      val cols = shapedSchema.fields.map(f =>
        if (f.name == Subscribe.TsCol) f else f.copy(nullable = true))
      StructType((cols.take(2) :+ StructField("mz_progressed", BooleanType, nullable = false))
        ++ cols.drop(2))
    }

  /** Queue the steps of versions `(position, upTo]`: the commit hook. */
  def deliver(upTo: Long): Unit = synchronized {
    SubscribeFrame.steps(cat, view, columns, applied, upTo).foreach { step =>
      enqueue(SubscribeEnvelope.shape(step, envelope), applied + 1)
      applied += 1
    }
  }

  /** One collect of a shaped frame at `version`, then its progress row. */
  private def enqueue(shaped: DataFrame, version: Long): Unit = {
    shaped.collect().foreach(r => queue.add(
      if (withProgress) Row.fromSeq(r.toSeq.patch(2, Seq(false), 0)) else r))
    if (withProgress)
      queue.add(Row.fromSeq(Seq(version, null, true) ++ Seq.fill(fetchSchema.length - 3)(null)))
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

object SubscriptionCursor {

  /** A cursor on `view` at committed version `from`, its queue seeded with
    * the view's contents at `from` when `snapshot` is on (and with the
    * progress row of `from` when `withProgress` is). */
  def open(cat: ViewCatalog, view: String, from: Long, snapshot: Boolean,
      withProgress: Boolean, envelope: Option[(String, Seq[String])]): SubscriptionCursor = {
    val seed = cat.zsetAt(view, from)
    val columns = Subscribe.rowColumns(seed)
    val frame = SubscribeEnvelope.shape(
      Subscribe.stamp(if (snapshot) seed else seed.limit(0), from, columns), envelope)
    val cursor = new SubscriptionCursor(cat, view, from, columns, withProgress, envelope,
      frame.schema)
    if (snapshot || withProgress) cursor.enqueue(frame, from)
    cursor
  }
}
