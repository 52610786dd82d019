package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.streaming.Subscribe

/** SUBSCRIBE output envelopes (reference
  * `doc/user/content/sql/subscribe.md:34-57` and the sink-side envelope
  * semantics in `src/interchange/src/envelopes.rs`): reshape the raw
  * `(mz_ts, mz_diff, row...)` changelog frame into the keyed forms a
  * downstream consumer ingests directly.
  *
  * One `groupBy (mz_ts, key)` each — the per-timestamp-per-key consolidation
  * the reference performs in the subscribe sink; at scale this is a single
  * shuffle on the envelope key, work ∝ |frame|.
  */
object SubscribeEnvelope {

  private val Ts = Subscribe.TsCol
  private val Diff = Subscribe.DiffCol

  private def valColsOf(frame: DataFrame, keys: Seq[String]): Seq[String] =
    frame.columns.filterNot(c => c == Ts || c == Diff || keys.contains(c)).toSeq

  /** `frame` in the output `envelope` (kind UPSERT or DEBEZIUM, and its
    * KEY columns), or as it is without one: the one shaping step of the
    * batch SUBSCRIBE frame and the continuous cursor. */
  def shape(frame: DataFrame, envelope: Option[(String, Seq[String])]): DataFrame =
    envelope match {
      case None => frame
      case Some(("UPSERT", keys)) => upsert(frame, keys)
      case Some((_, keys)) => debezium(frame, keys)
    }

  /** `ENVELOPE UPSERT (KEY (...))`: per key within each timestamp, the net
    * result of the updates — `upsert` rows carry the new value, `delete`
    * rows NULL values, several live values collapse to `key_violation`. */
  def upsert(frame: DataFrame, keys: Seq[String]): DataFrame = {
    val vals = valColsOf(frame, keys)
    val grouped = frame
      .groupBy((col(Ts) +: keys.map(col)): _*)
      .agg(collect_list(when(col(Diff) > 0, struct(vals.map(col): _*))).as("__ins"))
    val state = when(size(col("__ins")) === 0, lit("delete"))
      .when(size(array_distinct(col("__ins"))) > 1, lit("key_violation"))
      .otherwise(lit("upsert"))
    val outVals = vals.map(c =>
      when(col("mz_state") === "upsert", col("__ins")(0).getField(c)).as(c))
    grouped.withColumn("mz_state", state)
      .select((col(Ts) +: col("mz_state") +: keys.map(col)) ++ outVals: _*)
  }

  /** `ENVELOPE DEBEZIUM (KEY (...))`: like upsert but with the prior state —
    * `before_*` columns from the retraction, `after_*` from the insertion;
    * `insert` / `upsert` / `delete` states per the reference table. */
  def debezium(frame: DataFrame, keys: Seq[String]): DataFrame = {
    val vals = valColsOf(frame, keys)
    val grouped = frame
      .groupBy((col(Ts) +: keys.map(col)): _*)
      .agg(
        collect_list(when(col(Diff) > 0, struct(vals.map(col): _*))).as("__ins"),
        collect_list(when(col(Diff) < 0, struct(vals.map(col): _*))).as("__outs"))
    val state = when(size(col("__ins")) === 0, lit("delete"))
      .when(size(col("__outs")) === 0, lit("insert"))
      .otherwise(lit("upsert"))
    val before = vals.map(c =>
      when(size(col("__outs")) > 0, col("__outs")(0).getField(c)).as(s"before_$c"))
    val after = vals.map(c =>
      when(size(col("__ins")) > 0, col("__ins")(0).getField(c)).as(s"after_$c"))
    grouped.withColumn("mz_state", state)
      .select((col(Ts) +: col("mz_state") +: keys.map(col)) ++ before ++ after: _*)
  }

  /** `WITHIN TIMESTAMP ORDER BY <items>`: deterministic presentation order
    * inside each timestamp — mz_ts stays the outer sort key. */
  def withinTimestampOrder(frame: DataFrame, orderItems: String): DataFrame = {
    def one(item: String): Column = {
      var t = item.trim
      val U = () => t.toUpperCase
      var nullsFirst: Option[Boolean] = None
      if (U().endsWith("NULLS FIRST")) { nullsFirst = Some(true); t = t.dropRight(11).trim }
      else if (U().endsWith("NULLS LAST")) { nullsFirst = Some(false); t = t.dropRight(10).trim }
      var desc = false
      if (U().endsWith(" DESC")) { desc = true; t = t.dropRight(5).trim }
      else if (U().endsWith(" ASC")) { t = t.dropRight(4).trim }
      val base = expr(t)
      (desc, nullsFirst) match {
        case (false, None) => base.asc
        case (false, Some(true)) => base.asc_nulls_first
        case (false, Some(false)) => base.asc_nulls_last
        case (true, None) => base.desc
        case (true, Some(true)) => base.desc_nulls_first
        case (true, Some(false)) => base.desc_nulls_last
      }
    }
    val items = orderItems.split(",").map(_.trim).filter(_.nonEmpty).map(one)
    frame.orderBy(col(Ts).asc +: items.toIndexedSeq: _*)
  }
}
