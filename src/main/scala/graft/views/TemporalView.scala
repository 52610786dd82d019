package graft.views

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Changelog

/** Temporal filters as *scheduled retractions* on a maintained view.
  *
  * The reference compiles a predicate `mz_now() <= <deadline expr>` out of
  * the dataflow's row logic and into the timestamp domain
  * (`MfpPlan::extract_temporal`, reference `src/expr/src/linear.rs:411-470`;
  * `doc/user/content/transform-data/patterns/temporal-filters.md`): each row
  * is emitted once at its insert time and once, negated, at its deadline, so
  * advancing the view's logical clock retracts expired rows WITHOUT
  * re-evaluating the defining query.
  *
  * Spark analog: the deadline expression is evaluated ONCE when a row enters
  * the view state and persisted alongside it (`__expires_at`). Advancing the
  * clock is then a state-only operation — survivors are
  * `state WHERE __expires_at >= newClock`, committed as the next version;
  * the rows that fall out appear as `(row, -1)` in the version-to-version
  * changelog ([[graft.sql.SubscribeFrame]]), exactly the retraction the
  * reference schedules. The base table is never rescanned, and an AS OF read
  * of an earlier version still shows the expired rows (history is immutable
  * until vacuum).
  *
  * At 100 TB: versions are written range-partitioned on `__expires_at`
  * ([[DataFrame.repartitionByRange]]), so parquet min/max file stats let the
  * `advance` filter skip every file whose rows all survive — the scan cost
  * tracks the expiring fraction of state, not the state size. (Deadlines are
  * computed from event time, so the range partitioning is also how the
  * reference's timely frontier batches retractions by timestamp.)
  */
final class TemporalView(
    cat: ViewCatalog,
    val name: String,
    source: SparkSession => DataFrame,
    deadline: Column) {

  import TemporalView.{AppearsCol, ExpiresCol}

  @volatile private var lastClock: Option[java.sql.Timestamp] = None
  // set at create(): does the stamped plan carry a lower bound (scheduled
  // FUTURE INSERTION, reference lower_bounds src/expr/src/linear.rs:1727)?
  @volatile private var hasPending: Boolean = false

  private def pendingName: String = name + "__pending"

  private def alive(df: DataFrame, clock: java.sql.Timestamp): DataFrame =
    df.filter(col(ExpiresCol) >= lit(clock))

  private def visibleAt(df: DataFrame, clock: java.sql.Timestamp): DataFrame =
    alive(df, clock).filter(col(AppearsCol) <= lit(clock))

  private def ranged(df: DataFrame): DataFrame =
    df.repartitionByRange(col(ExpiresCol))

  /** CREATE at logical time `clock` (format `yyyy-MM-dd HH:mm:ss`): evaluate
    * the defining query once, stamp each row's deadline (and appearance
    * bound, when the plan has one), keep rows visible at `clock`, commit as
    * version 0. Rows whose appearance bound lies in the future wait in the
    * `<name>__pending` state and enter on the ADVANCE that crosses it. */
  def create(spark: SparkSession, clock: String): Long = {
    val c = java.sql.Timestamp.valueOf(clock)
    lastClock = Some(c)
    val full = source(spark).withColumn(ExpiresCol, deadline)
    hasPending = full.columns.contains(AppearsCol)
    if (!hasPending) {
      cat.registerDefinition(name,
        s => alive(source(s).withColumn(ExpiresCol, deadline), c))
      cat.commitState(name, ranged(alive(full, c)))
    } else {
      // pending = every not-yet-expired row, future appearances included —
      // the reference's arrangement holding updates at future timestamps
      cat.dropView(pendingName)
      cat.registerDefinition(pendingName,
        s => ranged(alive(source(s).withColumn(ExpiresCol, deadline), c)))
      cat.commitState(pendingName, ranged(alive(full, c)))
      cat.registerDefinition(name,
        s => visibleAt(source(s).withColumn(ExpiresCol, deadline), c))
      cat.commitState(name, ranged(visibleAt(full, c)))
    }
  }

  /** Advance the view's logical clock: rows whose deadline fell inside
    * `[oldClock, newClock)` leave the state (diff = -1 in the subscribe
    * changelog) and rows whose appearance bound was crossed enter it
    * (diff = +1). State-only — the defining query does not re-run. */
  def advance(clock: String): Long = {
    val c = java.sql.Timestamp.valueOf(clock)
    require(lastClock.forall(_.before(c)),
      s"temporal clock must advance monotonically: $lastClock -> $c")
    val oldClock = lastClock
    lastClock = Some(c)
    val old = cat.table(name) // pinned: versions advance only inside commitState
    if (!hasPending) {
      // the advance KNOWS its commit changelog exactly — the scheduled
      // retractions are the rows whose deadline fell before the new clock;
      // the range partitioning on __expires_at makes this filter a
      // file-pruned scan of just the expiring tail, delta ∝ |expired|
      cat.commitState(name, ranged(alive(old, c)),
        Some(Changelog.negate(Changelog.fromRows(
          old.filter(col(ExpiresCol) < lit(c))))))
    } else {
      val pendingOld = cat.table(pendingName)
      cat.commitState(pendingName, ranged(alive(pendingOld, c)),
        Some(Changelog.negate(Changelog.fromRows(
          pendingOld.filter(col(ExpiresCol) < lit(c))))))
      // insertions: appearance bound crossed inside (oldClock, c], still
      // alive at c; retractions: deadline passed. Both file-pruned tails.
      val appearing = alive(pendingOld, c)
        .filter(col(AppearsCol) <= lit(c))
        .filter(oldClock.map(o => col(AppearsCol) > lit(o)).getOrElse(lit(true)))
      val expiring = old.filter(col(ExpiresCol) < lit(c))
      cat.commitState(name, ranged(visibleAt(pendingOld, c)),
        Some(Changelog.consolidate(Changelog.unionAll(
          Changelog.fromRows(appearing),
          Changelog.negate(Changelog.fromRows(expiring))))))
    }
  }

  /** Latest committed snapshot without the bookkeeping columns. */
  def snapshot(): DataFrame = cat.table(name).drop(ExpiresCol, AppearsCol)
}

object TemporalView {
  /** Persisted deadline column — evaluated once at row entry, the analog of
    * the retraction timestamp `extract_temporal` schedules. */
  val ExpiresCol = "__expires_at"

  /** Persisted appearance column (scheduled future INSERTION) — the lower
    * bound of `mz_now() >= e`, the reference's `lower_bounds` list. */
  val AppearsCol = "__appears_at"

  /** A temporal view whose source ALREADY carries the stamped [[ExpiresCol]]
    * deadline column — the SQL extraction path
    * ([[graft.sql.TemporalSql.extract]]) projects the deadline during plan
    * surgery, so the deadline "expression" here is just the column itself. */
  def stamped(cat: ViewCatalog, name: String,
      source: SparkSession => DataFrame): TemporalView =
    new TemporalView(cat, name, source, col(ExpiresCol))
}
