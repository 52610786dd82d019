package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Subscribe
import graft.views.ViewCatalog

/** Per-session [[ViewCatalog]] registry backing the SQL DDL surface — the
  * analog of the reference's adapter-side catalog, which owns every
  * materialized view a session can name (reference
  * `src/adapter/src/catalog.rs`, `doc/developer/life-of-a-query.md`).
  *
  * The persist base directory comes from `spark.graft.viewDir` when set
  * (tests and Verify pin it for reproducibility); otherwise a fresh temp
  * directory per session.
  */
object GraftSqlCatalog {
  // Keyed by (sharedState, configured viewDir) rather than SparkSession
  // identity: cloned sessions (`newSession()`, the session clone foreachBatch
  // hands out) share sharedState and inherit the session conf, so they
  // resolve to the parent's catalog instead of silently minting a fresh one
  // with an empty view list. The map is bounded by #SparkContexts × distinct
  // viewDirs — session churn (clones, stop()) no longer accretes entries.
  private val catalogs = TrieMap.empty[(AnyRef, String), ViewCatalog]

  def forSession(spark: SparkSession): ViewCatalog = {
    val dir = spark.conf.get("spark.graft.viewDir", "")
    catalogs.getOrElseUpdate((spark.sharedState, dir), {
      new ViewCatalog(spark,
        if (dir.nonEmpty) dir
        else graft.GraftSession.tempDir("graft_views_").toString)
    })
  }

  // sources created via CREATE SOURCE, for SHOW SOURCES / duplicate checks —
  // keyed like the view catalogs so session clones share the registry
  private val sources = TrieMap.empty[AnyRef, TrieMap[String, String]]

  def sourcesFor(spark: SparkSession): TrieMap[String, String] =
    sources.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** Sinks created via CREATE SINK: name -> (source view, path, key cols). */
  private val sinks = TrieMap.empty[AnyRef, TrieMap[String, (String, String, Seq[String])]]

  def sinksFor(spark: SparkSession): TrieMap[String, (String, String, Seq[String])] =
    sinks.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** Temporal materialized views (created via a `mz_now()` predicate in
    * CREATE MATERIALIZED VIEW); ADVANCE resolves its target here. */
  private val temporals = TrieMap.empty[AnyRef, TrieMap[String, graft.views.TemporalView]]

  def temporalsFor(spark: SparkSession): TrieMap[String, graft.views.TemporalView] =
    temporals.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** One CREATE INDEX registration. `prior` is the binding the indexed
    * relation name had BEFORE the index shadowed it with the arrangement
    * (None when the name resolved through the permanent catalog, where
    * dropping the shadowing temp view restores resolution) — DROP INDEX
    * re-installs it, because in the reference dropping an index never
    * removes the relation it was built over. */
  final case class IndexEntry(rel: String, key: String, buckets: Int,
      prior: Option[DataFrame])

  private val indexes = TrieMap.empty[AnyRef, TrieMap[String, IndexEntry]]

  def indexesFor(spark: SparkSession): TrieMap[String, IndexEntry] =
    indexes.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** Continuous subscriptions (SUBSCRIBE ... WITH (...)): view -> cursor. */
  private val subscriptions = TrieMap.empty[AnyRef, TrieMap[String, SubscriptionCursor]]

  def subscriptionsFor(spark: SparkSession): TrieMap[String, SubscriptionCursor] =
    subscriptions.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** pg (and the reference) fold unquoted identifiers to lowercase; every
    * SHOW CREATE registry key goes through this, so `CREATE VIEW Foo` then
    * `SHOW CREATE VIEW foo` resolve to the same entry. The engine's Id
    * grammar only admits unquoted names, so unconditional folding is exact. */
  def normId(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** Canonical CREATE statements for SHOW CREATE [MATERIALIZED] VIEW
    * (reference `ShowCreatePlan`, `src/sql/src/plan/statement/show.rs:51`):
    * name -> (is_materialized, create_sql). */
  private val createSqls = TrieMap.empty[AnyRef, TrieMap[String, (Boolean, String)]]

  def createSqlFor(spark: SparkSession): TrieMap[String, (Boolean, String)] =
    createSqls.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** CREATE TABLE statements, for SHOW CREATE TABLE. */
  private val tableSqls = TrieMap.empty[AnyRef, TrieMap[String, String]]

  def tableSqlFor(spark: SparkSession): TrieMap[String, String] =
    tableSqls.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** COMMENT ON registry (reference `Plan::Comment`,
    * `src/sql/src/plan/statement/ddl.rs` plan_comment; stored in
    * mz_internal.mz_comments): (object name, column position or None) ->
    * comment text. Keys are normId-folded. */
  private val comments = TrieMap.empty[AnyRef, TrieMap[(String, Option[Int]), String]]

  def commentsFor(spark: SparkSession): TrieMap[(String, Option[Int]), String] =
    comments.getOrElseUpdate(spark.sharedState, TrieMap.empty)

  /** Comment metadata: declared object type (for the non-relational
    * namespaces — cluster, cluster-replica, database, schema, role…) and
    * an insertion sequence so mz_comments renders in creation order. */
  private val commentMeta =
    TrieMap.empty[AnyRef, TrieMap[(String, Option[Int]), (Option[String], Int)]]
  private val commentSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def commentMetaFor(spark: SparkSession): TrieMap[(String, Option[Int]), (Option[String], Int)] =
    commentMeta.getOrElseUpdate(spark.sharedState, TrieMap.empty)
  def nextCommentSeq(): Int = commentSeq.incrementAndGet()

  /** WITH MUTUALLY RECURSIVE view bodies (name -> WMR text): readers
    * re-materialize the name from the recorded body before use (the SLT
    * layer's freshness-on-read contract for materialized views), though a
    * lazy [[LetRec]] plan could now back an ordinary view. */
  private val wmrViews = TrieMap.empty[AnyRef, TrieMap[String, String]]
  def wmrViewsFor(spark: SparkSession): TrieMap[String, String] =
    wmrViews.getOrElseUpdate(spark.sharedState, TrieMap.empty)
}

/** Batch SUBSCRIBE: the view's changelog over its committed version
  * timeline — snapshot at the AS OF version, then the STORED commit delta
  * of each subsequent version ([[ViewCatalog.deltaAt]]), stamped
  * `(mz_ts, mz_diff, row...)` exactly like the streaming [[Subscribe]]
  * (reference `src/compute/src/sink/subscribe.rs`: SUBSCRIBE emits the
  * as-of snapshot followed by updates in timestamp order). Versions are the
  * view's logical timestamps, so the frame IS the reference semantics over
  * that timeline; the continuously-running variant is [[Subscribe.start]].
  *
  * Cost: one snapshot read (the as-of base) + one delta-sized read per
  * version step — the commits already persisted their consolidated
  * changelogs, so a long history never re-reads or re-diffs full
  * snapshots. */
object SubscribeFrame {

  def apply(cat: ViewCatalog, name: String, asOf: Option[Long]): DataFrame = {
    val cur = cat.currentVersion(name).getOrElse(
      throw new IllegalArgumentException(s"cannot SUBSCRIBE: no committed version of $name"))
    val from = asOf.getOrElse(cur)
    require(from >= 0 && from <= cur, s"AS OF $from outside [0, $cur] for $name")
    val base = cat.zsetAt(name, from)
    val columns = Subscribe.rowColumns(base)
    (Subscribe.stamp(base, from, columns) +: steps(cat, name, columns, from, cur))
      .reduce(_.unionByName(_))
  }

  /** The stored commit changelog of each version in `(after, upTo]`,
    * stamped at its version with the view's row `columns`, in version
    * order: the frame's updates after its snapshot, and what a
    * [[SubscriptionCursor]] that last queued `after` queues next. */
  def steps(cat: ViewCatalog, name: String, columns: Seq[String],
      after: Long, upTo: Long): Seq[DataFrame] =
    ((after + 1) to upTo).map(v => Subscribe.stamp(cat.deltaAt(name, v), v, columns))
}
