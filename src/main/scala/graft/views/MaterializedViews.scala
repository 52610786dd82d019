package graft.views

import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.streaming.Changelog

/** Materialized-view lifecycle — the reference's defining feature:
  * `CREATE MATERIALIZED VIEW` registers a query whose result is continuously
  * maintained in durable storage and served consistently to readers
  * (reference `src/adapter/src/coord/sequencer/inner/create_materialized_view.rs`,
  * persist sink `src/compute/src/sink/materialized_view.rs`).
  *
  * Spark-first design:
  *  - **Persist** = versioned parquet directories `<base>/<name>/v=<n>/`
  *    (and `delta=<n>/`, below). A commit writes its data dirs completely,
  *    then renames ONE entry into the catalog's [[CommitTimeline]]
  *    (`<base>/_timeline/t-<ts>`) naming the new version of every view it
  *    advances; that rename is the only visibility point and the only file a
  *    commit writes outside its data dirs. Readers resolve a version from
  *    the timeline's in-memory index once per read, so every read sees one
  *    complete version — the analog of the reference's "every read sees a
  *    consistent frontier" guarantee. A crash before the rename leaves only
  *    orphan data dirs, which the next commit of that version overwrites.
  *    Old versions stay until `vacuum()`.
  *  - **One directory per incarnation.** A view's first incarnation keeps
  *    its dirs in `<base>/<name>/` itself; the k-th CREATE OR REPLACE since
  *    (numbered by the timeline) keeps them in `<base>/<name>/i=<k>/`.
  *    Version 0 is written to an `attempt-<uuid>` dir and moved there while
  *    the old incarnation stays current, so the timeline rename is also
  *    the switch-over: a query that fails, or a crash before the rename,
  *    leaves the old incarnation committed and readable. After the rename
  *    the old incarnation's dirs and failed attempts' are deleted (a crash
  *    before that leaves them to the next [[vacuum]]), so a read that
  *    resolved an old version before the rename may then fail, as one
  *    racing [[vacuum]] does.
  *  - **One schema per incarnation** (the reference's `RelationDesc`):
  *    version 0 fixes the column names, order and types (nullability
  *    aside) until the next DROP or CREATE OR REPLACE. A commit of other
  *    columns fails before it writes anything; a stored delta batch has
  *    those columns plus `diff: bigint`. Every read states the schema.
  *  - **One layout rule.** Version n reads the `v=<n>` snapshot of n itself
  *    for a changelog-valued collection (a `diff` column) and of
  *    n − n % `compactEvery` otherwise, plus the `delta=` batches above it.
  *    Reads, resident seeds, compaction and [[vacuum]]'s keep follow it; no
  *    directory listing decides them.
  *  - **One catalog instance per `baseDir`.** The instance owns the write
  *    clock ([[CommitTimeline]]); a catalog reopened over the directory
  *    rebuilds every view's and group's state from the timeline alone, and
  *    learns each view's schema on first use from one parquet footer of its
  *    current version (the schema Spark writes there; no Spark job).
  *  - **Full refresh** re-runs the defining query (the reference's recompute
  *    path for non-incrementalizable plans).
  *  - **Incremental refresh** applies a `(row..., diff)` changelog batch
  *    through the accumulable-Reduce delta rule (merge by key, add diff-
  *    weighted sums, drop keys at support ≤ 0 — reference
  *    `ReductionType::Accumulable`, `src/compute-types/src/plan/reduce.rs:89-102`)
  *    without touching the base table. The merge is a shuffle of |state| +
  *    |delta| keyed rows; state transits the driver only while the view is
  *    resident (below) and fits its row budget.
  *  - **Resident versions** (the reference's fast-path peek from an
  *    in-memory arrangement, `FastPathPlan::PeekExisting`,
  *    `src/adapter/src/coord/peek.rs:171-182`). A snapshot-valued view (no
  *    `diff` column) holds its last `compactEvery` (4) versions in driver
  *    memory as immutable [[ResidentZSet]]s. All views of the catalog
  *    share one budget of [[ResidentZSet.RowBudget]] rows (50,000; the
  *    heap it bounds is stated there). The first delta commit of an
  *    incarnation seeds the copy from the `v=<n>` snapshot it extends. Each
  *    delta commit writes `delta=<n>` from its plan, reads the batch back
  *    and derives version n as version n−1 ⊎ δ, and a compaction commit
  *    writes `v=<n>` from the resident rows. Parquet footers are checked
  *    before either read, so no snapshot or delta past the budget reaches
  *    the driver. The new version is installed right after the timeline
  *    rename, before SQL names re-bind. [[tableAt]] of a resident version
  *    is a `LocalRelation`, which Spark's optimizer folds filters and
  *    projections into, so point, range and AS OF reads inside the window
  *    run no Spark job. Everything else reads persist: older versions,
  *    changelog-valued collections, views that do not fit the budget, and
  *    a reopened catalog until a commit of the view finds a `v=<n>`
  *    snapshot to seed from.
  *    Eviction: a version-0 write (a new incarnation) and [[dropView]]
  *    forget the view's resident versions, [[vacuum]] forgets the ones it
  *    makes unreadable, and a commit whose delta retracts a row the version
  *    does not hold, inserts a row in another float form than the one held
  *    (-0.0 for 0.0), or does not fit the budget leaves the view
  *    persist-only until its next incarnation. A resident read returns
  *    the rows persist returns for that version, float forms included.
  *  - **Consumers of a commit** (sinks, SUBSCRIBE cursors, indexes) are
  *    commit hooks told only the committed version. Each keeps one
  *    position, the last version it applied, and pulls the versions it
  *    has not applied through [[changesSince]] (an index has no position:
  *    it rebuilds from [[tableAt]]). A position belongs to one
  *    incarnation, so [[dropView]] and a version-0 write over an existing
  *    view (CREATE OR REPLACE) fail before anything is written while the
  *    view has hooks, and name them; the reference likewise refuses to
  *    drop a relation a sink or an index depends on.
  */
final class ViewCatalog(spark: SparkSession, baseDir: String) {

  private val defs = TrieMap.empty[String, SparkSession => DataFrame]
  // the one commit record: every commit (grouped or not) is one entry
  // stamped in ONE serialization order, so readers can pin a timestamp and
  // see a consistent cut across INDEPENDENT views
  private val timeline = new CommitTimeline(baseDir)
  // views exposed to plain SQL as temp views — re-registered on every commit
  // so `spark.sql("select * from v")` always reads the latest version, even
  // when the refresh came through the Scala API rather than SQL REFRESH
  private val exposed = TrieMap.empty[String, Unit]
  // post-commit hooks: view -> hookId -> callback run with the committed
  // version after every commit of the view (see [[addCommitHook]])
  private val commitHooks = TrieMap.empty[String, TrieMap[String, Long => Unit]]

  // (view, incarnation) -> the incarnation's schema, nullability aside:
  // recorded by the version-0 write, or read once from one parquet footer
  // by a catalog opened over an existing directory (see [[schemaOf]])
  private val schemas = TrieMap.empty[(String, Long), StructType]

  // every read states its schema, so none runs a schema-inference job
  private def readStored(p: Path, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(p.toString)

  // view -> its resident versions: absent until the incarnation's first
  // delta commit, None once it is persist-only, else the window of the last
  // `compactEvery` versions. Values are immutable and replaced whole, so a
  // reader sees one consistent window.
  private val resident = TrieMap.empty[String, Option[TreeMap[Long, ResidentZSet]]]

  private def viewDir(name: String): Path = Paths.get(baseDir, name)
  private def incarnationDir(name: String, k: Long): Path =
    if (k == 0L) viewDir(name) else viewDir(name).resolve(s"i=$k")
  private def currentDir(name: String): Path =
    incarnationDir(name, timeline.incarnation(name).getOrElse(0L))
  private def snapDir(name: String, v: Long): Path = currentDir(name).resolve(s"v=$v")
  private def deltaDir(name: String, v: Long): Path = currentDir(name).resolve(s"delta=$v")

  /** Latest committed version, if the view exists. */
  def currentVersion(name: String): Option[Long] = timeline.version(name)

  // ---- atomic multi-collection commit groups -------------------------------
  //
  // The reference's persist sink advances ONE frontier across every
  // collection a dataflow writes (`src/compute/src/sink/materialized_view.rs`;
  // timestamp oracle `src/timestamp-oracle/src/lib.rs:46`): readers never see
  // collection X at time t with collection Y at t-1, and a crashed write is
  // invisible. The Spark-side analog: all member version dirs are written
  // completely, then ONE timeline entry names every member's new version and
  // the group's last applied batchId. Readers resolve versions through the
  // timeline index, so they observe all-old or all-new, never a torn mix; a
  // crash before the rename leaves only orphan version dirs the replay
  // overwrites. A group is only a name for its batchId and its last commit
  // time — members are ordinary views, readable AS OF any timestamp.

  /** Timestamp of the group's latest commit (the group's sequence number:
    * a global timestamp, so `tableAtTime(member, seq)` reads every member as
    * of that commit). */
  def currentGroupSeq(group: String): Option[Long] = timeline.group(group).map(_._1)

  /** Commit new versions of several views as ONE atomic, idempotent step.
    *
    * `batchId >= 0` marks a replayable streaming batch: if the group has
    * already applied `batchId` or a later one, the call is a no-op
    * returning false — a restarted/replayed `foreachBatch` cannot
    * double-apply. `batchId = -1` always applies (non-batch maintenance).
    */
  def commitGroup(group: String, batchId: Long, dfs: Map[String, DataFrame]): Boolean = {
    val curBatch = lastBatchId(group)
    if (batchId >= 0 && curBatch >= batchId) return false // replayed batch
    val nexts = dfs.map { case (n, df) => n -> nextVersion(n, df, None) } // before any write
    val written = dfs.map { case (n, df) => n -> (nexts(n), writeVersion(n, df, nexts(n), None)) }
    commit(CommitTimeline.Entry(written.map { case (n, (v, _)) => n -> v },
      group = Some(group -> (if (batchId >= 0) batchId else curBatch))),
      written.collect { case (n, (_, Some(z))) => n -> z })
    true
  }

  /** Last replayable batchId the group committed (-1 if none). */
  def lastBatchId(group: String): Long = timeline.group(group).fold(-1L)(_._2)

  // ---- delta-structured persist -------------------------------------------
  //
  // The reference's persist stores an MV as an LSM of DELTA batches, its
  // snapshots derived by compaction (`src/persist-client/src/lib.rs`). Here
  // a snapshot-valued view's commit writes its `delta=<n>` batch — work and
  // bytes ∝ |delta| when the engine knows the changelog — and every
  // `compactEvery`-th also a `v=<n>` snapshot (the class doc's layout rule).

  /** Delta-only commits tolerated on top of a base snapshot before a commit
    * also compacts to a full snapshot: merge-on-read chains stay at most 3
    * deltas long, and one snapshot write is amortized over four commits. */
  private val compactEvery = 4L

  /** The schema of `name`'s incarnation, which every version keeps. A
    * catalog opened over an existing directory reads it once per view from
    * the schema Spark writes into each parquet footer, of the current
    * version's `v=<n>` snapshot or else its `delta=<n>` batch: no Spark
    * job. */
  private def schemaOf(name: String): StructType = {
    val notFound = new IllegalArgumentException(s"materialized view not found: $name")
    schemas.getOrElseUpdate(name -> timeline.incarnation(name).getOrElse(throw notFound), {
      val cur = currentVersion(name).getOrElse(throw notFound)
      if (Files.exists(snapDir(name, cur))) footerSchema(snapDir(name, cur))
      else StructType(footerSchema(deltaDir(name, cur)).filterNot(_.name == Changelog.DiffCol))
    })
  }

  /** The schema of `name`'s stored delta batches. */
  private def deltaSchema(name: String): StructType =
    schemaOf(name).add(Changelog.DiffCol, LongType)

  /** A changelog-valued collection: its rows carry their own `diff`. */
  private def changelogValued(name: String): Boolean =
    schemaOf(name).fieldNames.contains(Changelog.DiffCol)

  /** The version whose `v=<n>` snapshot version `v` of `name` is read
    * from: `v` itself for a changelog-valued collection, which writes a
    * snapshot on every commit, else the last compaction at or below `v`. */
  private def baseOf(name: String, v: Long): Long =
    if (changelogValued(name)) v else v - v % compactEvery

  /** The version a commit of `df`, with its `known` changelog, makes of
    * `name`. A commit after version 0 must keep the incarnation's column
    * names, order and types (nullability aside), or it fails here, before
    * anything is written. */
  private def nextVersion(name: String, df: DataFrame, known: Option[DataFrame]): Long = {
    val next = currentVersion(name).fold(0L)(_ + 1)
    if (next > 0L) {
      requireColumns(name, df.schema, schemaOf(name))
      known.foreach(d => requireColumns(name, d.schema, deltaSchema(name)))
    }
    next
  }

  private def requireColumns(name: String, got: StructType, want: StructType): Unit = {
    def columns(s: StructType) =
      s.fields.toSeq.map(f => f.name -> graft.Schemas.nullableType(f.dataType))
    require(columns(got) == columns(want),
      s"cannot commit ${got.simpleString} to $name, whose schema is ${want.simpleString}")
  }

  /** Persist version `next` of `name`: version 0 and a changelog-valued
    * collection's versions as `v=<n>` snapshots, any other as its
    * `delta=<n>` batch — the `known` changelog, or for a full refresh the
    * generic diff against version n−1 — plus the `v=<n>` compaction on
    * every `compactEvery`-th. Returns the resident copy of the new
    * version, for [[commit]] to install, when the view is resident. */
  private def writeVersion(name: String, df: DataFrame, next: Long,
      known: Option[DataFrame]): Option[ResidentZSet] = {
    if (next == 0L) {
      // a new incarnation (CREATE, CREATE OR REPLACE, re-create after DROP)
      // starts a history of its own, possibly of another schema, in its own
      // directory (the class doc), and no consumer position of the old one
      // may carry over. Version 0 is a snapshot (deltaAt derives its
      // changelog from it).
      requireNoHooks(name, "replace")
      // each attempt writes a directory of its own, so the straggling tasks
      // of a failed one never write where a later one does
      val attempt = viewDir(name).resolve(s"attempt-${java.util.UUID.randomUUID}")
      df.write.parquet(attempt.toString)
      val k = timeline.incarnation(name).fold(0L)(_ + 1)
      val dir = Files.createDirectories(incarnationDir(name, k))
      // what a failed or crashed attempt, or a dropped incarnation, left
      children(dir).filter(_ != attempt).foreach(p => FileUtils.deleteQuietly(p.toFile))
      Files.move(attempt, dir.resolve("v=0"))
      schemas.put(name -> k, graft.Schemas.nullable(df.schema))
      resident.remove(name) // until the rename, reads go to the old incarnation's dirs
      return None
    }
    if (changelogValued(name)) {
      // changelog-valued collections (their rows ARE the delta algebra;
      // a second diff column would collide) stay snapshot-structured
      writeSnapshot(name, next, df)
      return None
    }
    val prev = residentCopy(name, next - 1)
    val delta = known.getOrElse(
      // generic commit changelog `new ∖ old ∪ -(old ∖ new)`, computed from
      // the not-yet-written plan — acceptable only here, on the
      // full-refresh path, which is already O(|view|)
      Changelog.consolidate(Changelog.unionAll(
        Changelog.fromRows(df),
        Changelog.negate(Changelog.fromRows(tableAt(name, next - 1))))))
    val deltaPath = deltaDir(name, next)
    delta.write.mode("overwrite").parquet(deltaPath.toString)
    // the new resident version is version n−1 ⊎ the stored batch, read back
    // only when its footers show it fits the budget: a larger delta never
    // reaches the driver
    val derived = prev.filter(_ => storedRows(deltaPath) <= rowsFree(name))
      .flatMap(_.plus(readStored(deltaPath, deltaSchema(name)).collect()))
    if (prev.isDefined && derived.isEmpty) resident.put(name, None) // persist-only from here on
    if (next % compactEvery != 0L) derived
    else {
      // the compaction writes the resident rows as they were inserted, so
      // the merged plan is not run again
      val stored = derived.map(_.asStored)
      writeSnapshot(name, next, stored.fold(df)(_.toDF(spark).coalesce(1)))
      stored
    }
  }

  private def writeSnapshot(name: String, v: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(snapDir(name, v).toString)

  /** The resident copy of committed version `v` of `name`, if the view is
    * resident. The first delta commit of an incarnation seeds it from the
    * `v=<v>` snapshot when the snapshot's parquet footers show it fits the
    * budget; a view found over the budget stays persist-only until its next
    * incarnation. A version without its own snapshot (merge-on-read, as
    * after a reopen) is not seeded: the next commit tries again, and a
    * compaction commit writes one. */
  private def residentCopy(name: String, v: Long): Option[ResidentZSet] =
    resident.get(name) match {
      case Some(window) => window.flatMap(_.get(v))
      case None if baseOf(name, v) != v => None
      case None =>
        val dir = snapDir(name, v)
        val z = Option.when(storedRows(dir) <= rowsFree(name)) {
          ResidentZSet.of(schemaOf(name), readStored(dir, schemaOf(name)).collect())
        }.flatten
        if (z.exists(s => install(name, TreeMap(v -> s)))) z
        else { resident.put(name, None); None }
    }

  /** `read` applied to the footers of at most `files` parquet files under
    * `dir`: no Spark job. */
  private def footers[A](dir: Path, files: Int = Int.MaxValue)(
      read: org.apache.parquet.hadoop.ParquetFileReader => A): List[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = Files.list(dir)
    try {
      s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).take(files).map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        try read(r) finally r.close()
      }.toList
    } finally s.close()
  }

  /** Rows the parquet files under `dir` hold. */
  private def storedRows(dir: Path): Long = footers(dir)(_.getRecordCount).sum

  /** The schema Spark recorded in a parquet footer under `dir` (the
    * `org.apache.spark.sql.parquet.row.metadata` key), all nullable. */
  private def footerSchema(dir: Path): StructType = footers(dir, 1)(r => Option(
      r.getFooter.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
    .flatten.headOption.map(j => graft.Schemas.nullable(DataType.fromJson(j).asInstanceOf[StructType]))
    .getOrElse(throw new IllegalStateException(s"no Spark schema in the parquet footers of $dir"))

  /** Rows of [[ResidentZSet.RowBudget]] the other views' windows leave. */
  private def rowsFree(name: String): Long =
    ResidentZSet.RowBudget - resident.iterator.collect {
      case (n, Some(w)) if n != name => ResidentZSet.held(w.values)
    }.sum

  /** Make `w` the window of `name` if every window then fits the budget
    * together, else leave `name` persist-only; true if installed. */
  private def install(name: String, w: TreeMap[Long, ResidentZSet]): Boolean =
    resident.synchronized {
      val fits = ResidentZSet.held(w.values) <= rowsFree(name)
      resident.put(name, Option.when(fits)(w))
      fits
    }

  /** Rename `e` into the timeline — the commit's visibility point — then
    * install the new resident versions, re-bind SQL names and run the
    * commit hooks of every view it advanced. Installing after the rename
    * means a resident version is always a committed one; installing before
    * the re-bind means a re-bound name reads the new version from memory. */
  private def commit(e: CommitTimeline.Entry,
      installs: Map[String, ResidentZSet] = Map.empty): Unit = {
    timeline.commit(e)
    installs.foreach { case (n, z) =>
      val v = e.views(n)
      resident.get(n).flatten.foreach(w =>
        install(n, (w + (v -> z)).rangeFrom(v - compactEvery + 1)))
    }
    e.views.keys.foreach(syncTempView)
    e.views.collect { case (n, 0L) => n }.foreach(pruneSuperseded)
    e.views.foreach { case (n, v) => runCommitHooks(n, v) }
  }

  /** Delete the dirs of `name`'s incarnations before its current one and
    * of failed version-0 attempts. */
  private def pruneSuperseded(name: String): Unit = timeline.incarnation(name).foreach { k =>
    children(viewDir(name)).filter { p =>
      if (k == 0L) p.getFileName.toString.startsWith("attempt-") else p != incarnationDir(name, k)
    }.foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  private def children(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.toList finally s.close()
    }

  /** The stored commit changelog `version-1 → version` — `(row..., diff)`.
    * Version 0 is [[zsetAt]] itself. A changelog-valued collection stores
    * no delta batches, so its changelog is the Z-set difference of the two
    * versions. Delta dirs survive [[vacuum]] (they are the history
    * SUBSCRIBE serves). */
  def deltaAt(name: String, version: Long): DataFrame =
    if (version == 0L) zsetAt(name, 0L)
    else if (!changelogValued(name)) readStored(deltaDir(name, version), deltaSchema(name))
    else Changelog.consolidate(Changelog.unionAll(
      zsetAt(name, version), Changelog.negate(zsetAt(name, version - 1))))

  /** The changelog `after → upTo` of `name`: what a consumer that last
    * applied version `after` has not applied up to `upTo` — the one
    * catch-up rule of every commit consumer. Empty when `after >= upTo`;
    * the stored commit changelog ([[deltaAt]]) when `after == upTo - 1`;
    * otherwise the consolidated union of the stored changelogs of versions
    * `(after, upTo]`, starting from version 0's snapshot when `after` is
    * below 0. Over Z-sets, applying the union equals applying the deltas
    * one by one. */
  def changesSince(name: String, after: Long, upTo: Long): DataFrame =
    if (after >= upTo) spark.createDataFrame(java.util.List.of[Row](),
      if (changelogValued(name)) schemaOf(name) else deltaSchema(name))
    else if (after == upTo - 1) deltaAt(name, upTo)
    else Changelog.consolidate(Changelog.unionAll(
      ((math.max(after, -1L) + 1) to upTo).map(v => deltaAt(name, v)): _*))

  /** Version `version` of `name` as a Z-set `(row..., diff)`: a
    * changelog-valued collection (one with a `diff` column) as stored — its
    * `diff` is the multiplicity, not a data column — and a snapshot-valued
    * view at diff +1 per row. */
  def zsetAt(name: String, version: Long): DataFrame = {
    val t = tableAt(name, version)
    if (t.columns.contains(Changelog.DiffCol)) t else Changelog.fromRows(t)
  }

  /** Register a post-commit hook under `hookId` (idempotent re-register
    * replaces). The hook runs synchronously after every commit of `name`,
    * after the SQL name re-binds, and is told the committed version only: a
    * consumer pulls what it has not applied through [[changesSince]] from
    * its own position. The commit precedes the hook, so a throwing hook
    * fails the statement but leaves the view commit durable; every
    * consumer the throw skipped catches up at the next commit. */
  def addCommitHook(name: String, hookId: String, f: Long => Unit): Unit =
    commitHooks.getOrElseUpdate(name, TrieMap.empty).put(hookId, f)

  def removeCommitHook(name: String, hookId: String): Unit =
    commitHooks.get(name).foreach(_.remove(hookId))

  private def runCommitHooks(name: String, version: Long): Unit =
    commitHooks.get(name).foreach(_.values.foreach(_(version)))

  /** Fail, before anything is written, if consumers hold positions in the
    * current incarnation of `name`; the error names their hooks. */
  private def requireNoHooks(name: String, what: String): Unit = {
    val ids = commitHooks.get(name).fold(Seq.empty[String])(_.keys.toSeq.sorted)
    if (ids.nonEmpty) throw new IllegalStateException(
      s"cannot $what materialized view $name: ${ids.mkString(", ")} consume its " +
        "commits (DROP SINK, CLOSE or DROP INDEX first)")
  }

  /** Make the view readable by plain `spark.sql` under its own name. Every
    * commit re-binds the name to the new version, before the commit hooks
    * run, so SQL readers resolve the latest committed version no matter
    * which API refreshed it. A name already exposed is left as it is bound
    * (an index hook binds it to its arrangement). */
  def exposeAsTempView(name: String): Unit =
    if (exposed.putIfAbsent(name, ()).isEmpty) syncTempView(name)

  private def syncTempView(name: String): Unit =
    if (exposed.contains(name)) table(name).createOrReplaceTempView(name)

  /** CREATE MATERIALIZED VIEW name AS query — runs the query once and
    * persists version 0. Re-creating an existing name (CREATE OR REPLACE)
    * starts a NEW incarnation: the reference drops and re-creates the
    * dataflow, so the old history — possibly of a different schema — is
    * removed rather than extended, but only once the new version 0 is
    * committed: a query that fails leaves the old incarnation committed and
    * readable. It fails before anything is written while the view has
    * commit hooks. */
  def createMaterializedView(name: String, query: SparkSession => DataFrame): Long = {
    writeVersion(name, query(spark), 0L, None)
    defs.put(name, query)
    commit(CommitTimeline.Entry(Map(name -> 0L)))
    0L
  }

  /** Register the defining query WITHOUT writing a version — the write-only
    * commit path ([[commitGroup]]) stays separate from definition
    * registration, so batch application can never install a definition that
    * captures its own delta (re-running such a definition would double-apply
    * the batch). */
  def registerDefinition(name: String, query: SparkSession => DataFrame): Unit = {
    defs.put(name, query); ()
  }

  /** Is `name` a view this catalog knows (registered or ever committed)? */
  def isDefined(name: String): Boolean =
    defs.contains(name) || currentVersion(name).isDefined

  /** Every view with a registered definition (SHOW MATERIALIZED VIEWS). */
  def viewNames: Seq[String] = defs.keys.toSeq.sorted

  /** Read the latest committed snapshot (a plain DataFrame — joins, aggs,
    * further views compose on top exactly like the reference's `Get`). */
  def table(name: String): DataFrame = {
    val v = currentVersion(name).getOrElse(
      throw new IllegalArgumentException(s"materialized view not found: $name"))
    tableAt(name, v)
  }

  /** AS OF read: a specific committed version (the timestamp-oracle analog —
    * versions are the view's logical timestamps; history persists until
    * [[vacuum]]). A resident version (see the class doc) is a
    * `LocalRelation` over its rows in driver memory; any other is read
    * from persist. */
  def tableAt(name: String, version: Long): DataFrame =
    resident.get(name).flatten.flatMap(_.get(version))
      .fold(persistedAt(name, version))(_.toDF(spark))

  private def persistedAt(name: String, version: Long): DataFrame = {
    val base = baseOf(name, version)
    if (!Files.exists(snapDir(name, base)))
      throw new IllegalArgumentException(s"version $version of $name not found (vacuumed?)")
    val snap = readStored(snapDir(name, base), schemaOf(name))
    if (base == version) snap
    else {
      // merge-on-read: a delta-structured version derives its snapshot from
      // its base snapshot plus the stored delta batches above it — one
      // consolidation shuffle over |base| + |chain deltas|, with chain
      // length bounded by `compactEvery`
      val chain = ((base + 1) to version).map(v => readStored(deltaDir(name, v), deltaSchema(name)))
      // single all-columns aggregation: the consolidated result is a valid
      // snapshot (net multiplicities ≥ 0 by the commit invariants), so the
      // expansion skips threshold()'s second exchange over the same rows
      Changelog.toRowsOfConsolidated(Changelog.consolidate(
        Changelog.unionAll((Changelog.fromRows(snap) +: chain): _*)))
    }
  }

  /** Full refresh: re-run the defining query, commit as a new version. The
    * query is evaluated against the CURRENT catalog state (definitions must
    * read through [[table]], never capture deltas), so a refresh of a
    * group-member view recomputes from its live inputs. */
  def refreshFull(name: String): Long = {
    val query = defs.getOrElse(name,
      throw new IllegalArgumentException(s"view definition not registered: $name"))
    commitState(name, query(spark))
  }

  /** Incremental refresh of an **accumulable-aggregate** view whose rows are
    * `(keyCols..., support: Long, sumCols...)` — the state layout
    * [[graft.streaming.IncrementalReduce.accumulable]] produces. `delta` is a
    * changelog `(keyCols..., valueCols..., diff)`; its diff-weighted partial
    * aggregate merges into the stored state. Keys whose support drops to ≤ 0
    * vanish (Threshold). Derived columns (avg etc.) must be computed by
    * readers from the sums — exactly how the reference maintains only the
    * accumulable core and evaluates the "finishing" map on read. */
  def refreshIncrementalAccumulable(
      name: String,
      delta: DataFrame,
      keyCols: Seq[String],
      sumColToValue: Map[String, String]): Long = {
    val d = col(Changelog.DiffCol)
    val partial = delta.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(sum(d).as("support"),
        sumColToValue.map { case (s, v) => sum(col(v) * d).as(s) }.toSeq: _*)
    val old = table(name) // pinned pre-commit: still the prior version inside commit
    val merged = old.unionByName(partial)
      .groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(sum(col("support")).as("support"),
        sumColToValue.keys.map(s => sum(col(s)).as(s)).toSeq: _*)
      .filter(col("support") > 0)
      // back in the view's column order and types: a sum over a
      // diff-weighted product widens (decimal(28,2) to decimal(38,2))
      .select(schemaOf(name).fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    // the engine KNOWS which state rows changed: exactly the delta's keys.
    // The stored commit changelog is retract(old row) + insert(new row) per
    // changed key — two semi-join-pruned scans whose OUTPUT is ∝ |delta
    // keys|, never the full-snapshot diff (`exceptAll`) the fallback pays.
    val changedKeys = delta.select(keyCols.map(col).toIndexedSeq: _*).distinct()
    commitState(name, merged, Some(Changelog.consolidate(Changelog.unionAll(
      Changelog.fromRows(merged.join(changedKeys, keyCols, "left_semi")),
      Changelog.negate(Changelog.fromRows(old.join(changedKeys, keyCols, "left_semi")))))))
  }

  /** Write `df` as the next version of `name` and commit it, without
    * re-running the registered definition — the commit of a full refresh
    * and of state-only maintenance paths ([[TemporalView.advance]]: the new
    * state derives from the old state, not from the defining query).
    * `knownDelta`, when the caller already knows the commit's changelog (a
    * temporal advance knows its retraction set exactly), is persisted as-is
    * instead of the generic snapshot diff. */
  def commitState(name: String, df: DataFrame,
      knownDelta: Option[DataFrame] = None): Long = {
    val next = nextVersion(name, df, knownDelta)
    val z = writeVersion(name, df, next, knownDelta)
    commit(CommitTimeline.Entry(Map(name -> next)), z.map(name -> _).toMap)
    next
  }

  // ---- linearized reads across independent views ---------------------------

  /** Highest global timestamp a reader may pin: every commit at or below it
    * is durable. Pin ONCE, then read several views through [[tableAtTime]] —
    * the result is a consistent cut across views that share no commit group
    * (the reference's `TimestampOracle::read_ts`,
    * `src/timestamp-oracle/src/lib.rs:46`). */
  def globalReadTs(): Long = timeline.readTs

  /** Read `name` as of global time `ts`: the snapshot its latest commit at
    * or before `ts` produced, regardless of how many commits it has had
    * since. History persists until [[vacuum]]; dropping or re-creating the
    * view forgets it. */
  def tableAtTime(name: String, ts: Long): DataFrame =
    timeline.versionAt(name, ts) match {
      case Some(v) => tableAt(name, v)
      case None => throw new IllegalArgumentException(
        s"$name had no committed version at global time $ts")
    }

  /** Drop snapshots below the current version (the persist GC analog) —
    * keeping the base snapshot the current version reconstructs from when
    * it is delta-structured. Delta batches survive (they are the history
    * SUBSCRIBE serves). Versions below that base become unreadable, so
    * their resident copies go first. The dirs of older incarnations that a
    * crash after a replace's rename left go too. */
  def vacuum(name: String): Unit = currentVersion(name).foreach { cur =>
    val keep = baseOf(name, cur)
    resident.synchronized {
      resident.get(name).flatten.foreach(w => resident.put(name, Some(w.rangeFrom(keep))))
    }
    children(currentDir(name)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("v=") && n.stripPrefix("v=").toLong < keep
    }.foreach(p => FileUtils.deleteDirectory(p.toFile))
    pruneSuperseded(name)
  }

  /** Drop `name`: a tombstone entry commits the drop (so a reopened catalog
    * does not bring the view back), then its data dirs are deleted. Fails
    * before anything is written while the view has commit hooks. */
  def dropView(name: String): Unit = {
    requireNoHooks(name, "drop")
    resident.remove(name)
    defs.remove(name)
    exposed.remove(name)
    val k = timeline.incarnation(name)
    if (k.isDefined)
      timeline.commit(CommitTimeline.Entry(dropped = Seq(name)))
    FileUtils.deleteDirectory(viewDir(name).toFile)
    k.foreach(i => schemas.remove(name -> i))
  }
}
