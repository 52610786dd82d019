package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

import graft.sources.CopyTo

/** Runnable commands behind the SQL DDL surface (reference plan kinds
  * `CreateMaterializedView` / `Subscribe` / `CopyTo` in
  * `src/sql/src/plan.rs:134`). Each is a [[LeafRunnableCommand]], so Spark's
  * own command execution runs it — no custom strategy needed; the side
  * effects dispatch to [[graft.views.ViewCatalog]] / [[CopyTo]].
  */
case class CreateMaterializedViewCommand(
    name: String, queryText: String, replace: Boolean, ifNotExists: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(!(replace && ifNotExists),
      "OR REPLACE and IF NOT EXISTS are mutually exclusive (as in the reference)")
    val cat = GraftSqlCatalog.forSession(spark)
    if (ifNotExists && cat.isDefined(name))
      return Seq(Row(name, cat.currentVersion(name).getOrElse(-1L)))
    // plain CREATE on an existing name errors, like the reference/standard
    // SQL; only CREATE OR REPLACE overwrites
    if (!replace && cat.isDefined(name))
      throw new IllegalArgumentException(
        s"materialized view $name already exists (use CREATE OR REPLACE)")
    // mz_now() temporal filter? Extract it from the parsed plan
    // (MfpPlan::extract_temporal) and compile to a TemporalView whose
    // commits schedule retractions instead of re-filtering on read.
    val parsed = spark.sessionState.sqlParser.parsePlan(queryText)
    val v = TemporalSql.extract(parsed) match {
      case Some(stamped) =>
        // CREATE OR REPLACE starts a new incarnation (as in the plain path)
        if (cat.currentVersion(name).isDefined) cat.dropView(name)
        val tv = graft.views.TemporalView.stamped(cat, name,
          s => TemporalSql.toDf(s, stamped))
        val ver = tv.create(spark, TemporalSql.currentClock(spark))
        GraftSqlCatalog.temporalsFor(spark).put(name, tv)
        ver
      case None =>
        // the DEFINITION is the SQL text — a refresh re-parses it against
        // live inputs, exactly like the reference re-rendering the dataflow
        val ver = cat.createMaterializedView(name, s => s.sql(queryText))
        GraftSqlCatalog.temporalsFor(spark).remove(name)
        ver
    }
    // expose committed snapshots to plain SQL reads of `name`; the catalog
    // re-binds it on every commit so SQL readers never pin a stale version
    cat.exposeAsTempView(name)
    GraftSqlCatalog.createSqlFor(spark).put(GraftSqlCatalog.normId(name),
      (true, s"CREATE MATERIALIZED VIEW $name AS ${queryText.trim};"))
    Seq(Row(name, v))
  }
}

/** `ADVANCE MATERIALIZED VIEW <name> [TO TIMESTAMP '<ts>']` — move a
  * temporal view's logical clock forward: rows whose `mz_now()` deadline
  * fell inside the interval are retracted as a state-only commit (never a
  * re-evaluation of the defining query). Without TO TIMESTAMP the clock
  * comes from `spark.graft.mz_now` / the wall clock, the reference's
  * "mz_now() keeps ticking" behavior under explicit control. */
case class AdvanceMaterializedViewCommand(name: String, toTs: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val tv = GraftSqlCatalog.temporalsFor(spark).getOrElse(name,
      throw new IllegalArgumentException(
        s"$name is not a temporal materialized view (no mz_now() predicate)"))
    val v = tv.advance(toTs.getOrElse(TemporalSql.currentClock(spark)))
    GraftSqlCatalog.forSession(spark).exposeAsTempView(name)
    Seq(Row(name, v))
  }
}

case class RefreshMaterializedViewCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftSqlCatalog.forSession(spark)
    val v = cat.refreshFull(name)
    cat.exposeAsTempView(name)
    Seq(Row(name, v))
  }
}

case class DropMaterializedViewCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlCatalog.forSession(spark).dropView(name)
    GraftSqlCatalog.temporalsFor(spark).remove(name)
    GraftSqlCatalog.createSqlFor(spark).remove(GraftSqlCatalog.normId(name))
    spark.catalog.dropTempView(name)
    Seq(Row(name))
  }
}

/** Runs a delegate DROP VIEW / DROP TABLE plan and evicts the recorded
  * SHOW CREATE text + COMMENT rows only AFTER the drop succeeds — a DROP
  * that fails (wrong relation kind, missing name without IF EXISTS) must
  * not lose the catalog records of a still-live relation (the reference
  * drops mz_comments rows transactionally with the item). */
case class DropEvictCommand(
    inner: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    name: String, table: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark, inner).collect()
    val norm = GraftSqlCatalog.normId(name)
    if (table) GraftSqlCatalog.tableSqlFor(spark).remove(norm)
    else {
      GraftSqlCatalog.createSqlFor(spark).remove(norm)
      // a dropped WMR view's recorded fixpoint body dies with it (a later
      // plain CREATE VIEW of the name must not see a phantom 'exists')
      GraftSqlCatalog.wmrViewsFor(spark).remove(norm)
    }
    GraftSqlCatalog.commentsFor(spark).filterInPlace((k, _) => k._1 != norm)
    Seq.empty
  }
}

/** The SHOW statement family over the engine catalog (reference
  * `src/sql/src/plan/statement/show.rs`; `Plan::Show*` in
  * `src/sql/src/plan.rs:134`). Output shapes match the reference's
  * `describe_*` column lists exactly. */
case class ShowCreateViewCommand(name: String, materialized: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("create_sql", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val key = GraftSqlCatalog.normId(name)
    // the registry records text at parse time, so a CREATE whose execution
    // later failed can leave a stale entry — only answer for live relations
    val live = spark.catalog.tableExists(key) ||
      GraftSqlCatalog.forSession(spark).currentVersion(key).isDefined
    GraftSqlCatalog.createSqlFor(spark).get(key).filter(_ => live) match {
      case Some((isMat, sql)) =>
        if (isMat != materialized) throw new IllegalArgumentException(
          if (isMat) s"$name is a materialized view (use SHOW CREATE MATERIALIZED VIEW)"
          else s"$name is a view (use SHOW CREATE VIEW)")
        Seq(Row(key, sql))
      case None => throw new IllegalArgumentException(s"unknown catalog item '$name'")
    }
  }
}

/** `SHOW CREATE TABLE <name>` — (name, create_sql) with the reference's
  * canonical rendering (fully-qualified name, pg_catalog type names,
  * trailing semicolon — `src/sql/src/plan/statement/show.rs` ShowCreate);
  * statements outside the canonical single-line regime fall back to the
  * recorded user text. */
case class ShowCreateTableCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("create_sql", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val key = GraftSqlCatalog.normId(name)
    GraftSqlCatalog.tableSqlFor(spark).get(key)
      .filter(_ => spark.catalog.tableExists(key)) match {
      case Some(sql) =>
        Seq(Row(CanonicalSql.qualify(key),
          CanonicalSql.canonicalTable(sql).getOrElse(sql)))
      case None => throw new IllegalArgumentException(s"unknown table '$name'")
    }
  }
}

/** `SHOW COLUMNS FROM <rel>` — (name, nullable, type, comment) ordered by
  * position, pg_catalog type names, as in the reference's
  * `show_columns` (`show.rs:710`). */
case class ShowColumnsCommand(relation: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("nullable", BooleanType, nullable = false)(),
    AttributeReference("type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val comments = GraftSqlCatalog.commentsFor(spark)
    val rel = GraftSqlCatalog.normId(relation)
    spark.table(relation).schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      // marker comments (graft_jsonb / graft_range_* / graft_uint*) carry
      // the pg-level type the engine stores in a Spark-representable form
      val marker =
        if (f.metadata.contains("comment")) f.metadata.getString("comment") else ""
      val ty =
        if (marker == "graft_jsonb") "jsonb"
        else if (marker.startsWith("graft_range_")) marker.stripPrefix("graft_range_")
        else if (marker.startsWith("graft_uint")) marker.stripPrefix("graft_")
        else if (marker.startsWith("graft_showtype_")) marker.stripPrefix("graft_showtype_")
        else ShowCommands.pgTypeName(f.dataType)
      Row(f.name, f.nullable, ty, comments.getOrElse((rel, Some(i + 1)), ""))
    }
  }
}

/** `SHOW TABLES` / `SHOW VIEWS` — (name, comment), sorted, like the
  * reference's `show_tables` (`show.rs:453`). Tables are the permanent
  * relations; views are the session temp views that are not
  * engine-materialized. */
case class ShowTablesCommand(views: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvs = GraftSqlCatalog.forSession(spark).viewNames.toSet
    val listed = spark.catalog.listTables().collect().toIndexedSeq
      .filter { t =>
        val isView = t.tableType == "TEMPORARY" || t.tableType == "VIEW"
        if (views) isView && !mvs.contains(t.name) else !isView
      }
    val comments = GraftSqlCatalog.commentsFor(spark)
    listed.map(_.name).sorted.map(n =>
      Row(n, comments.getOrElse((GraftSqlCatalog.normId(n), None), "")))
  }
}

/** `SHOW OBJECTS` — (name, type, comment) over every relation the session
  * knows (reference `show.rs` show_objects). */
case class ShowObjectsCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvs = GraftSqlCatalog.forSession(spark).viewNames.toSet
    val comments = GraftSqlCatalog.commentsFor(spark)
    spark.catalog.listTables().collect().toIndexedSeq
      .filterNot(_.name.startsWith("graft_"))
      .map { t =>
        val ty =
          if (mvs.contains(t.name)) "materialized-view"
          else if (t.tableType == "TEMPORARY" || t.tableType == "VIEW") "view"
          else "table"
        (t.name, ty)
      }.sortBy(_._1).map { case (n, ty) =>
        Row(n, ty, comments.getOrElse((GraftSqlCatalog.normId(n), None), ""))
      }
  }
}

/** `COMMENT ON <kind> <target> IS <text|NULL>` — stores (or clears) the
  * comment the SHOW family and pg_description render (reference
  * `src/sql/src/plan/statement/ddl.rs` plan_comment; storage
  * `mz_internal.mz_comments`). Column targets resolve to their 1-based
  * attnum; unknown relations/columns error like the reference. */
case class CommentOnCommand(kind: String, target: String, text: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("object", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val comments = GraftSqlCatalog.commentsFor(spark)
    def relExists(n: String): Boolean =
      spark.catalog.tableExists(n) ||
        GraftSqlCatalog.forSession(spark).currentVersion(n).isDefined
    val key: (String, Option[Int]) = kind match {
      case "COLUMN" =>
        val parts = target.split("\\.").map(_.trim)
        if (parts.length != 2) throw new IllegalArgumentException(
          s"invalid column reference '$target'")
        val (rel, col) = (GraftSqlCatalog.normId(parts(0)), parts(1))
        if (!relExists(rel)) throw new IllegalArgumentException(
          s"unknown catalog item '$rel'")
        val idx = spark.table(rel).schema.fieldNames
          .indexWhere(_.equalsIgnoreCase(col))
        if (idx < 0) throw new IllegalArgumentException(
          s"column '$col' of relation '$rel' does not exist")
        (rel, Some(idx + 1))
      case "TYPE" =>
        // custom types live in the session layer; store unvalidated
        (GraftSqlCatalog.normId(target), None)
      case "INDEX" =>
        // index DDL may live in the session layer (the SLT runner's no-op
        // registry) rather than the engine registry — accept unvalidated
        (GraftSqlCatalog.normId(target), None)
      case "DATABASE" | "SCHEMA" | "CLUSTER" | "CLUSTER REPLICA" | "ROLE" |
           "SECRET" | "CONNECTION" | "FUNC" | "NETWORK POLICY" =>
        // non-relation namespaces live outside the relation catalog
        // (database/cluster emulation is session state) — store unvalidated
        (GraftSqlCatalog.normId(target), None)
      case _ =>
        val n = GraftSqlCatalog.normId(target)
        if (!relExists(n)) throw new IllegalArgumentException(
          s"unknown catalog item '$n'")
        (n, None)
    }
    // non-relational namespaces carry their declared object type into
    // mz_comments; relations resolve their type from the catalog instead
    val declaredKind = kind match {
      case "DATABASE" | "SCHEMA" | "CLUSTER" | "CLUSTER REPLICA" | "ROLE" |
           "SECRET" | "CONNECTION" | "FUNC" | "NETWORK POLICY" |
           "SOURCE" | "SINK" =>
        Some(kind.toLowerCase.replaceAll("\\s+", "-"))
      case _ => None
    }
    text match {
      case Some(t) =>
        comments.put(key, t)
        GraftSqlCatalog.commentMetaFor(spark)
          .put(key, (declaredKind, GraftSqlCatalog.nextCommentSeq()))
        ()
      case None =>
        comments.remove(key)
        GraftSqlCatalog.commentMetaFor(spark).remove(key)
        ()
    }
    Seq(Row(key._1))
  }
}

private[sql] object ShowCommands {
  import org.apache.spark.sql.types._

  /** Spark type -> pg_catalog spelling, the rendering `SHOW COLUMNS` and
    * the reference's catalog views use. */
  def pgTypeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case _: DecimalType => "numeric"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    // the engine stores both pg timestamp and timestamptz as Spark
    // TIMESTAMP; mz's SHOW COLUMNS spells the default as "without"
    case TimestampType => "timestamp without time zone"
    case TimestampNTZType => "timestamp without time zone"
    case _: DayTimeIntervalType | _: YearMonthIntervalType |
         CalendarIntervalType => "interval"
    case ArrayType(e, _) => pgTypeName(e) + "[]"
    case MapType(k, v, _) => s"map[${pgTypeName(k)}=>${pgTypeName(v)}]"
    case s: StructType => "record"
    case other => other.simpleString
  }
}

/** `CREATE SOURCE <name> FROM LOAD GENERATOR <kind> (UP TO n)` /
  * `FROM FILE '<path>' FORMAT <fmt>` (reference CREATE SOURCE plan kind,
  * `src/sql/src/plan.rs:134`; load generators
  * `src/storage-types/src/sources/load_generator.rs`). The source becomes a
  * named relation (temp view over a lazy reader/generator DataFrame), so
  * downstream SQL — including CREATE MATERIALIZED VIEW — composes on it
  * exactly like the reference's source collections. */
case class CreateSourceCommand(
    name: String, ifNotExists: Boolean,
    spec: Either[(String, Option[Long]), (String, String)],
    columns: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source", StringType, nullable = false)(),
    AttributeReference("type", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val registry = GraftSqlCatalog.sourcesFor(spark)
    if (registry.contains(name)) {
      if (ifNotExists) return Seq(Row(name, registry(name)))
      throw new IllegalArgumentException(
        s"source $name already exists (use IF NOT EXISTS)")
    }
    val (df, kind) = spec match {
      case Left(("AUCTION", upTo)) =>
        (graft.sources.LoadGenerator.auctionsBatch(spark, upTo.getOrElse(1000L)),
          "load-generator auction")
      case Left(("COUNTER", upTo)) =>
        (spark.range(upTo.getOrElse(1000L)).toDF("counter"), "load-generator counter")
      case Left((other, _)) =>
        throw new IllegalArgumentException(s"unknown load generator $other")
      case Right((path, "parquet")) => (spark.read.parquet(path), "file parquet")
      case Right((path, "csv")) =>
        // a declared column list (the reference always has one) reads with
        // that schema — one pass, no type drift; only infer when absent
        // (an extra full scan at create time, the documented fallback)
        val r = spark.read.option("header", "true")
        (columns match {
          case Some(ddl) => r.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl)).csv(path)
          case None => r.option("inferSchema", "true").csv(path)
        }, "file csv")
      case Right((path, "json")) => (spark.read.json(path), "file json")
      case Right((_, other)) =>
        throw new IllegalArgumentException(s"unsupported FORMAT $other")
    }
    df.createOrReplaceTempView(name)
    registry.put(name, kind)
    Seq(Row(name, kind))
  }
}

case class DropSourceCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val registry = GraftSqlCatalog.sourcesFor(spark)
    if (registry.remove(name).isEmpty)
      throw new IllegalArgumentException(s"source not found: $name")
    spark.catalog.dropTempView(name)
    Seq(Row(name))
  }
}

case class ShowSourcesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("type", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlCatalog.sourcesFor(spark).toSeq.sortBy(_._1)
      .map { case (n, k) => Row(n, k) }
}

case class ShowMaterializedViewsCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftSqlCatalog.forSession(spark)
    cat.viewNames.map(n => Row(n, cat.currentVersion(n).map(Long.box).orNull))
  }
}

/** `CREATE SINK <name> FROM <view> INTO ICEBERG '<path>' KEY (k, ...)` —
  * a continuously-maintained sink (reference `Plan::CreateSink`,
  * `src/storage/src/sink/iceberg.rs`): the view's CURRENT snapshot seeds
  * the table (recording the seeded view version as the sink's resume
  * upper), and every subsequent commit of the view runs the post-commit
  * hook, which applies the view's stored changes since that position as a
  * merge-on-read upsert plus equality deletes in one idempotent Iceberg
  * commit keyed by the view version ([[graft.sources.IcebergViewSink]]).
  * Work per refresh ∝ |delta|: the hook never diffs snapshots, and a hook
  * failure is caught up at the next refresh. The KEY must uniquely
  * identify view rows. */
case class CreateSinkCommand(name: String, view: String, path: String, keys: Seq[String])
    extends CreateSinkPrologue {

  override def run(spark: SparkSession): Seq[Row] =
    createSink(spark) { (snapshot, seedVersion) =>
      // no statsCols: KEY columns are equality-delete targets, never range
      // scanned, and their bounds would cost a stats job on every sink commit
      new graft.sources.IcebergTable(spark, path).create(snapshot, batchId = seedVersion)
      ()
    } { (cat, version) =>
      graft.sources.IcebergViewSink.applyCommit(spark, cat, view, path, keys, version)
    }
}

/** `CREATE SINK <name> FROM <view> INTO FILE '<path>' KEY (k, ...)
  * ENVELOPE UPSERT FORMAT AVRO | ENVELOPE DEBEZIUM FORMAT JSON` — the
  * envelope-emitting sink (reference `src/interchange/src/envelopes.rs`,
  * `src/storage/src/sink/kafka.rs`, over the file transport): every view
  * commit becomes one batch of framed key/value messages holding the
  * view's stored changes since the sink's position
  * ([[graft.sources.SinkEnvelopes]]), decodable by this engine's own
  * `registry_decode` (UPSERT/AVRO) or Debezium CDC source (DEBEZIUM/JSON).
  * Replay and failure recovery follow the sink's own resume position
  * ([[graft.sources.FileEnvelopeSink]]). */
case class CreateEnvelopeSinkCommand(name: String, view: String, path: String,
    keys: Seq[String], envelope: String, format: String) extends CreateSinkPrologue {

  override def run(spark: SparkSession): Seq[Row] = {
    val env = envelope.toUpperCase
    val fmt = format.toUpperCase
    require((env, fmt) == ("UPSERT", "AVRO") || (env, fmt) == ("DEBEZIUM", "JSON"),
      s"supported combinations: ENVELOPE UPSERT FORMAT AVRO, " +
        s"ENVELOPE DEBEZIUM FORMAT JSON (got ENVELOPE $env FORMAT $fmt)")
    createSink(spark) { (snapshot, seedVersion) =>
      graft.sources.FileEnvelopeSink.create(spark, snapshot, path, keys, env, seedVersion)
    } { (cat, version) =>
      graft.sources.FileEnvelopeSink.applyCommit(spark, cat, view, path, keys, env, version)
    }
  }
}

/** The steps both CREATE SINK forms share: the sink name must be new, the
  * view must have a committed version and the KEY columns. `seed` writes
  * the view's current snapshot at that version into the sink, `apply`
  * becomes the view's post-commit hook (told the committed version), and
  * the sink is registered for DROP SINK. */
trait CreateSinkPrologue extends LeafRunnableCommand {
  def name: String
  def view: String
  def path: String
  def keys: Seq[String]

  override val output: Seq[Attribute] = Seq(
    AttributeReference("sink", StringType, nullable = false)(),
    AttributeReference("path", StringType, nullable = false)())

  protected def createSink(spark: SparkSession)(seed: (DataFrame, Long) => Unit)(
      apply: (graft.views.ViewCatalog, Long) => Unit): Seq[Row] = {
    val cat = GraftSqlCatalog.forSession(spark)
    val sinks = GraftSqlCatalog.sinksFor(spark)
    if (sinks.contains(name))
      throw new IllegalArgumentException(s"sink $name already exists")
    val seedVersion = cat.currentVersion(view).getOrElse(
      throw new IllegalArgumentException(
        s"cannot CREATE SINK: no committed version of $view"))
    val snapshot = cat.table(view)
    val missing = keys.filterNot(snapshot.columns.contains)
    require(missing.isEmpty, s"KEY columns not in $view: ${missing.mkString(", ")}")
    seed(snapshot, seedVersion)
    cat.addCommitHook(view, s"sink:$name", version => apply(cat, version))
    sinks.put(name, (view, path, keys))
    Seq(Row(name, path))
  }
}

case class DropSinkCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("sink", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val sinks = GraftSqlCatalog.sinksFor(spark)
    sinks.remove(name) match {
      case Some((view, _, _)) =>
        GraftSqlCatalog.forSession(spark).removeCommitHook(view, s"sink:$name")
        Seq(Row(name))
      case None => throw new IllegalArgumentException(s"sink not found: $name")
    }
  }
}

case class ShowSinksCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("from", StringType, nullable = false)(),
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlCatalog.sinksFor(spark).toSeq.sortBy(_._1)
      .map { case (n, (v, p, _)) => Row(n, v, p) }
}

/** `CREATE INDEX <idx> ON <rel> (<key>) [WITH (BUCKETS n)]` — the
  * reference's core performance idiom (`src/sql-parser/src/parser.rs`
  * CREATE INDEX; `doc/developer/arrangements.md`): arrange a collection by
  * a key so joins and lookups on that key need no data movement.
  *
  * Spark analog: the relation is materialized ONCE as a bucketed+sorted
  * managed table ([[graft.plans.CoLocatedJoin.bucketize]] — the persisted
  * arrangement) under the index name, and the relation name is rebound to
  * read it, so every subsequent query on `rel` scans the arrangement and
  * equi-joins between two relations indexed on the same key (same bucket
  * count) plan with ZERO Exchange on either side. The build is one-time
  * ingest work (IF NOT EXISTS + a session registry make re-creation a
  * no-op); like the reference, the payoff is every later join skipping its
  * shuffle. The index is a snapshot arrangement — rebuild after base
  * changes (the reference maintains its arrangements continuously; that
  * path here is the maintained-view machinery, not CREATE INDEX). */
case class CreateIndexCommand(idx: String, rel: String, key: String,
    buckets: Int, ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("index", StringType, nullable = false)(),
    AttributeReference("on", StringType, nullable = false)(),
    AttributeReference("key", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val reg = GraftSqlCatalog.indexesFor(spark)
    reg.get(idx).foreach { e =>
      // a registry entry whose arrangement table is gone is stale (the base
      // or the arrangement was dropped out from under it) — rebuild instead
      // of erroring, mirroring the reference's drop-cascades-to-indexes
      if (spark.catalog.tableExists(idx)) {
        if (!ifNotExists)
          throw new IllegalArgumentException(s"index $idx already exists")
        // IF NOT EXISTS is a no-op only for the SAME definition: rebinding
        // this statement's relation to an arrangement built over a different
        // (rel, key, buckets) would silently serve the old index's data
        if ((e.rel, e.key, e.buckets) != ((rel, key, buckets)))
          throw new IllegalArgumentException(
            s"index $idx already exists with a different definition " +
            s"(ON ${e.rel} (${e.key}) WITH (BUCKETS ${e.buckets}))")
        // keep the relation bound to the arrangement (a temp-view
        // re-register may have shadowed it since)
        spark.table(idx).createOrReplaceTempView(rel)
        return Seq(Row(idx, rel, key))
      }
      reg.remove(idx)
    }
    val wasTempView = spark.catalog.tableExists(rel) &&
      spark.catalog.getTable(rel).isTemporary
    val df = spark.table(rel)
    val prior = if (wasTempView) Some(df) else None
    require(df.columns.contains(key), s"index key $key not in $rel")
    graft.plans.CoLocatedJoin.bucketize(df, idx, key, buckets)
    spark.table(idx).createOrReplaceTempView(rel)
    reg.put(idx, GraftSqlCatalog.IndexEntry(rel, key, buckets, prior))
    // an index over a MAINTAINED view stays fresh: every commit of the view
    // rebuilds the arrangement from the new version and re-binds the name
    // (the reference maintains arrangements continuously inside the dataflow,
    // doc/developer/arrangements.md; here the rebuild rides the commit hook,
    // after the commit has re-bound the name to the raw snapshot)
    val cat = GraftSqlCatalog.forSession(spark)
    if (cat.isDefined(rel))
      cat.addCommitHook(rel, s"graft.index.$idx", v => {
        graft.plans.CoLocatedJoin.bucketize(cat.tableAt(rel, v), idx, key, buckets)
        spark.table(idx).createOrReplaceTempView(rel)
      })
    Seq(Row(idx, rel, key))
  }
}

case class DropIndexCommand(idx: String, ifExists: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("index", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val reg = GraftSqlCatalog.indexesFor(spark)
    reg.remove(idx) match {
      case Some(e) =>
        val cat = GraftSqlCatalog.forSession(spark)
        cat.removeCommitHook(e.rel, s"graft.index.$idx")
        // dropping an index never removes the relation (reference semantics):
        // a maintained view re-binds to its live snapshot; a plain temp view
        // gets its captured pre-index plan back; a catalog table only needs
        // the shadowing temp view gone to resolve again
        if (cat.isDefined(e.rel) && cat.currentVersion(e.rel).isDefined)
          cat.table(e.rel).createOrReplaceTempView(e.rel)
        else e.prior match {
          case Some(df) => df.createOrReplaceTempView(e.rel)
          case None => spark.catalog.dropTempView(e.rel); ()
        }
        spark.sql(s"DROP TABLE IF EXISTS $idx")
        Seq(Row(idx))
      case None if ifExists => Seq.empty
      case None => throw new IllegalArgumentException(s"index not found: $idx")
    }
  }
}

case class ShowIndexesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("on", StringType, nullable = false)(),
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("buckets", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlCatalog.indexesFor(spark).toSeq.sortBy(_._1)
      .map { case (n, e) => Row(n, e.rel, e.key, e.buckets.toLong) }
}

/** `SUBSCRIBE [TO] <view> WITH (SNAPSHOT | PROGRESS, ...)` — start a
  * CONTINUOUS subscription (reference `src/compute/src/sink/subscribe.rs`;
  * cursor FETCH semantics `doc/user/content/sql/subscribe.md`): a commit
  * hook queues the stamped stored changes of every subsequent version
  * ([[SubscriptionCursor]]); `FETCH <view>` drains the queue; `CLOSE <view>`
  * ends the subscription.
  * The batch frame over the version timeline stays `SUBSCRIBE v [AS OF n]`
  * (no WITH clause). */
case class SubscribeContinuousCommand(view: String, snapshot: Boolean, progress: Boolean,
    envelope: Option[(String, Seq[String])] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("subscription", StringType, nullable = false)(),
    AttributeReference("at_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftSqlCatalog.forSession(spark)
    val subs = GraftSqlCatalog.subscriptionsFor(spark)
    if (subs.contains(view))
      throw new IllegalArgumentException(
        s"subscription on $view already open (CLOSE $view first)")
    val version = cat.currentVersion(view).getOrElse(
      throw new IllegalArgumentException(
        s"cannot SUBSCRIBE: no committed version of $view"))
    val cursor = SubscriptionCursor.open(cat, view, version, snapshot, progress, envelope)
    subs.put(view, cursor)
    cat.addCommitHook(view, s"subscribe:$view", cursor.deliver)
    Seq(Row(view, version))
  }
}

/** `FETCH [ALL] <view>` — drain everything the subscription delivered since
  * the last FETCH, in timestamp order. The output schema is the cursor's
  * [[SubscriptionCursor.fetchSchema]], fixed at SUBSCRIBE; progress rows
  * follow the data rows of their timestamp with NULL state/key/value, per
  * the reference's SUBSCRIBE output contract. */
case class FetchSubscriptionCommand(view: String,
    rowSchema: org.apache.spark.sql.types.StructType,
    count: Option[Int] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(rowSchema)

  override def run(spark: SparkSession): Seq[Row] = {
    val cursor = GraftSqlCatalog.subscriptionsFor(spark).getOrElse(view,
      throw new IllegalArgumentException(s"no open subscription on $view"))
    // envelopes are applied per version as the cursor queues it, so a
    // drain is a pure queue read. A counted FETCH takes at most n rows,
    // leaving the rest queued.
    cursor.drain(count)
  }
}

case class CloseSubscriptionCommand(view: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("subscription", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlCatalog.subscriptionsFor(spark).remove(view) match {
      case Some(_) =>
        GraftSqlCatalog.forSession(spark).removeCommitHook(view, s"subscribe:$view")
        Seq(Row(view))
      case None => throw new IllegalArgumentException(s"no open subscription on $view")
    }
  }
}

/** `EXPLAIN [RAW|DECORRELATED|OPTIMIZED|PHYSICAL] PLAN FOR <query|CREATE MV>`
  * / `EXPLAIN FILTER PUSHDOWN FOR` / `EXPLAIN TIMESTAMP FOR` — the
  * reference's EXPLAIN statement family (`Plan::Explain*`,
  * `src/sql/src/plan.rs:134`) over Spark's plan stages: RAW = parsed,
  * DECORRELATED = analyzed (subqueries planned), OPTIMIZED = Catalyst
  * optimized, PHYSICAL = executed plan, default = the formatted physical
  * plan. FILTER PUSHDOWN reports each scan's pushed filters (the
  * persist-pushdown analog over parquet min/max stats); TIMESTAMP reports
  * the catalog read timestamp a query would pin. */
case class ExplainPlanCommand(mode: Option[String], target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("explain", StringType, nullable = false)())

  private val MvBody =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+\w+\s+AS\s+(.*)$""".r

  override def run(spark: SparkSession): Seq[Row] = {
    // EXPLAIN of a CREATE MATERIALIZED VIEW explains its defining query
    val queryText = target match {
      case MvBody(q) => q
      case q => q
    }
    def rowsOf(text: String): Seq[Row] =
      text.stripLineEnd.split("\n").toIndexedSeq.map(Row(_))
    mode match {
      case Some("FILTER PUSHDOWN") =>
        // reference Plan::ExplainPushdown (src/adapter/src/coord/peek.rs
        // fast-path analysis): which predicates reached the scans vs which
        // evaluate post-scan. Pushed = the parquet reader's PushedFilters
        // (row-group/page pruning at 100 TB); residual = FilterExec
        // conditions that still run per-row above a scan.
        // under AQE the scans live inside the AdaptiveSparkPlanExec wrapper,
        // which plain collect() does not traverse
        val plan = spark.sql(queryText).queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case p => p
        }
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            val pushed = s.metadata.getOrElse("PushedFilters", "[]")
            val loc = s.metadata.get("Location").map(_.takeRight(60)).getOrElse("")
            Row(s"pushdown= $pushed source= $loc")
        }
        val residual = plan.collect {
          case f: org.apache.spark.sql.execution.FilterExec =>
            Row(s"residual= ${f.condition.toString.take(200)}")
        }
        (if (scans.isEmpty) Seq(Row("pushdown= [] (no file scans)")) else scans) ++ residual
      case Some("TIMESTAMP") =>
        val cat = GraftSqlCatalog.forSession(spark)
        Seq(Row(s"query timestamp: ${cat.globalReadTs()}"))
      case other =>
        val qe = spark.sql(queryText).queryExecution
        rowsOf(other match {
          case Some("RAW") => qe.logical.treeString
          case Some("DECORRELATED") => qe.analyzed.treeString
          case Some("OPTIMIZED") => qe.optimizedPlan.treeString
          case Some("PHYSICAL") => qe.executedPlan.treeString
          case _ => qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        })
    }
  }
}

/** `COPY <view|(query)> TO '<path>' [WITH (FORMAT ...)]` — one-shot export
  * through the DataFrame writer (distributed; no driver collect). */
case class CopyToCommand(source: Either[String, String], path: String, format: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val df = source match {
      case Left(viewName) => spark.table(viewName)
      case Right(query) => spark.sql(query)
    }
    format.toLowerCase match {
      case "parquet" => CopyTo.parquet(df, path)
      case "csv" => CopyTo.csv(df, path)
      case "json" => CopyTo.jsonLines(df, path)
      case other => throw new IllegalArgumentException(
        s"COPY TO: unsupported FORMAT '$other' (parquet|csv|json)")
    }
    Seq(Row(path))
  }
}
