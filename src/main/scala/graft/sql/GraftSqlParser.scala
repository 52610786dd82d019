package graft.sql

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL entry path for the view/source lifecycle — the statements the
  * reference only accepts as SQL text (parser
  * `src/sql-parser/src/parser.rs:140`, plan kinds `src/sql/src/plan.rs:134`,
  * `doc/developer/life-of-a-query.md`):
  *
  *  - `CREATE [OR REPLACE] MATERIALIZED VIEW <name> AS <query>`
  *  - `REFRESH MATERIALIZED VIEW <name>` (full recompute against live inputs)
  *  - `DROP MATERIALIZED VIEW <name>`
  *  - `SUBSCRIBE [TO] <name> [AS OF <version>]` — the changelog frame
  *    ([[SubscribeFrame]]); the continuous tail is
  *    [[graft.streaming.Subscribe.start]]
  *  - `COPY <name|(query)> TO '<path>' [WITH (FORMAT <parquet|csv|json>)]`
  *  - `<query> AS OF <version>` — every materialized-view reference in the
  *    query resolves to its committed version `<version>` (versions are the
  *    view's logical timestamps; with a single view — the common case — this
  *    is exactly the reference's `AS OF` read)
  *
  * Spark-first: a [[ParserInterface]] wrapper injected via
  * `SparkSessionExtensions.injectParser`. Statements matching the grammar
  * above become [[org.apache.spark.sql.execution.command.LeafRunnableCommand]]s
  * or plain logical plans; EVERYTHING else delegates verbatim to Spark's own
  * parser, so the full SQL dialect (and the SLT corpus) is untouched.
  * Hand-rolled anchored regexes rather than a grammar: six statement shapes
  * do not warrant an ANTLR pass, and the reference hand-writes its parser
  * for the same reason.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateMv(orReplace, ifNotExists, name, query) =>
      CreateMaterializedViewCommand(name, query,
        replace = orReplace != null, ifNotExists = ifNotExists != null)
    case RefreshMv(name) => RefreshMaterializedViewCommand(name)
    case AdvanceMv(name, toTs) => AdvanceMaterializedViewCommand(name, Option(toTs))
    case DropMv(name) => DropMaterializedViewCommand(name)
    case SubscribeWith(name, env, keyList, opts) =>
      val options = opts.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSet
      val unknown = options -- Set("SNAPSHOT", "PROGRESS")
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown SUBSCRIBE option(s): ${unknown.mkString(", ")} (SNAPSHOT, PROGRESS)")
      SubscribeContinuousCommand(name,
        snapshot = options.contains("SNAPSHOT"), progress = options.contains("PROGRESS"),
        envelope = envelopeOf(env, keyList))
    case FetchStmt(count, name) =>
      val cursor = GraftSqlCatalog.subscriptionsFor(session).getOrElse(name,
        throw new IllegalArgumentException(s"no open subscription on $name"))
      FetchSubscriptionCommand(name, cursor.fetchSchema,
        Option(count).map(_.toInt))
    case CloseStmt(name) => CloseSubscriptionCommand(name)
    case SubscribeStmt(name, env, keyList, orderBy, asOf) =>
      var frame = SubscribeEnvelope.shape(SubscribeFrame(GraftSqlCatalog.forSession(session),
        name, Option(asOf).map(_.toLong)), envelopeOf(env, keyList))
      Option(orderBy).filter(_.trim.nonEmpty).foreach(o =>
        frame = SubscribeEnvelope.withinTimestampOrder(frame, o))
      frame.queryExecution.logical
    case CopyStmt(query, view, path, format) =>
      CopyToCommand(
        if (view != null) Left(view) else Right(query),
        path, if (format == null) "parquet" else format)
    case CreateSourceLoadGen(ifNotExists, name, kind, upTo) =>
      CreateSourceCommand(name, ifNotExists != null,
        Left((kind.toUpperCase, Option(upTo).map(_.toLong))))
    case CreateSourceFile(ifNotExists, name, columns, path, format) =>
      CreateSourceCommand(name, ifNotExists != null,
        Right((path, format.toLowerCase)), Option(columns).map(_.trim))
    case DropSource(name) => DropSourceCommand(name)
    case ShowSources() => ShowSourcesCommand()
    case ShowMvs() => ShowMaterializedViewsCommand()
    case ShowObjects() => ShowObjectsCommand()
    case CommentOn(kind, target, text) =>
      val t = if (text.equalsIgnoreCase("NULL")) None
        else Some(text.substring(1, text.length - 1).replace("''", "'"))
      CommentOnCommand(kind.toUpperCase.replaceAll("\\s+", " "), target.replace("\"", ""), t)
    case ShowCreateView(mat, name) => ShowCreateViewCommand(name, mat != null)
    case ShowColumns(name) => ShowColumnsCommand(name)
    case ShowTables() => ShowTablesCommand(views = false)
    case ShowViews() => ShowTablesCommand(views = true)
    case cv @ CreateViewWmrStmt(name, body) =>
      // CREATE VIEW ... AS WITH MUTUALLY RECURSIVE: LAZY like the
      // reference (a view is never evaluated at creation — some corpus
      // views are deliberately non-terminating and only ever created).
      // The body is recorded; readers materialize it on demand (the SLT
      // layer's freshness-on-read refresh, same contract as MVs).
      val bare = name.replace("\"", "")
      val orReplace =
        """(?is)^\s*CREATE\s+OR\s+REPLACE\b""".r.findFirstIn(cv).isDefined
      if (orReplace) scala.util.Try(session.catalog.dropTempView(bare))
      else if (session.catalog.tableExists(bare) ||
          GraftSqlCatalog.wmrViewsFor(session)
            .contains(GraftSqlCatalog.normId(name)))
        // pg/mz: a plain CREATE VIEW over an existing name is an error —
        // never a silent replace (reference catalog 'already exists')
        throw new IllegalStateException(
          s"""view "$bare" already exists""")
      GraftSqlCatalog.wmrViewsFor(session).put(
        GraftSqlCatalog.normId(name), body.trim.stripSuffix(";"))
      GraftSqlCatalog.createSqlFor(session).put(
        GraftSqlCatalog.normId(name), (false, cv.trim.stripSuffix(";") + ";"))
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(Nil)
    case cv @ CreateViewStmt(name) =>
      // plain CREATE VIEW delegates to Spark, but its text is recorded so
      // SHOW CREATE VIEW can answer (reference ShowCreatePlan). A non-WMR
      // redefinition also evicts any recorded WMR body for the name.
      GraftSqlCatalog.wmrViewsFor(session).remove(GraftSqlCatalog.normId(name))
      val plan = delegate.parsePlan(cv)
      GraftSqlCatalog.createSqlFor(session).put(
        GraftSqlCatalog.normId(name), (false, cv.trim.stripSuffix(";") + ";"))
      plan
    case DropViewStmt(name) =>
      // evict the recorded text (so SHOW CREATE VIEW answers 'unknown
      // catalog item') and comments — but only after the DROP executes
      // successfully: a failed drop must not lose a live relation's records
      DropEvictCommand(delegate.parsePlan(sqlText), name, table = false)
    case ShowCreateTable(name) => ShowCreateTableCommand(name)
    case ct @ CreateTableStmt(name) =>
      // record CREATE TABLE text for SHOW CREATE TABLE, then delegate
      val plan = delegate.parsePlan(ct)
      GraftSqlCatalog.tableSqlFor(session).put(
        GraftSqlCatalog.normId(name), ct.trim.stripSuffix(";") + ";")
      plan
    case DropTableStmt(name) =>
      DropEvictCommand(delegate.parsePlan(sqlText), name, table = true)
    case ExplainStmt(planMode, otherMode, target) =>
      ExplainPlanCommand(
        Option(planMode).orElse(Option(otherMode))
          .map(_.toUpperCase.replaceAll("\\s+", " ")),
        target)
    case wmr if MutualRecursionSql.matches(wmr) =>
      // a LetRec leaf: the fixpoint runs when the plan executes
      MutualRecursionSql.plan(session, wmr, parsePlan)
    case CreateSink(name, view, path, keyList) =>
      CreateSinkCommand(name, view, path,
        Option(keyList).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
    case CreateSinkEnvelope(name, view, path, keyList, envelope, format) =>
      CreateEnvelopeSinkCommand(name, view, path,
        Option(keyList).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
        envelope, format)
    case DropSink(name) => DropSinkCommand(name)
    case ShowSinks() => ShowSinksCommand()
    case CreateIndex(ifNotExists, idx, rel, key, buckets) =>
      CreateIndexCommand(idx, rel, key,
        Option(buckets).map(_.toInt).getOrElse(16), ifNotExists != null)
    case DropIndex(ifExists, idx) => DropIndexCommand(idx, ifExists != null)
    case ShowIndexes() => ShowIndexesCommand()
    case AsOfSuffix(inner, version) if referencesView(inner) =>
      // The suffix rewrite must never hijack SQL that Spark itself accepts
      // (`VERSION AS OF n` / `TIMESTAMP AS OF n` time travel, an alias named
      // `of`): if the FULL text parses natively, the user wrote valid Spark
      // SQL and gets exactly that. Only when the native parse rejects it is
      // the trailing `AS OF <version>` ours to interpret.
      try normalizeWindows(sqlText, delegate.parsePlan(sqlText))
      catch {
        case _: org.apache.spark.sql.catalyst.parser.ParseException =>
          rewriteAsOf(normalizeWindows(inner, delegate.parsePlan(inner)), version.toLong)
      }
    case other => normalizeWindows(other, delegate.parsePlan(other))
  }

  /** pg-compat: ranking/offset window functions over an unordered window
    * and with explicit frames (both rejected by Spark's analyzer, both
    * legal-and-ignored in pg) are normalized right after parse —
    * resolution rules run too late (see
    * [[graft.plans.UnorderedWindowNormalize]]). */
  private def normalizeWindows(sqlText: String, plan: LogicalPlan): LogicalPlan =
    if (graft.plans.UnorderedWindowNormalize.mayApply(sqlText))
      graft.plans.UnorderedWindowNormalize(plan)
    else plan

  /** Cheap pre-check so `... AS OF n` text in unrelated SQL (an alias named
    * `of`, string literals) never hijacks parsing: the stripped query must
    * mention a view THIS session's catalog knows. String-literal content is
    * excluded from the scan — `'fed AS OF my_view'` names nothing. */
  private def referencesView(inner: String): Boolean = {
    val cat = GraftSqlCatalog.forSession(session)
    val noLiterals = StringLiteral.replaceAllIn(inner, " ")
    Identifier.findAllIn(noLiterals).exists(cat.isDefined)
  }

  /** Swap every single-part relation naming a catalog view for that view's
    * committed snapshot at `version`. */
  private def rewriteAsOf(plan: LogicalPlan, version: Long): LogicalPlan = {
    val cat = GraftSqlCatalog.forSession(session)
    plan.transformUp {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
          cat.isDefined(r.multipartIdentifier.head) =>
        val name = r.multipartIdentifier.head
        SubqueryAlias(name, cat.tableAt(name, version).queryExecution.analyzed)
    }
  }

  // everything below: pure delegation
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    normalizeWindows(sqlText, delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  private val Id = "([A-Za-z_][A-Za-z0-9_]*)"
  val CreateMv: Regex =
    (s"(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?MATERIALIZED\\s+VIEW\\s+" +
      s"(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id\\s+AS\\s+(.+?)\\s*;?\\s*$$").r
  val RefreshMv: Regex =
    s"(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+$Id\\s*;?\\s*$$".r
  // ADVANCE moves a temporal view's mz_now() clock (scheduled retractions)
  val AdvanceMv: Regex =
    (s"(?is)^\\s*ADVANCE\\s+MATERIALIZED\\s+VIEW\\s+$Id" +
      s"(?:\\s+TO\\s+TIMESTAMP\\s+'([^']+)')?\\s*;?\\s*$$").r
  val DropMv: Regex =
    s"(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+$Id\\s*;?\\s*$$".r
  // the optional output envelope of both SUBSCRIBE forms: kind, KEY list
  private val Envelope =
    "(?:\\s+ENVELOPE\\s+(UPSERT|DEBEZIUM)\\s*\\(\\s*KEY\\s*\\(([^)]*)\\)\\s*\\))?"

  /** The (kind, KEY columns) of a parsed [[Envelope]] clause, if any. */
  def envelopeOf(kind: String, keyList: String): Option[(String, Seq[String])] =
    Option(kind).map { e =>
      val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, s"ENVELOPE $e requires a KEY column list")
      (e.toUpperCase, keys)
    }

  // batch frame with optional output envelope + in-timestamp ordering
  // (reference doc/user/content/sql/subscribe.md:34-57)
  val SubscribeStmt: Regex =
    (s"(?is)^\\s*SUBSCRIBE\\s+(?:TO\\s+)?$Id" +
      Envelope +
      s"(?:\\s+WITHIN\\s+TIMESTAMP\\s+ORDER\\s+BY\\s+(.*?))?" +
      s"(?:\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*$$").r
  // continuous subscription cursor: SUBSCRIBE v [ENVELOPE ...] WITH (SNAPSHOT, PROGRESS)
  val SubscribeWith: Regex =
    (s"(?is)^\\s*SUBSCRIBE\\s+(?:TO\\s+)?$Id" +
      Envelope +
      s"\\s+WITH\\s*\\(\\s*([A-Za-z_,\\s]*)\\)\\s*;?\\s*$$").r
  /** `FETCH [ALL | n] <cursor>` (reference doc/user/content/sql/fetch.md:
    * a count drains at most n rows, ALL/absent drains everything). */
  val FetchStmt: Regex =
    s"(?is)^\\s*FETCH\\s+(?:ALL\\s+|(\\d+)\\s+)?$Id\\s*;?\\s*$$".r
  val CloseStmt: Regex = s"(?is)^\\s*CLOSE\\s+$Id\\s*;?\\s*$$".r
  val CopyStmt: Regex =
    (s"(?is)^\\s*COPY\\s+(?:\\((.+)\\)|$Id)\\s+TO\\s+'([^']+)'" +
      s"(?:\\s+WITH\\s*\\(\\s*FORMAT\\s*=?\\s*'?(\\w+)'?\\s*\\))?\\s*;?\\s*$$").r
  val AsOfSuffix: Regex = "(?is)^(.*\\S)\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$".r
  // the reference's EXPLAIN statement family (Plan::Explain*,
  // src/sql/src/plan.rs:134): only mz-specific spellings are intercepted —
  // a plain `EXPLAIN SELECT ...` stays with Spark's native EXPLAIN
  val ExplainStmt: Regex =
    ("(?is)^\\s*EXPLAIN\\s+(?:" +
      "(?:(RAW|DECORRELATED|OPTIMIZED|PHYSICAL)\\s+)?PLAN\\s+FOR" +
      "|(FILTER\\s+PUSHDOWN|TIMESTAMP)\\s+FOR" +
      ")\\s+(.+?)\\s*;?\\s*$").r
  // CREATE SOURCE (reference `src/sql-parser/src/parser.rs` CREATE SOURCE;
  // load generators `src/storage-types/src/sources/load_generator.rs`)
  val CreateSourceLoadGen: Regex =
    (s"(?is)^\\s*CREATE\\s+SOURCE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id\\s+FROM\\s+" +
      s"LOAD\\s+GENERATOR\\s+(AUCTION|COUNTER)" +
      s"(?:\\s*\\(\\s*UP\\s+TO\\s+(\\d+)\\s*\\))?\\s*;?\\s*$$").r
  val CreateSourceFile: Regex =
    (s"(?is)^\\s*CREATE\\s+SOURCE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id" +
      s"(?:\\s*\\(([^)]+)\\))?\\s+FROM\\s+" +
      s"FILE\\s+'([^']+)'\\s+FORMAT\\s+(PARQUET|CSV|JSON)\\s*;?\\s*$$").r
  val DropSource: Regex = s"(?is)^\\s*DROP\\s+SOURCE\\s+$Id\\s*;?\\s*$$".r
  // CREATE SINK (reference `Plan::CreateSink`, `src/sql/src/plan.rs`;
  // Iceberg sink kind `src/storage-types/src/sinks.rs:137`)
  val CreateSink: Regex =
    (s"(?is)^\\s*CREATE\\s+SINK\\s+$Id\\s+FROM\\s+$Id\\s+INTO\\s+ICEBERG\\s+" +
      s"'([^']+)'\\s+KEY\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_,\\s]*)\\)\\s*;?\\s*$$").r
  // envelope-emitting sink over the file transport (reference
  // `src/interchange/src/envelopes.rs`, `src/storage/src/sink/kafka.rs`)
  val CreateSinkEnvelope: Regex =
    (s"(?is)^\\s*CREATE\\s+SINK\\s+$Id\\s+FROM\\s+$Id\\s+INTO\\s+FILE\\s+" +
      s"'([^']+)'\\s+KEY\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_,\\s]*)\\)\\s+" +
      s"ENVELOPE\\s+(UPSERT|DEBEZIUM)\\s+FORMAT\\s+(AVRO|JSON)\\s*;?\\s*$$").r
  val DropSink: Regex = s"(?is)^\\s*DROP\\s+SINK\\s+$Id\\s*;?\\s*$$".r
  // CREATE INDEX (reference `src/sql-parser/src/parser.rs` CREATE INDEX;
  // arrangements `doc/developer/arrangements.md`)
  val CreateIndex: Regex =
    (s"(?is)^\\s*CREATE\\s+INDEX\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id\\s+ON\\s+$Id" +
      s"\\s*\\(\\s*$Id\\s*\\)(?:\\s+WITH\\s*\\(\\s*BUCKETS\\s+(\\d+)\\s*\\))?\\s*;?\\s*$$").r
  // accepts the pg/crdb variants: IF EXISTS, a `table@index` target, and a
  // trailing CASCADE/RESTRICT (single-target only; lists stay unsupported)
  val DropIndex: Regex =
    (s"(?is)^\\s*DROP\\s+INDEX\\s+(IF\\s+EXISTS\\s+)?(?:[A-Za-z_][A-Za-z0-9_]*\\s*@\\s*)?$Id" +
      "(?:\\s+(?:CASCADE|RESTRICT))?\\s*;?\\s*$").r
  val ShowIndexes: Regex = "(?is)^\\s*SHOW\\s+INDEXES\\s*;?\\s*$".r
  val ShowCreateView: Regex =
    s"(?is)^\\s*SHOW\\s+CREATE\\s+(MATERIALIZED\\s+)?VIEW\\s+$Id\\s*;?\\s*$$".r
  val ShowColumns: Regex =
    s"(?is)^\\s*SHOW\\s+COLUMNS\\s+(?:FROM|IN)\\s+$Id\\s*;?\\s*$$".r
  val ShowTables: Regex = "(?is)^\\s*SHOW\\s+TABLES\\s*;?\\s*$".r
  val ShowViews: Regex = "(?is)^\\s*SHOW\\s+VIEWS\\s*;?\\s*$".r
  /** `CREATE [OR REPLACE] [TEMP] VIEW <name> ...` (no MATERIALIZED) —
    * matched only to RECORD the text for SHOW CREATE VIEW; parsing
    * delegates to Spark untouched. */
  val CreateViewStmt: Regex =
    (s"(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:GLOBAL\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
      s"VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?$Id\\b.*$$").r
  /** `CREATE VIEW <name> AS WITH MUTUALLY RECURSIVE ...` — the WMR body
    * can't delegate to Spark's parser; [[MutualRecursionSql]] plans it. */
  val CreateViewWmrStmt: Regex =
    (s"(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:GLOBAL\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
      s"(?:MATERIALIZED\\s+)?VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?$Id\\s+AS\\s+" +
      s"(WITH\\s+MUTUALLY\\s+RECURSIVE\\b.*?);?\\s*$$").r
  val ShowCreateTable: Regex =
    s"(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+$Id\\s*;?\\s*$$".r
  val CreateTableStmt: Regex =
    s"(?is)^\\s*CREATE\\s+(?:EXTERNAL\\s+)?TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?$Id\\b.*$$".r
  /** DROP TABLE/VIEW matched only to EVICT the SHOW CREATE registries;
    * parsing delegates to Spark untouched. */
  val DropViewStmt: Regex =
    s"(?is)^\\s*DROP\\s+(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+(?:IF\\s+EXISTS\\s+)?$Id\\s*(?:CASCADE|RESTRICT)?\\s*;?\\s*$$".r
  val DropTableStmt: Regex =
    s"(?is)^\\s*DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?$Id\\s*(?:CASCADE|RESTRICT)?\\s*;?\\s*$$".r
  val ShowSinks: Regex = "(?is)^\\s*SHOW\\s+SINKS\\s*;?\\s*$".r
  val ShowSources: Regex = "(?is)^\\s*SHOW\\s+SOURCES\\s*;?\\s*$".r
  val ShowMvs: Regex = "(?is)^\\s*SHOW\\s+MATERIALIZED\\s+VIEWS\\s*;?\\s*$".r
  val ShowObjects: Regex = "(?is)^\\s*SHOW\\s+OBJECTS\\s*;?\\s*$".r
  /** `COMMENT ON <kind> <name> IS '<text>' | NULL` (reference
    * `src/sql/src/plan/statement/ddl.rs` plan_comment). */
  val CommentOn: Regex =
    ("(?is)^\\s*COMMENT\\s+ON\\s+(TABLE|VIEW|MATERIALIZED\\s+VIEW|INDEX|TYPE|SOURCE|SINK|COLUMN|" +
      "DATABASE|SCHEMA|CLUSTER\\s+REPLICA|CLUSTER|ROLE|SECRET|CONNECTION|FUNC|NETWORK\\s+POLICY)\\s+" +
      "(\"?[\\w]+\"?(?:\\s*\\.\\s*\"?[\\w]+\"?){0,2})\\s+IS\\s+(NULL|'(?:[^']|'')*')\\s*;?\\s*$").r
  val Identifier: Regex = "[A-Za-z_][A-Za-z0-9_]*".r
  /** `'...'` with doubled-quote escapes, as Spark's lexer tokenizes them. */
  val StringLiteral: Regex = "'(?:[^']|'')*'".r
}
