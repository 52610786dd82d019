package graft.sql

import scala.util.DynamicVariable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{GetColumnByOrdinal, MultiInstanceRelation,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan,
  Project, Statistics, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StringType

import graft.plans.Recursion

/** SQL surface for `WITH MUTUALLY RECURSIVE` — the reference's signature
  * recursive-SQL construct (parser `src/sql-parser/src/parser.rs` CTE
  * handling; planning `src/sql/src/plan/query.rs` `plan_mutually_recursive`;
  * semantics `doc/user/content/sql/select/recursive-ctes.md`):
  *
  * ```sql
  * WITH MUTUALLY RECURSIVE [(RETURN|ERROR AT RECURSION LIMIT n)]
  *   name (col type, ...) AS ( query ),
  *   ...
  * body
  * ```
  *
  * Semantics carried over: every binding starts EMPTY; each iteration
  * re-evaluates the bindings in definition order, each seeing the most
  * recent value of every binding (including those updated earlier in the
  * same iteration — the reference's sequential-update rule); iteration
  * stops when a full round changes nothing (multiset equality) or at the
  * declared recursion limit — `RETURN AT` yields the current state,
  * `ERROR AT` raises, and hitting the safety cap without a declared limit
  * raises (a non-terminating WMR is a bug, not a hang).
  *
  * Spark-first: the parser returns a [[LetRec]] leaf, and [[LetRecExec]]
  * runs [[graft.plans.Recursion.letRec]] and then the body when the plan
  * executes, so `spark.sql` and `EXPLAIN` run no job. Each round plugs the
  * bindings' current relations into the parsed plans; no session temp view
  * is touched. The statement composes with everything that accepts SQL
  * text, including CREATE MATERIALIZED VIEW.
  */
object MutualRecursionSql {

  /** Safety cap when no RECURSION LIMIT is declared. */
  val DefaultMaxIter = 200

  final case class Binding(name: String, schemaDdl: String, query: String)
  final case class Wmr(limit: Option[Int], errorAtLimit: Boolean,
      bindings: Seq[Binding], body: String)

  /** Bindings of the statements being planned around this one, which a WMR
    * nested in a binding or body may read (their empty relations). */
  private val enclosing = new DynamicVariable[Map[String, LogicalPlan]](Map.empty)

  def matches(sqlText: String): Boolean =
    """(?is)^\s*WITH\s+MUTUALLY\s+RECURSIVE\b""".r.findFirstIn(sqlText).isDefined

  /** The statement as a [[LetRec]] leaf; runs no job. Each binding's text
    * is parsed once by `parsePlan` (so graft's own statement forms work
    * inside it) and type-checked against its declared schema over empty
    * bindings; the node's output is the body analyzed the same way. */
  def plan(spark: SparkSession, sqlText: String,
      parsePlan: String => LogicalPlan): LetRec = {
    val wmr = parse(sqlText)
    val empties = wmr.bindings.map(b => LocalRelation(declaredAttributes(spark, b.schemaDdl)))
    val scope = enclosing.value ++ LetRec.scope(wmr, empties)
    val (values, body) = enclosing.withValue(scope) {
      (wmr.bindings.map(b => parsePlan(b.query)), parsePlan(wmr.body))
    }
    def analyzed(p: LogicalPlan) = GraftPlanBridge.ofRows(spark, LetRec.bindIn(p, scope))
    wmr.bindings.zip(values).zip(empties).foreach { case ((b, v), empty) =>
      val (got, schema) = (analyzed(v).schema, empty.schema)
      require(got.length == schema.length,
        s"binding ${b.name} declares ${schema.length} columns, query returns ${got.length}")
      // the reference type-checks each binding against its declared
      // signature: a text/unknown literal does NOT coerce into a numeric
      // column ("declared types (bigint), but query returns types
      // (text)", with_mutually_recursive.slt:653); numeric widths
      // assignment-cast with range checks, which `evaluate` applies
      got.fields.zip(schema.fields).foreach { case (g, decl) =>
        if (g.dataType == StringType && decl.dataType != StringType)
          throw new IllegalArgumentException(
            s"""WITH MUTUALLY RECURSIVE query "${b.name}" declared types """ +
              s"(${decl.dataType.simpleString}), but query returns types (text)")
      }
    }
    LetRec(spark, wmr, empties, values, body, analyzed(body).queryExecution.analyzed.output)
  }

  /** Run `node`'s fixpoint, then return its body over the final bindings. */
  def evaluate(node: LetRec): DataFrame = {
    def df(plan: LogicalPlan) = GraftPlanBridge.ofRows(node.session, plan)
    def plans(vals: Seq[DataFrame]) = vals.map(_.queryExecution.logical)
    // the sequential-update rule: binding j sees the bindings before it as
    // already updated (and lazily checkpointed) in this round. Columns are
    // cast to the declared schema by position, in the same plan, so each
    // binding is analyzed once per round.
    def round(cur: Seq[DataFrame]): Seq[DataFrame] = {
      val vals = cur.toArray
      node.values.indices.foreach { j =>
        val bound = LetRec.bindIn(node.values(j), LetRec.scope(node.wmr, plans(vals.toSeq)))
        vals(j) = df(Project(node.empties(j).output.zipWithIndex.map { case (a, i) =>
          Alias(Cast(GetColumnByOrdinal(i, a.dataType), a.dataType), a.name)()
        }, bound)).localCheckpoint(false)
      }
      vals.toSeq
    }
    val limit = node.wmr.limit
    val maxIter = limit.getOrElse(DefaultMaxIter)
    val (finals, converged) =
      Recursion.letRec(node.empties.map(df), round, maxIter = maxIter)
    // RETURN AT RECURSION LIMIT: the state at the limit is the result
    if (!converged && (node.wmr.errorAtLimit || limit.isEmpty))
      throw new IllegalStateException(
        s"WITH MUTUALLY RECURSIVE did not converge within $maxIter iterations" +
          (if (limit.isEmpty) " (no RECURSION LIMIT declared)" else ""))
    df(LetRec.bindIn(node.body, LetRec.scope(node.wmr, plans(finals))))
  }

  /** The declared columns. Bare NUMERIC/DECIMAL get the reference's wide
    * numeric (Spark's bare DECIMAL is (10,0), which would truncate
    * fractions). All are nullable: the node's output is analyzed over
    * them, so they must not promise more than the rounds deliver. */
  private def declaredAttributes(spark: SparkSession, ddl: String) = {
    val wide = """(?i)\b(numeric|decimal)\b(?!\s*\()""".r.replaceAllIn(ddl, "DECIMAL(38,18)")
    DataTypeUtils.toAttributes(spark.sessionState.sqlParser.parseTableSchema(wide))
      .map(_.withNullability(true))
  }

  // ---- parsing (paren- and quote-aware scanner) ---------------------------

  def parse(sqlText: String): Wmr = {
    val s = sqlText
    val m = """(?is)^\s*WITH\s+MUTUALLY\s+RECURSIVE\s*""".r
      .findFirstMatchIn(s).getOrElse(
        throw new IllegalArgumentException("not a WITH MUTUALLY RECURSIVE statement"))
    var i = m.end
    var limit: Option[Int] = None
    var errorAt = false
    // optional (RETURN|ERROR AT RECURSION LIMIT n)
    if (i < s.length && s(i) == '(') {
      val opt = balanced(s, i)
      """(?is)^\(\s*(RETURN|ERROR)\s+AT\s+RECURSION\s+LIMIT\s*=?\s*(\d+)\s*\)$""".r
        .findFirstMatchIn(opt) match {
        case Some(om) =>
          limit = Some(om.group(2).toInt)
          errorAt = om.group(1).equalsIgnoreCase("ERROR")
          i += opt.length
        case None => () // not an options paren; leave for binding parse
      }
    }
    val bindings = Seq.newBuilder[Binding]
    var done = false
    while (!done) {
      i = skipWs(s, i)
      val name = ident(s, i).getOrElse(
        throw new IllegalArgumentException(s"expected binding name at: ${s.drop(i).take(40)}"))
      i = skipWs(s, i + name.length)
      require(i < s.length && s(i) == '(',
        s"expected (columns) after binding $name")
      val cols = balanced(s, i); i = skipWs(s, i + cols.length)
      val asKw = """(?is)^AS\s*""".r.findFirstMatchIn(s.substring(i)).getOrElse(
        throw new IllegalArgumentException(s"expected AS after binding $name columns"))
      i = skipWs(s, i + asKw.end)
      require(i < s.length && s(i) == '(', s"expected ( query ) for binding $name")
      val q = balanced(s, i); i = skipWs(s, i + q.length)
      bindings += Binding(name, cols.substring(1, cols.length - 1),
        q.substring(1, q.length - 1))
      if (i < s.length && s(i) == ',') i += 1 else done = true
    }
    val body = s.substring(i).trim.stripSuffix(";")
    require(body.nonEmpty, "WITH MUTUALLY RECURSIVE has no body")
    Wmr(limit, errorAt, bindings.result(), body)
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s(i).isWhitespace ||
        (s(i) == '-' && i + 1 < s.length && s(i + 1) == '-'))) {
      if (s(i) == '-') { while (i < s.length && s(i) != '\n') i += 1 }
      else i += 1
    }
    i
  }

  private def ident(s: String, from: Int): Option[String] =
    """^[A-Za-z_][A-Za-z0-9_]*""".r.findFirstIn(s.substring(from))

  /** The balanced `(...)` group starting at `s(open)`, quote-aware. */
  private def balanced(s: String, open: Int): String = {
    require(s(open) == '(')
    var depth = 0
    var i = open
    var inQ = false
    var qc = ' '
    while (i < s.length) {
      val c = s(i)
      if (inQ) { if (c == qc) inQ = false }
      else c match {
        case '\'' | '"' => inQ = true; qc = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return s.substring(open, i + 1)
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced parentheses starting at: ${s.drop(open).take(40)}")
  }
}

/** `WITH MUTUALLY RECURSIVE` as a logical leaf (reference `LetRec`,
  * relation.rs:154-166): the parsed binding (`values`) and body plans, run
  * by [[LetRecExec]] when the plan executes. `empties` are the bindings'
  * initial, declared-schema relations; `output` is the body analyzed over
  * them. */
case class LetRec(
    session: SparkSession,
    wmr: MutualRecursionSql.Wmr,
    empties: Seq[LocalRelation],
    values: Seq[LogicalPlan],
    body: LogicalPlan,
    output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LetRec = copy(output = output.map(_.newInstance()))
  // the size is unknown until the loop runs; the default keeps the result
  // off the broadcast side of a join
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override protected def stringArgs: Iterator[Any] =
    Iterator(wmr.bindings.map(_.name).mkString("[", ", ", "]"), output)
}

object LetRec {
  def scope(wmr: MutualRecursionSql.Wmr, rels: Seq[LogicalPlan]): Map[String, LogicalPlan] =
    wmr.bindings.map(_.name.toLowerCase).zip(rels).toMap

  /** `plan` with each single-part reference to a name in `scope` replaced
    * by its relation — inside subquery expressions and nested WMRs too —
    * except where an inner WITH or WMR rebinds the name. */
  def bindIn(plan: LogicalPlan, scope: Map[String, LogicalPlan]): LogicalPlan =
    if (scope.isEmpty) plan else plan match {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
          scope.contains(r.multipartIdentifier.head.toLowerCase) =>
        SubqueryAlias(r.multipartIdentifier.head, scope(r.multipartIdentifier.head.toLowerCase))
      case w: UnresolvedWith =>
        // a CTE name shadows from its own definition on (WITH RECURSIVE)
        // or from the next one on, and throughout the WITH's query
        var inner = scope
        val defs = w.cteRelations.map { case (n, d, depth) =>
          if (w.allowRecursion) inner -= n.toLowerCase
          val bound = bindIn(d, inner).asInstanceOf[SubqueryAlias]
          inner -= n.toLowerCase
          (n, bound, depth)
        }
        w.copy(child = bindIn(w.child, inner), cteRelations = defs)
      case l: LetRec =>
        val inner = scope -- l.wmr.bindings.map(_.name.toLowerCase)
        l.copy(values = l.values.map(bindIn(_, inner)), body = bindIn(l.body, inner))
      case p =>
        p.mapChildren(bindIn(_, scope)).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(bindIn(s.plan, scope))
        }
    }
}

/** Runs a [[LetRec]]'s fixpoint and body once per plan, when it executes. */
case class LetRecExec(node: LetRec) extends LeafExecNode {
  override def output: Seq[Attribute] = node.output
  @transient private lazy val rows: RDD[InternalRow] =
    MutualRecursionSql.evaluate(node).queryExecution.toRdd
  override protected def doExecute(): RDD[InternalRow] = rows
  override def simpleString(maxFields: Int): String = node.simpleString(maxFields)
}

/** Plans [[LetRec]]; installed by [[graft.GraftExtensions]]. */
object LetRecStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case l: LetRec => LetRecExec(l) :: Nil
    case _ => Nil
  }
}
