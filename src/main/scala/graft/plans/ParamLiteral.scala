package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant whose generated code reads the value from
  * the generated class's `references` array instead of inlining it into
  * the source. Spark's `Literal` writes `123` into the Java text, so
  * `WHERE k = 123` and `WHERE k = 456` are two cache keys and two Janino
  * compiles; with this leaf both compile to one class and differ only in
  * the object they are handed — the analog of the reference binding `$n`
  * parameters into a plan it already has (SURVEY "Prepared statements").
  *
  * The value lands in a field set once per generated-class instance, so
  * rows read a primitive, never unbox. Foldable and printed exactly like
  * `Literal`, so expressions that evaluate foldable children at codegen
  * time, and every EXPLAIN text, see no difference. Equality is also
  * `Literal`'s: NaN equals NaN but 0.0 does not equal -0.0, so subexpression
  * elimination never merges `x * 0.0` with `x * -0.0`. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private lazy val literal = Literal(value, dataType)
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def hashCode: Int = literal.hashCode
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Swaps primitive `Literal`s for [[ParamLiteral]] in the two operators
  * whose expressions become per-row generated code: `FilterExec.condition`
  * and `ProjectExec.projectList`. Scans are left alone — parquet pushdown
  * and partition pruning read `Literal`s from their `dataFilters`.
  * Installed as a pre-columnar-transition rule, which Spark applies both to
  * every AQE stage and to exchange-free plans that AQE skips. */
object ParamLiterals extends Rule[SparkPlan] {
  private val parameterizable: Set[DataType] = Set(IntegerType, LongType, DoubleType,
    FloatType, ShortType, ByteType, DateType, TimestampType, TimestampNTZType)

  private def swap[E <: Expression](e: E): E =
    e.transform {
      case Literal(v, t) if v != null && parameterizable(t) => ParamLiteral(v, t)
    }.asInstanceOf[E]

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = swap(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(swap))
  }
}
