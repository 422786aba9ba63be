package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.types._

/** A non-null literal whose value reaches generated code as a reference,
  * not as text.
  *
  * Spark's `Literal.doGenCode` writes int, long, double, date and
  * timestamp values straight into the Java source, and that source is the
  * key of the generated-class cache. An AutoAPI list request carries new
  * values on every call (`filter[k]=v`, range bounds, FK ranges), so each
  * call compiled and JIT-warmed a class that differed from a cached one by
  * one constant. This leaf reads its value through `ctx.addReferenceObj`
  * (as `Md5PrefixLong` does with its seed), so one query shape maps to one
  * class whatever the request's values.
  *
  * Not foldable, and only swapped in by [[ParamLiterals]] after physical
  * planning, so constant folding, filter inference and parquet filter
  * pushdown have already seen the plain `Literal`. Renders like the
  * literal it replaces.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "param",
      v => s"$v = $ref;", forceInline = true)
    ev.copy(isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: turns the literals Spark would inline into
  * [[ParamLiteral]]s where request values land — either operand of a
  * comparison in a `FilterExec` condition, and a top-level `Alias(Literal)`
  * in the projection of a `ProjectExec` or `TakeOrderedAndProjectExec`
  * (`orderPageEnvelope`'s `total`/`pages`, the latter on its first page).
  * Arithmetic constants (`% 7`) stay inline: they belong to the query's
  * shape, not to the request. Runs as a pre-columnar-transition rule,
  * which both the AQE stage path and the plain path apply before
  * `CollapseCodegenStages`.
  */
object ParamLiterals extends Rule[SparkPlan] {

  private val inlined: Set[DataType] = Set(IntegerType, LongType, FloatType, DoubleType,
    ShortType, ByteType, DateType, TimestampType, TimestampNTZType)

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case _ => e
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case b: BinaryComparison => b.withNewChildren(b.children.map(param))
      }
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val l = params(p.projectList)
      if (l eq p.projectList) p else p.copy(projectList = l)
    case t: TakeOrderedAndProjectExec =>
      val l = params(t.projectList)
      if (l eq t.projectList) t else t.copy(projectList = l)
  }

  private def params(list: Seq[NamedExpression]): Seq[NamedExpression] = {
    val l = list.map {
      case a @ Alias(lit: Literal, _) => a.withNewChildren(Seq(param(lit))).asInstanceOf[Alias]
      case e => e
    }
    if (l.corresponds(list)(_ eq _)) list else l
  }
}

/** Hooks [[ParamLiterals]] in through `injectColumnar`. */
object ParamLiteralRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
}
