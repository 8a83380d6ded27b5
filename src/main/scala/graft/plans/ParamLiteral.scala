package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code reads its value from the
  * generated class's `references[]` into a field, instead of writing it
  * into the source as `Literal` does for booleans, numerics, dates,
  * timestamps and intervals. Two plans that differ only in such values
  * then generate the same source and share one compiled class in
  * Spark's code cache. Everything else (`eval`, nullability, `toString`,
  * `sql`) is the literal's, so plans print as before. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral holds a non-null value")

  private lazy val literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: in a lookup, the non-null literals of every `FilterExec`
  * condition that `Literal` would write into generated source become
  * [[ParamLiteral]]s, so reads of one shape with different keys (a city
  * read per city) compile one whole-stage class between them, not one
  * each. Strings and decimals already go through `references[]`.
  *
  * A lookup is an exchange-free Project/Filter chain over one
  * `FileSourceScanExec`: a graft read once [[GraftScanStrategy]] has
  * inlined it, or a plain parquet point read. Any other plan is left
  * as it is, as is the scan's own pushed `dataFilters` (built before
  * this rule runs). Installed by `GraftExtensions` as a columnar rule's
  * `preColumnarTransitions`, which runs on every plan that is not
  * adaptive; an adaptive plan only ever hands it a query stage (rooted
  * at its exchange) or a final plan over query stages, neither a
  * lookup. */
object ParameterizeLookups extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!isLookup(plan)) plan
    else plan.transformUp { case f: FilterExec =>
      f.transformExpressions {
        case Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(v, dt)
      }
    }

  @tailrec private def isLookup(p: SparkPlan): Boolean = p match {
    case ProjectExec(_, child) => isLookup(child)
    case FilterExec(_, child) => isLookup(child)
    case _: FileSourceScanExec => true
    case _ => false
  }

  /** The types whose values `Literal.doGenCode` writes inline. */
  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
        _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}
