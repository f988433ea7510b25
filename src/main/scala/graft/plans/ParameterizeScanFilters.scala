package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** Physical-planning rewrite: a file scan's filter constants reach generated
  * code by reference, so a query shape compiles once per JVM, not once per
  * constant.
  *
  * Spark inlines primitive literals into generated Java (`value == 7L`)
  * and passes strings by reference. A point lookup whose key is an
  * integral literal (what [[SargableIris]] produces for a bound IRI)
  * therefore generates new source for every key: Spark's codegen cache
  * misses and Janino compiles fresh classes on every query (measured at
  * about two compiles per op across the point-lookup shapes, against none
  * when the key repeats).
  *
  * The strategy delegates to `FileSourceStrategy` and, in the `FilterExec`
  * nodes it returns, replaces each non-null primitive literal operand of a
  * comparison (`=`, `<=>`, `<`, `<=`, `>`, `>=`, an `IN` list) with a
  * [[Param]]. Pushed parquet filters are decided from the logical
  * `Literal` before this runs, so they are untouched. It works on the
  * physical plan because both logical alternatives fail: a `Literal`
  * subclass compares equal to the literal it replaces, so Catalyst's
  * change detection drops the rewrite, and any other expression in the
  * logical plan hides the constant from `DataSourceStrategy`'s pushdown.
  * Registered on `spark.experimental.extraStrategies` by
  * [[OptimizerRules.setup]].
  */
object ParameterizeScanFilters extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = parameterize(f.condition))
    })

  private def parameterize(condition: Expression): Expression = condition transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case i: In => i.copy(list = i.list.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && primitive(t) => Param(l)
    case other => other
  }

  private def primitive(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** A non-null primitive constant that generated code reads from the
  * `references` array into a class field once, instead of inlining it.
  * Prints, evaluates and compares exactly as its literal, so EXPLAIN text
  * and exchange reuse are unchanged.
  */
case class Param(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
