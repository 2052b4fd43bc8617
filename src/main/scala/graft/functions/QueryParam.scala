package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.DataType

/** A query parameter: the value of a constant argument, bound when the
  * plan runs instead of spliced into the generated Java source.
  *
  * Whole-stage codegen writes a primitive literal (a double, a long)
  * into the source text, so two queries that differ only in such a
  * constant compile two classes; the compile dominates a small query.
  * A `QueryParam` is handed to the generated code by reference, so
  * those queries share one compiled class. It is deliberately not
  * foldable: constant folding would turn it back into a literal. The
  * value and every result computed from it are the same as with the
  * literal. */
case class QueryParam(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a constant argument")

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = QueryParam.Name

  override def eval(input: InternalRow): Any = child.eval()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.eval() match {
      case null => ExprCode.forNullValue(dataType)
      case v =>
        val ref = ctx.addReferenceObj("param", v, CodeGenerator.boxedType(dataType))
        ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
          isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QueryParam {
  val Name = "graft_param"

  def register(spark: SparkSession): Unit =
    registerOnce(spark, Name)(exprs => QueryParam(exprs.head))

  /** `value` as a query parameter of `spark`'s plans. */
  def apply(spark: SparkSession, value: Any): Column = {
    register(spark)
    call_function(Name, lit(value))
  }
}
