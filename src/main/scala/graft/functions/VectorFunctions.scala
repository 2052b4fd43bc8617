package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, sqrt}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * allocates an intermediate array per row-pair and walks three lambda
  * indirections; on an all-pairs similarity join that is the dominant
  * cost. `DotProduct` stays inside whole-stage codegen as a tight fused
  * loop over the two ArrayData buffers.
  *
  * Summation is sequential left-to-right, exactly like the `aggregate`
  * fold it replaces, so results are bit-identical and the DuckDB oracle
  * comparison is unaffected.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Accepts array<float> or array<double> on either side: the per-element
  // float→double widening is exact, so passing a raw float embedding is
  // bit-identical to `transform(e, cast double)` first — and unlike
  // `transform` (a CodegenFallback higher-order function that knocks the
  // whole stage out of codegen), this stays fully codegen'd.
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  // Length mismatch is a data bug (malformed embedding); DuckDB's
  // list_inner_product — the oracle — errors on it, so a silent
  // truncated dot product would be a quietly wrong similarity. Throw.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType); val yf = isFloat(right.dataType)
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$prettyName: vector length mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv: Double = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv: Double = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val getA = if (isFloat(left.dataType)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right.dataType)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $getA * $getB;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  val DotName = "graft_dot"

  def register(spark: SparkSession): Unit =
    registerOnce(spark, DotName)(exprs => DotProduct(exprs(0), exprs(1)))

  /** Codegen'd dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function(DotName, a, b)
  }

  /** Cosine similarity built on the codegen'd dot product. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
