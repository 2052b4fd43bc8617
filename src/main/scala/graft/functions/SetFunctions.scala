package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression: intersection size of two SORTED string
  * arrays via a linear merge walk.
  *
  * `array_intersect`/`array_union` build a hash set per row-pair; on an
  * all-pairs similarity join that allocation dominates. With both sides
  * pre-sorted once per document (`array_sort` at scan time, amortized),
  * the per-pair cost collapses to one allocation-free merge:
  * |A ∩ B| = overlap, |A ∪ B| = |A| + |B| − overlap, so exact Jaccard
  * needs only this one kernel. Counts are integers → bit-exact vs the
  * DuckDB oracle, same as the set-function form it replaces.
  */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetFunctions {
  val OverlapName = "graft_sorted_overlap"

  def register(spark: SparkSession): Unit =
    registerOnce(spark, OverlapName)(exprs => SortedOverlapCount(exprs(0), exprs(1)))

  /** Intersection size of two sorted string-array columns. */
  def sortedOverlap(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function(OverlapName, a, b)
  }
}
