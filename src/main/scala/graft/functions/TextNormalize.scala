package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (canonical
  * decomposition + canonical composition), the first stage of the
  * C4/CCNet-style text-cleaning pipeline (qd41) — "e" + U+0301 becomes
  * the single code point "é", so byte-level dedup/hash stages see one
  * canonical form per visually-identical string.
  *
  * Bit-compatible with DuckDB's `nfc_normalize` (both implement the
  * Unicode canonical composition algorithm; divergence would need a
  * Unicode-version skew on characters this corpus never emits).
  * A UTF8String already in NFC (the overwhelming hot path — ASCII is
  * always NFC) is returned UNCHANGED after a quick-check, so the
  * codegen'd fast path costs one `isNormalized` scan and no
  * allocation beyond the `toString` view. Stays inside whole-stage
  * codegen via `nullSafeCodeGen` like the family's other natives. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.sql}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static kernel shared by eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object TextNormalize {
  val NfcName = "graft_nfc"

  def register(spark: SparkSession): Unit =
    registerOnce(spark, NfcName)(exprs => NfcNormalize(exprs.head))

  /** NFC-normalize a string column. */
  def nfc(c: Column): Column = {
    register(SparkSession.active)
    call_function(NfcName, c)
  }
}
