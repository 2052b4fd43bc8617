package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused sign-random-projection bucket hashing: all `tables × bits` plane
  * dot products of one embedding in a single pass.
  *
  * The composable form — one `DotProduct(vec, plane)` call per bit inside
  * a `when(...)` chain — re-reads the vector's ArrayData and re-enters the
  * expression interpreter 64 times per row. This expression walks the
  * vector once per plane inside one tight codegen'd triple loop over a
  * flat plane matrix (a codegen reference object), exactly the same
  * arithmetic in the same order: `plane[d] * vec[d]` summed left-to-right,
  * sign threshold `>= 0`, bit i set as `1L << i` — so bucket values are
  * bit-identical to the per-bit form it replaces.
  *
  * `planesFlat` is laid out `[(table*bits + bit)*dim + d]`.
  */
case class SrpBucketHashes(child: Expression, planesFlat: Array[Double],
                           tables: Int, bits: Int, dim: Int)
    extends UnaryExpression {

  require(planesFlat.length == tables * bits * dim,
    s"plane matrix ${planesFlat.length} != $tables*$bits*$dim")

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_buckets"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // Dimension mismatch is a data bug: truncating would assign a quietly
  // wrong bucket (and silently miss collisions) — throw, matching
  // graft_dot's strictness.
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: vector length ${v.numElements()} != plane dim $dim")
    val n = dim
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var s = 0.0
        var d = 0
        while (d < n) {
          val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
          s += planesFlat(base + d) * x
          d += 1
        }
        if (s >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planesFlat, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t"); val b = ctx.freshName("b")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val bucket = ctx.freshName("bucket"); val base = ctx.freshName("base")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_srp_buckets: vector length " + $v.numElements() + " != plane dim $dim");
         |}
         |int $n = $dim;
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $bucket = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $base = ($t * $bits + $b) * $dim;
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      $s += $planesRef[$base + $d] * (double) $v.$get($d);
         |    }
         |    if ($s >= 0) $bucket |= 1L << $b;
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpFunctions {

  /** Column builder over a plane set `planes(table)(bit)(dim)` — same
    * temp-function-registry pattern as graft_dot, but the registered name
    * carries the PLANE-SET identity (content hash + shape): two callers
    * with different planes in one session register distinct functions, so
    * an interleaved registration can never silently resolve a plan
    * against the wrong matrix. The registration targets an explicit
    * session — `SparkSession.active` is the wrong registry when the
    * caller's DataFrame belongs to another session. */
  def srpBuckets(spark: SparkSession, vec: Column,
                 planes: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val tables = planes.length
    val bits = planes.head.length
    val dim = planes.head.head.length
    val flat = new Array[Double](tables * bits * dim)
    for (t <- 0 until tables; b <- 0 until bits; d <- 0 until dim)
      flat((t * bits + b) * dim + d) = planes(t)(b)(d)
    // content identity = MD5 of the plane bytes (a 32-bit hashCode can
    // collide across same-shape plane sets); registry growth is bounded
    // by the number of DISTINCT plane sets a session uses (one or two in
    // this engine)
    val bb = java.nio.ByteBuffer.allocate(flat.length * 8)
    flat.foreach(bb.putDouble)
    val digest = java.security.MessageDigest.getInstance("MD5").digest(bb.array())
    val name = f"graft_srp_buckets_${tables}x${bits}x${dim}_" +
      digest.take(8).map(b => f"$b%02x").mkString
    registerOnce(spark, name)(exprs => SrpBucketHashes(exprs(0), flat, tables, bits, dim))
    call_function(name, vec)
  }
}
