package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native argmin/argmax kernels for the ANN family's quantizer hot path.
  *
  * The composable form those kernels replace — explode the k candidate
  * codewords per vector through a broadcast join and take
  * `min(struct(round(d2, 6), code))` / `max(struct(round(cos, 6), -cell))`
  * — materializes an n×m×k candidate stream, and because struct min/max
  * is not hash-aggregable it compiles to Sort + SortAggregate + Exchange
  * (the dominant cost of PQ training/encode: the candidate stream is 64×
  * the corpus). These expressions fold the whole argmin into ONE
  * codegen'd pass per row against the broadcast codeword array: no row
  * blowup, no sort, no exchange.
  *
  * Bit-exactness contract (what makes the swap invisible to the DuckDB
  * oracles):
  *  - each dot product accumulates sequentially left-to-right, exactly
  *    like the `graft_dot` fold it replaces (separate accumulators in a
  *    fused loop preserve each sum's order);
  *  - the 6dp round replicates Spark's `Round(_, 6)` double semantics
  *    verbatim: NaN/Infinity pass through, otherwise
  *    `BigDecimal.valueOf(v).setScale(6, HALF_UP)`;
  *  - comparisons use `SQLOrderingUtil.compareDoubles` — the SAME
  *    nan-safe ordering Spark's struct min/max applies to DoubleType
  *    (NaN greatest, NaN == NaN, -0.0 == 0.0);
  *  - candidates are visited in ascending array order with a STRICT
  *    improve-only update, so ties keep the lowest index — the
  *    `min(struct(d2, code))` / `max(struct(csim, -cell))` tie-break when
  *    the caller sorts codewords by code/cell ascending.
  */
private[graft] object ArgExprs {
  /** Spark's Round(double, 6) semantics, verbatim. */
  @inline def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  val Round6Java: String => String = v =>
    s"((Double.isNaN($v) || Double.isInfinite($v)) ? $v : " +
      s"java.math.BigDecimal.valueOf($v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())"

  val CmpJava = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles"

  def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  def candsOk(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }
  def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType
}

/** 0-based index of the codeword in `cands` (array<array<double>>)
  * minimizing `round(dot(x,x) - 2*dot(x,cw) + dot(cw,cw), 6)`; ties to
  * the lowest index. Bit-identical to the exploded
  * `min(struct(round(subDist2(x, cw), 6), code))` over candidates sorted
  * ascending — see the object scaladoc for the exactness contract. */
case class ArgminDist2(left: Expression, right: Expression)
    extends BinaryExpression {
  import ArgExprs._

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && candsOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<array<double>>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_argmin_d2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType)
    val n = x.numElements()
    val k = cands.numElements()
    if (k == 0) throw new IllegalArgumentException(s"$prettyName: empty candidate array")
    var dxx = 0.0
    var i = 0
    while (i < n) { val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i); dxx += xv * xv; i += 1 }
    var best = 0.0
    var bestIdx = -1
    var j = 0
    while (j < k) {
      if (cands.isNullAt(j)) throw new IllegalArgumentException(s"$prettyName: null codeword")
      val cw = cands.getArray(j)
      if (cw.numElements() != n) throw new IllegalArgumentException(
        s"$prettyName: length mismatch ($n vs ${cw.numElements()})")
      var sxc = 0.0; var scc = 0.0
      i = 0
      while (i < n) {
        val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        val cv = cw.getDouble(i)
        sxc += xv * cv; scc += cv * cv
        i += 1
      }
      val d2 = round6(dxx - 2.0 * sxc + scc)
      if (bestIdx < 0 ||
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(d2, best) < 0) {
        best = d2; bestIdx = j
      }
      j += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val dxx = ctx.freshName("dxx"); val sxc = ctx.freshName("sxc")
      val scc = ctx.freshName("scc"); val d2 = ctx.freshName("d2")
      val best = ctx.freshName("best"); val bestIdx = ctx.freshName("bestIdx")
      val cw = ctx.freshName("cw"); val xv = ctx.freshName("xv"); val cv = ctx.freshName("cv")
      val getX = if (isFloat(left.dataType)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |int $k = $b.numElements();
         |if ($k == 0) throw new IllegalArgumentException("$prettyName: empty candidate array");
         |double $dxx = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $xv = $getX; $dxx += $xv * $xv; }
         |double $best = 0.0;
         |int $bestIdx = -1;
         |for (int $j = 0; $j < $k; $j++) {
         |  if ($b.isNullAt($j)) throw new IllegalArgumentException("$prettyName: null codeword");
         |  org.apache.spark.sql.catalyst.util.ArrayData $cw = $b.getArray($j);
         |  if ($cw.numElements() != $n) {
         |    throw new IllegalArgumentException(
         |      "$prettyName: length mismatch (" + $n + " vs " + $cw.numElements() + ")");
         |  }
         |  double $sxc = 0.0; double $scc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $getX;
         |    double $cv = $cw.getDouble($i);
         |    $sxc += $xv * $cv; $scc += $cv * $cv;
         |  }
         |  double $d2 = $dxx - 2.0 * $sxc + $scc;
         |  $d2 = ${Round6Java(d2)};
         |  if ($bestIdx < 0 || $CmpJava($d2, $best) < 0) { $best = $d2; $bestIdx = $j; }
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 0-based index of the centroid in `cands` (array<array<double>>)
  * maximizing `round(cosine(v, c), 6)`; ties to the lowest index.
  * Bit-identical to the exploded
  * `max(struct(round(cosine(v, c), 6), -cell))` over centroids sorted by
  * cell ascending — see the object scaladoc for the exactness contract
  * (cosine = dot(v,c) / (sqrt(dot(v,v)) * sqrt(dot(c,c))), each dot a
  * sequential left-to-right fold, NaN ordered greatest like the struct
  * max it replaces). */
case class ArgmaxCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  import ArgExprs._

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && candsOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<array<double>>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_argmax_cos"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val vf = isFloat(left.dataType)
    val n = v.numElements()
    val k = cands.numElements()
    if (k == 0) throw new IllegalArgumentException(s"$prettyName: empty candidate array")
    var dvv = 0.0
    var i = 0
    while (i < n) { val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i); dvv += xv * xv; i += 1 }
    var best = 0.0
    var bestIdx = -1
    var j = 0
    while (j < k) {
      if (cands.isNullAt(j)) throw new IllegalArgumentException(s"$prettyName: null centroid")
      val c = cands.getArray(j)
      if (c.numElements() != n) throw new IllegalArgumentException(
        s"$prettyName: length mismatch ($n vs ${c.numElements()})")
      var svc = 0.0; var scc = 0.0
      i = 0
      while (i < n) {
        val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
        val cv = c.getDouble(i)
        svc += xv * cv; scc += cv * cv
        i += 1
      }
      // ANSI parity with the declarative cosine it replaces: Spark 4's
      // ANSI mode (default on) throws DIVIDE_BY_ZERO on an exactly-zero
      // denominator (zero-norm vector or centroid); NaN denominators
      // (NaN components) flow through as NaN cosine, ordered greatest.
      val den = math.sqrt(dvv) * math.sqrt(scc)
      if (den == 0.0) throw new ArithmeticException(
        s"$prettyName: division by zero (zero-norm vector or centroid)")
      val cos = round6(svc / den)
      if (bestIdx < 0 ||
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(cos, best) > 0) {
        best = cos; bestIdx = j
      }
      j += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val dvv = ctx.freshName("dvv"); val svc = ctx.freshName("svc")
      val scc = ctx.freshName("scc"); val cos = ctx.freshName("cos")
      val best = ctx.freshName("best"); val bestIdx = ctx.freshName("bestIdx")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv"); val cv = ctx.freshName("cv")
      val den = ctx.freshName("den")
      val getV = if (isFloat(left.dataType)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |int $k = $b.numElements();
         |if ($k == 0) throw new IllegalArgumentException("$prettyName: empty candidate array");
         |double $dvv = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $xv = $getV; $dvv += $xv * $xv; }
         |double $best = 0.0;
         |int $bestIdx = -1;
         |for (int $j = 0; $j < $k; $j++) {
         |  if ($b.isNullAt($j)) throw new IllegalArgumentException("$prettyName: null centroid");
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $b.getArray($j);
         |  if ($c.numElements() != $n) {
         |    throw new IllegalArgumentException(
         |      "$prettyName: length mismatch (" + $n + " vs " + $c.numElements() + ")");
         |  }
         |  double $svc = 0.0; double $scc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $getV;
         |    double $cv = $c.getDouble($i);
         |    $svc += $xv * $cv; $scc += $cv * $cv;
         |  }
         |  double $den = Math.sqrt($dvv) * Math.sqrt($scc);
         |  if ($den == 0.0) {
         |    throw new ArithmeticException(
         |      "$prettyName: division by zero (zero-norm vector or centroid)");
         |  }
         |  double $cos = $svc / $den;
         |  $cos = ${Round6Java(cos)};
         |  if ($bestIdx < 0 || $CmpJava($cos, $best) > 0) { $best = $cos; $bestIdx = $j; }
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArgminFunctions {
  val ArgminD2Name = "graft_argmin_d2"
  val ArgmaxCosName = "graft_argmax_cos"

  /** Idempotent per-session registration (temp function registry).
    *
    * ANSI-on is a hard requirement, asserted here rather than silently
    * diverging at run time (ADVICE r20): `ArgmaxCosine` hard-codes
    * ANSI's DIVIDE_BY_ZERO semantics (throws on an exactly-zero
    * denominator) because that is what the declarative cosine it
    * replaced does under the engine's contract session — with ANSI off
    * that cosine would instead yield NULL and the old struct-max would
    * absorb the null row, so the kernel would no longer be
    * bit-equivalent to the form it replaced. */
  def register(spark: SparkSession): Unit = {
    require(spark.sessionState.conf.ansiEnabled,
      "graft argmin/argmax kernels require spark.sql.ansi.enabled=true " +
        "(their zero-norm divide-by-zero behavior is pinned to ANSI " +
        "semantics; see ArgmaxCosine)")
    registerOnce(spark, ArgminD2Name)(exprs => ArgminDist2(exprs(0), exprs(1)))
    registerOnce(spark, ArgmaxCosName)(exprs => ArgmaxCosine(exprs(0), exprs(1)))
  }

  /** 0-based argmin-of-round6-squared-L2 index of `x` in `cands`. */
  def argminDist2(x: Column, cands: Column): Column = {
    register(SparkSession.active)
    call_function(ArgminD2Name, x, cands)
  }

  /** 0-based argmax-of-round6-cosine index of `v` in `cands`. */
  def argmaxCosine(v: Column, cands: Column): Column = {
    register(SparkSession.active)
    call_function(ArgmaxCosName, v, cands)
  }
}
