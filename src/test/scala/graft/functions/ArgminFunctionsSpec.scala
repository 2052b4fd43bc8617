package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence proof for the argmin/argmax kernels that replaced the
  * exploded candidate stream + struct-min/max aggregate in the ANN
  * quantizer hot path (r20 optimization): on random, tie-heavy, and
  * degenerate (zero-vector → NaN cosine) inputs, the kernel's choice
  * must be IDENTICAL to the declarative form it replaced — same 6dp
  * round, same nan-safe double ordering, same lowest-code/lowest-cell
  * tie-break. */
class ArgminFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.dot(a, b)

  /** The OLD declarative argmin: explode candidates, round6 d2,
    * min(struct(d2, idx)). */
  private def oldArgminD2(rows: DataFrame, cands: Seq[Seq[Double]]): DataFrame = {
    val candDf = cands.zipWithIndex.map { case (cw, i) => (i, cw) }.toDF("idx", "cw")
    rows.crossJoin(broadcast(candDf))
      .select(col("row_id"),
        round(dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("cw"))
          + dot(col("cw"), col("cw")), 6).as("d2"), col("idx"))
      .groupBy("row_id")
      .agg(min(struct(col("d2"), col("idx"))).as("mn"))
      .select(col("row_id"), col("mn.idx").as("old_idx"))
  }

  /** The OLD declarative argmax: explode centroids, round6 cosine,
    * max(struct(csim, -idx)). */
  private def oldArgmaxCos(rows: DataFrame, cands: Seq[Seq[Double]]): DataFrame = {
    val candDf = cands.zipWithIndex.map { case (cw, i) => (i, cw) }.toDF("idx", "c")
    rows.crossJoin(broadcast(candDf))
      .select(col("row_id"),
        round(dot(col("x"), col("c")) /
          (sqrt(dot(col("x"), col("x"))) * sqrt(dot(col("c"), col("c")))), 6)
          .as("csim"), col("idx"))
      .groupBy("row_id")
      .agg(max(struct(col("csim"), (-col("idx")).as("neg"), col("idx"))).as("mx"))
      .select(col("row_id"), col("mx.idx").as("old_idx"))
  }

  private def newIdx(rows: DataFrame, cands: Seq[Seq[Double]], minD2: Boolean): DataFrame = {
    val lit2 = typedLit(cands.map(_.toSeq).toSeq)
    val idx = if (minD2) ArgminFunctions.argminDist2(col("x"), lit2)
              else ArgminFunctions.argmaxCosine(col("x"), lit2)
    rows.select(col("row_id"), idx.as("new_idx"))
  }

  private def assertSame(rows: DataFrame, cands: Seq[Seq[Double]], minD2: Boolean): Unit = {
    val oldDf = if (minD2) oldArgminD2(rows, cands) else oldArgmaxCos(rows, cands)
    val joined = oldDf.join(newIdx(rows, cands, minD2), "row_id")
    val diff = joined.filter(col("old_idx") =!= col("new_idx")).collect()
    assert(diff.isEmpty, s"kernel disagrees with declarative form: ${diff.take(5).mkString(";")}")
  }

  private val rng = new scala.util.Random(42)
  private def randVec(d: Int): Seq[Double] = Seq.fill(d)(
    math.rint(rng.nextGaussian() * 1000) / 1000.0) // coarse grid → frequent exact ties

  test("ArgminDist2 equals exploded min(struct(round(d2,6), code)) on random + tie-heavy data") {
    val d = 4
    val cands = Seq.fill(8)(randVec(d))
    // half random rows, half rows EQUAL to some candidate (exact-tie pressure),
    // plus duplicated candidates would tie — add one duplicate candidate
    val candsWithDup = cands :+ cands(3)
    val rows = (0 until 200).map(i =>
      (i.toLong, if (i % 3 == 0) candsWithDup(i % candsWithDup.length) else randVec(d)))
      .toDF("row_id", "x")
    assertSame(rows, candsWithDup, minD2 = true)
  }

  test("ArgmaxCosine equals exploded max(struct(round(cos,6), -cell)) incl. NaN-component rows") {
    val d = 4
    val cands = Seq.fill(6)(randVec(d)) :+ Seq.fill(d)(0.5)
    val rows = ((0 until 100).map(i => (i.toLong, randVec(d))) ++
      // NaN component → cosine NaN for every candidate → the NaN-ordering
      // tie path (NaN greatest, tie to the lowest cell), with NO ANSI
      // divide-by-zero (the denominator is NaN, not zero)
      Seq((100L, Seq(Double.NaN, 1.0, 2.0, 3.0))) ++
      // scaled copy of a candidate → exact 1.0 cosine tie against
      // duplicate-direction candidates
      Seq((101L, cands.head.map(_ * 2.0)))).toDF("row_id", "x")
    val candsWithDup = cands :+ cands.head.map(_ * 3.0)
    assertSame(rows, candsWithDup, minD2 = false)
  }

  test("ArgmaxCosine throws on a zero-norm vector exactly like the ANSI declarative cosine") {
    val rows = Seq((1L, Seq(0.0, 0.0))).toDF("row_id", "x")
    val cands = typedLit(Seq(Seq(1.0, 2.0)))
    intercept[Exception] {
      rows.select(ArgminFunctions.argmaxCosine(col("x"), cands)).collect()
    }
  }

  test("ArgminDist2 accepts float vectors exactly like the widened-double form") {
    val d = 4
    val cands = Seq.fill(5)(randVec(d))
    val rowsF = (0 until 50).map(i => (i.toLong, randVec(d).map(_.toFloat)))
      .toDF("row_id", "xf")
    val rows = rowsF.select(col("row_id"), col("xf").cast("array<double>").as("x"))
    val lit2 = typedLit(cands.map(_.toSeq).toSeq)
    val viaFloat = rowsF.select(col("row_id"),
      ArgminFunctions.argminDist2(col("xf"), lit2).as("f_idx"))
    val viaDouble = rows.select(col("row_id"),
      ArgminFunctions.argminDist2(col("x"), lit2).as("d_idx"))
    val diff = viaFloat.join(viaDouble, "row_id")
      .filter(col("f_idx") =!= col("d_idx")).collect()
    assert(diff.isEmpty)
  }

  test("kernels throw on length mismatch and empty candidate arrays") {
    val rows = Seq((1L, Seq(1.0, 2.0))).toDF("row_id", "x")
    val bad = typedLit(Seq(Seq(1.0, 2.0, 3.0)))
    intercept[Exception] {
      rows.select(ArgminFunctions.argminDist2(col("x"), bad)).collect()
    }
    val empty = typedLit(Seq.empty[Seq[Double]])
    intercept[Exception] {
      rows.select(ArgminFunctions.argmaxCosine(col("x"), empty)).collect()
    }
  }

  test("register twice keeps the registered function") {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(ArgminFunctions.ArgminD2Name)
    ArgminFunctions.register(spark)
    val info = registry.lookupFunction(id).get
    val builder = registry.lookupFunctionBuilder(id).get
    ArgminFunctions.register(spark)
    assert(registry.lookupFunction(id).get eq info,
      "a second register replaced graft_argmin_d2")
    assert(registry.lookupFunctionBuilder(id).get eq builder)
  }
}
