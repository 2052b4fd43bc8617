package graft.similarity

import graft.SparkTestSession
import graft.dedup.Clusters
import graft.operators.VectorOps.cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SemDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Member-level reference: assign EVERY vector (no collapse), pair within
    * (cell, sub), resolve components over the full member graph — the
    * uncollapsed semantics keepList must reproduce exactly. */
  private def naive(emb: DataFrame, threshold: Double, s: Int): DataFrame = {
    val cents = Ann.centroids(emb)
    // same degenerate-vector routing as keepList: 0/0 cosine is an ANSI
    // error, NaN passes >= under nan-safe ordering — neither may pair
    val norm2 = graft.operators.VectorOps.dot(col("embedding"), col("embedding"))
    val live = emb.filter(norm2 =!= 0 && !isnan(norm2))
    val assigned = Ann.assignments(live, cents)
      .withColumn("sub", SemDedup.signBucket(col("v"), s))
    val a = assigned.as("a"); val b = assigned.as("b")
    val sim = round(cosine(col("a.v"), col("b.v")), 6)
    val pairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val cc = Clusters.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "vec_id").withColumnRenamed("cluster_rep", "cmin")
    emb.select(col("vec_id")).join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cmin"), col("vec_id")).as("cluster_rep"))
      .withColumn("keep", col("cluster_rep") === col("vec_id"))
  }

  /** Duplicate-heavy planted corpus: 30 random bases; the first 6 appear as
    * 5-copy exact-duplicate clusters; one near-parallel (but not identical)
    * copy of base 0 links two collapse groups through a cross edge; three
    * byte-identical ZERO vectors (0/0 cosine — an ANSI error if ever
    * divided) and two byte-identical NaN-component vectors (NaN cosine,
    * which passes >= under nan-safe ordering if unguarded) must each stay
    * a keep=true singleton. */
  private def planted() = {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val dim = 16
    val bases = IndexedSeq.fill(30)(Array.fill(dim)(rnd.nextGaussian()))
    val nanVec = bases(2).updated(3, Double.NaN)
    val rows =
      bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 3) } ++
      (0 until 6).flatMap(i => (1 to 4).map(c =>
        ((100 + 10 * i + c).toLong, bases(i).toSeq, i % 3))) ++
      Seq((200L, bases(0).map(x => x * (1 + 1e-9)).toSeq, 0)) ++
      (0 until 3).map(z => ((300 + z).toLong, Seq.fill(dim)(0.0), 1)) ++
      (0 until 2).map(z => ((400 + z).toLong, nanVec.toSeq, 2))
    rows.toDF("vec_id", "embedding", "label")
  }

  test("collapse path equals member-level semantic dedup on a dup-heavy corpus") {
    val emb = planted()
    val got = SemDedup.keepList(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = naive(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
    // zero and NaN vectors: all keep, each its own singleton cluster —
    // even though the NaN pair is byte-identical and would share every
    // bucket if it were assigned
    assert((300L to 302L).forall(z => got.contains((z, z, true))))
    assert((400L to 401L).forall(z => got.contains((z, z, true))))
    // the 5-copy cluster of base 1 collapses to its minimum id
    assert(got.contains((1L, 1L, true)) &&
      (111L to 114L).forall(m => got.contains((m, 1L, false))))
    // the near-parallel copy of base 0 joins base 0's component
    assert(got.contains((200L, 0L, false)))
  }

  test("qe4 keeps every original and drops surviving perturbed copies") {
    val out = SemDedup.qe4SemanticDedup(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = graft.Tables(spark, SparkTestSession.sfDir, "embeddings").count()
    assert(out.length.toLong == 2 * n - 1)
    // originals always keep (nothing maps to a lower id)
    assert(out.filter(_._1 < 100000L).forall(r => r._2 == r._1 && r._3))
    // dropped perturbed copies point at exactly their source vector; the
    // quantizer may split some planted pairs across cells (the documented
    // SemDeDup approximation) but must catch a clear majority
    val dropped = out.filter(r => !r._3)
    assert(dropped.forall(r => r._1 == r._2 + 100000L))
    assert(dropped.length >= (n - 1) * 7 / 10,
      s"only ${dropped.length} of ${n - 1} planted duplicates dropped")
  }

  test("indexed keep-list equals the batch form and prunes the store to the increment's cells") {
    // clustered corpus: 3 well-separated cells; the BASE holds members of
    // all 3 cells, the INCREMENT (near-duplicates of base vectors) touches
    // only cell-0 geometry — so the probe's dynamic pruning has something
    // real to prune
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val dim = 16
    val centersV = IndexedSeq.fill(3)(Array.fill(dim)(rnd.nextGaussian() * 10))
    val base = (0 until 120).map { i =>
      val c = centersV(i % 3)
      (i.toLong, c.map(_ + rnd.nextGaussian() * 0.01).toSeq, i % 3)
    }
    val inc = (0 until 10).map { j =>
      // near-parallel copies of cell-0 base vectors → semantic duplicates
      val src = base(j * 3)._2.toArray
      ((1000 + j).toLong, src.map(_ * (1 + 1e-9)).toSeq, 0)
    }
    val emb = (base ++ inc).toDF("vec_id", "embedding", "label")
      .localCheckpoint(true)
    val s = 4
    val want = SemDedup.keepList(emb, threshold = 0.95, s = s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val memoKey = graft.SessionMemo.Address(s"spec|${java.util.UUID.randomUUID}", "v1")
    val got = SemDedup.keepListIndexed(spark, emb,
        basePred = col("vec_id") < 1000L, threshold = 0.95, s = s,
        memoKey = memoKey)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
    // every increment row should have been deduplicated against the store
    assert((0 until 10).forall(j =>
      got.exists(t => t._1 == 1000L + j && !t._3)))

    // physical proof: the executed probe scan over the cell-partitioned
    // store carries a dynamic partition pruning filter
    val probe = SemDedup.indexedCrossProbe(spark, emb,
      basePred = col("vec_id") < 1000L, threshold = 0.95, s = s,
      memoKey = memoKey)
    probe.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      }
      p +: inner
    }
    // the pruning proof holds under the production AQE-on config and is
    // read from the FINAL adaptive plan — it survived re-planning
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "DPP must be proven with AQE on (the production config)")
    assert(probe.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
      "probe did not execute adaptively — assertion would not cover AQE")
    val scans = flatten(probe.queryExecution.executedPlan).collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.partitionSchema.fieldNames.contains("cell") => sc
    }
    assert(scans.nonEmpty, s"no cell-partitioned scan:\n${probe.queryExecution.executedPlan}")
    assert(scans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      s"no dynamic partition pruning on the store scan: " +
        scans.map(_.partitionFilters).mkString("; "))
  }

  test("indexed keep-list handles degenerate vectors like the batch form") {
    // the dup-heavy planted corpus (zero + NaN vectors) through the
    // indexed path: base = ids < 200, increment = the cross-edge copy,
    // the zero vectors, and the NaN vectors
    val emb = planted().localCheckpoint(true)
    val want = SemDedup.keepList(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = SemDedup.keepListIndexed(spark, emb,
        basePred = col("vec_id") < 200L, threshold = 0.95, s = 4,
        memoKey = graft.SessionMemo.Address(s"spec|${java.util.UUID.randomUUID}", "v1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
  }

  test("subBits clamps to [4, 16] and tracks log2 n - 7") {
    assert(SemDedup.subBits(1L) == 4)
    assert(SemDedup.subBits(999L) == 4)        // floor(log2) = 9 -> 2 -> clamp 4
    assert(SemDedup.subBits(19999L) == 7)      // floor(log2) = 14
    assert(SemDedup.subBits(1L << 30) == 16)   // 23 -> clamp 16
  }
}
