package graft.streaming

import graft.operators.VectorOps.{cosine, dot}
import graft.similarity.{Ann, SemDedup}
import graft.streaming.StreamFold.Delta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming incremental SEMANTIC dedup — the arrival-time form of
  * qe4_semantic_dedup (similarity.SemDedup), the embedding-side sibling of
  * the text stream qs13 (Replay.streamNearDup): embedding batches stream in,
  * each micro-batch pays only its own digest/assignment kernel plus one
  * probe of the persisted cell index, and the final keep-list equals the
  * batch computation exactly, regardless of arrival order or batch
  * boundaries.
  *
  * The quantizer is FROZEN at setup — k-means cell centroids and the
  * sign-bit sub-bucket width are computed once before the stream starts,
  * exactly as SemDeDup trains its k-means offline and assigns forever
  * after. (An online quantizer would re-cluster as data drifts; that
  * changes the answer, not just the plan, so it is out of scope here.)
  *
  * State is APPEND-ONLY parquet (semantic-dedup state is purely additive),
  * one logical table each:
  *   - mem(k1, k2, vec_id): every vector seen, keyed by its 128-bit digest;
  *   - reps(k1, k2, rep, cell, sub, v): one row per DISTINCT vector — the
  *     exact-dup collapse carried into streaming. `cell`/`sub` are the
  *     frozen-quantizer assignment, written ONCE at first arrival; this IS
  *     the probe index. Degenerate vectors (zero norm / NaN) carry a null
  *     cell and are never probed — same exclusion as the batch form;
  *   - pairs(rep_a, rep_b): verified rep-level near-dup pairs.
  *
  * Per batch: (1) digest + within-batch collapse; (2) NOVEL digests are
  * assigned under the frozen quantizer (O(batch) work —
  * `probeRowsPerBatch` records it, spec-asserted proportional to the
  * batch) and probe the state index with the new rows BROADCAST, so the
  * accumulated index streams through one hash join without a shuffle; at
  * warehouse scale the index would be stored partitioned by (cell, sub)
  * and the batch's cell set would prune the probe to matching partitions
  * (the Ann.knnIndexed pattern); (3) verified new pairs and the batch's
  * member rows append to state. Every `compactEvery` batches the
  * per-batch parquet files fold into a fresh generation.
  *
  * The keep-list is materialized ONCE, after the stream completes:
  * components over the accumulated rep pairs, members attached through
  * the digest map. Per-doc labels cannot be emitted incrementally — a
  * later arrival can bridge two components and retroactively change
  * earlier documents' cluster minimum — so the pair graph is the
  * streaming state and the keep-list is its on-demand view (same
  * pairs-are-additive insight as qs13). The resolution keys components by
  * the MINIMUM member id per digest-group partition, which makes the
  * final labels independent of arrival order even when a group's
  * first-arriving member (the state rep) is not its minimum.
  *
  * A restarted stream (`StreamFold`'s restart contract) needs the caller
  * to re-freeze the SAME quantizer (`cents`, `s`) — it is model state,
  * trained offline. */
object SemDedupStream {

  /** Per-batch novel-assignment row counts of the most recent run — spec
    * instrumentation proving per-batch kernel/probe driver work is
    * proportional to the BATCH (its novel digests), not the accumulated
    * state. OFF by default (one extra job per micro-batch); a spec flips
    * `recordProbeRows` on around its invocation. */
  private[graft] val probeRowsPerBatch = new scala.collection.mutable.ArrayBuffer[Long]()
  @volatile private[graft] var recordProbeRows = false

  private val embStreamSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Stream a staged embedding lake through the frozen-quantizer
    * incremental pipeline and materialize the final keep-list
    * (vec_id, cluster_rep, keep) — row-identical to
    * `SemDedup.keepList(corpus, threshold, s)` with the same frozen
    * `cents`/`s` (spec-asserted across batch splits and arrival orders). */
  def streamKeepList(spark: SparkSession, stagedDir: String, cents: DataFrame,
                     s: Int, threshold: Double = 0.95,
                     maxFilesPerTrigger: Int = 1,
                     compactEvery: Int = 16,
                     workDir: Option[String] = None): DataFrame = {
    val memSchema = StructType(Seq(StructField("k1", LongType),
      StructField("k2", LongType), StructField("vec_id", LongType)))
    val repsSchema = StructType(Seq(StructField("k1", LongType),
      StructField("k2", LongType), StructField("rep", LongType),
      StructField("cell", IntegerType), StructField("sub", LongType),
      StructField("v", ArrayType(DoubleType))))
    val pairsSchema = StructType(Seq(StructField("rep_a", LongType),
      StructField("rep_b", LongType)))
    val state = new AppendOnlyState(StreamFold.work(workDir, "graft_ssemdedup"),
      Seq(("mem", memSchema), ("reps", repsSchema), ("pairs", pairsSchema)),
      compactEvery)
    probeRowsPerBatch.clear()
    StreamFold.fold(StreamFold.parquet(spark, embStreamSchema, stagedDir,
        maxFilesPerTrigger), state) { (batch, batchId) =>
      val ss = batch.sparkSession
      // exclude this batch's own (possibly crashed) writes so a replay
      // computes from exactly the state the original attempt saw —
      // novelty-derived appends would otherwise recompute empty and
      // overwrite the real rows away
      val prevReps = state.read(ss, "reps", excludeBatch = Some(batchId))
      // (1) digest + within-batch collapse (first-arrival minimum is the
      // candidate rep; the final resolution re-minimizes over members, so
      // arrival order cannot leak into the answer)
      val bKeyed = batch.select(col("vec_id"), col("embedding"),
        xxhash64(lit(1), col("embedding")).as("k1"),
        xxhash64(lit(2), col("embedding")).as("k2"))
      val newMem = bKeyed.select(col("k1"), col("k2"), col("vec_id"))
      val bGroups = bKeyed.groupBy("k1", "k2")
        .agg(min("vec_id").as("rep"), first("embedding").as("embedding"))
      // (2) novel digests only — everything already in state is a pure
      // member append
      val novel = bGroups
        .join(prevReps.select("k1", "k2"), Seq("k1", "k2"), "left_anti")
        .localCheckpoint(true)
      val norm2 = dot(col("embedding"), col("embedding"))
      val live = novel.filter(norm2 =!= 0 && !isnan(norm2))
        .select(col("k1"), col("k2"), col("rep").as("vec_id"),
          lit(0).as("label"), col("embedding"))
      val degenerate = novel.filter(!(norm2 =!= 0 && !isnan(norm2)))
        .select(col("k1"), col("k2"), col("rep"),
          lit(null).cast("int").as("cell"), lit(null).cast("long").as("sub"),
          col("embedding").as("v"))
      val newAssigned = Ann.assignments(live, cents)
        .withColumn("sub", SemDedup.signBucket(col("v"), s))
        .join(live.select(col("k1"), col("k2"), col("vec_id")), "vec_id")
        .select(col("k1"), col("k2"), col("vec_id").as("rep"),
          col("cell"), col("sub"), col("v"))
        .localCheckpoint(true)
      if (recordProbeRows) probeRowsPerBatch += newAssigned.count()
      // probe: new rows BROADCAST against the accumulated index ∪ the
      // batch itself; each unordered pair lands exactly once per side
      // ordering, distinct() folds the two
      val after = prevReps.filter(col("cell").isNotNull).unionByName(newAssigned)
      val sim = round(cosine(col("a.v"), col("b.v")), 6)
      val newPairs = broadcast(newAssigned).as("a")
        .join(after.as("b"),
          col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
          col("a.rep") =!= col("b.rep"))
        .filter(!isnan(sim) && sim >= threshold)
        .select(least(col("a.rep"), col("b.rep")).as("rep_a"),
          greatest(col("a.rep"), col("b.rep")).as("rep_b"))
        .distinct()
      // newPairs has exactly ONE consumer (the state append below) and
      // its state reads are listing-snapshotted, so it needs no eager
      // checkpoint — one less job per micro-batch
      // (3) O(batch) appends, idempotent on the batch id
      Delta("mem" -> newMem, "reps" -> newAssigned.unionByName(degenerate),
        "pairs" -> newPairs)
    }

    if (!state.nonEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Boolean)].toDF("vec_id", "cluster_rep", "keep")
    }
    // final resolution: components over the accumulated rep pairs, members
    // attached through the digest map, labels resolved by the tail SHARED
    // with the batch form (SemDedup.resolveLabels re-minimizes over member
    // ids, so a first-arrival rep that is not its group's minimum cannot
    // leak arrival order into the answer)
    val mem = state.read(spark, "mem")
    val reps = state.read(spark, "reps")
    val pairs = state.read(spark, "pairs")
    val repCC = graft.dedup.Clusters.connectedComponents(
        pairs.toDF("doc_a", "doc_b"))
      .withColumnRenamed("doc_id", "rep").withColumnRenamed("cluster_rep", "comp")
    val repMeta = reps.select(col("k1"), col("k2"), col("rep"),
      SemDedup.selfOkCol(col("v"), threshold).as("self_ok"))
    val members = mem.join(repMeta, Seq("k1", "k2"))
      .select(col("vec_id"), col("rep"), col("self_ok"))
    val r = SemDedup.resolveLabels(members, repCC)
    r
  }

  /** qs15 entry: the planted qe4 union staged as an id-range-partitioned
    * multi-file lake, streamed one file per micro-batch through the frozen
    * quantizer — the final keep-list equals batch qe4, so it shares qe4's
    * oracle. Two range files split originals from their (+100000-id)
    * perturbed copies, so EVERY planted pair crosses the batch boundary:
    * batch 2 finds all of them by probing batch 1's persisted index.
    * (More batches, shuffled arrival, and mid-stream compaction are
    * exercised in SemDedupStreamSpec; each extra micro-batch costs fixed
    * stream machinery at bench scale, so the entry keeps the minimal
    * boundary-crossing shape.) */
  def qs15StreamSemDedup(spark: SparkSession, dir: String,
                         files: Int = 2): DataFrame = {
    val u = SemDedup.plantedUnion(spark, dir).localCheckpoint(true)
    // the frozen quantizer below and the stream itself still run in full
    // per pass; only the staging is memoized (`StreamFold.stage`)
    val staged = StreamFold.stage(spark, s"$dir/embeddings.parquet",
        s"graft_semdedup${files}_lake") { t =>
      u.select(col("vec_id"), col("embedding"))
        .repartitionByRange(files, col("vec_id"))
        .write.mode("overwrite").parquet(t)
    }
    // frozen quantizer: trained once over the full lake before the stream
    val cents = Ann.localCentroids(u)
    val s = SemDedup.subBits(u.count())
    streamKeepList(spark, staged, cents, s)
  }
}
