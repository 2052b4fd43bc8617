package graft.similarity

import graft.{SessionMemo, Tables}
import graft.dedup.{Clusters, Collapse}
import graft.operators.VectorOps.{cosine, dot}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication over an embedding corpus: partition
  * the corpus with a cheap geometric quantizer, find near-duplicate pairs by
  * exact cosine WITHIN each cell only, resolve duplicate components, and emit
  * a per-document keep/drop decision — the embedding-space analog of the
  * text-side curation keep-list (TextOps.qd10CorpusCuration). The documented
  * approximation of the method (Abbas et al. 2023, "SemDeDup") is pairs whose
  * endpoints land in different cells: they are simply not compared.
  *
  * Quantizer = the IVF coarse level composed with a sign-bit refinement:
  *   1. k-means cell — the SAME deterministic label-mean centroid / 6dp-rounded
  *      argmax assignment as the ANN family (similarity.Ann, qs12's full SQL
  *      oracle), computed over the FULL corpus (k-means means weight every
  *      member, so duplicates pull their cell's centroid — the collapse below
  *      deliberately does NOT apply to centroid estimation);
  *   2. sign-bit sub-bucket — bit i of the sub-cell key is `v[i] >= 0`, i.e.
  *      an SRP hash whose hyperplanes are the coordinate planes (on an
  *      isotropic corpus these are exactly as good as random Gaussian planes,
  *      and unlike seeded-random planes they are reproducible in ANSI SQL,
  *      which keeps the whole operator oracle-checkable). `subBits` sizes the
  *      width like SrpLsh.adaptiveBits: s ≈ ⌊log2 n⌋ − 7 (clamped [4, 16])
  *      holds per-cell occupancy ~constant, so within-cell pair work stays
  *      LINEAR in the corpus; the price is the standard LSH recall trade —
  *      a pair at angle θ splits some sub-bucket bit with probability
  *      1 − (1 − θ/π)^s (≈ 6% at the planted-oracle cosine 0.9986, s = 4).
  *
  * Scale shape: centroids are k×dim (broadcast); assignment is a broadcast
  * join + map-side argmax (Ann.assignments); the only corpus shuffles are the
  * collapse groupBy and the (cell, sub) self-join. Exact-duplicate clusters
  * (byte-identical vectors — mirrored media, re-crawled pages) ride the shared
  * collapse (dedup.Collapse): only distinct vectors are assigned and paired
  * (B² → B), and components are resolved on the REPRESENTATIVE graph with
  * members attached after (same argument as Clusters.repClusters: the rep is
  * the group minimum, so component minima are unchanged) — member-level work
  * is linear in the copy count. At 100 TB the assigned corpus would
  * additionally be written `partitionBy(cell)` like Ann.knnIndexed so repeated
  * curation passes probe, not re-assign.
  *
  * Reference provenance: the reference pipeline has no embedding operators —
  * this is part of the training-data-curation extension surface, next to
  * qs9 (SRP near-dup pairs) and qd10 (text curation keep-list).
  *
  * Caveat for dirty corpora: a NaN-component vector is excluded from
  * PAIRING (it keeps, forms no edges — spec-asserted), but it still
  * participates in centroid ESTIMATION, where one NaN poisons its cell's
  * mean and the NaN-is-greatest argmax then attracts every vector to that
  * cell — quadratic within-cell work at scale. Both engines compute this
  * identically (parity holds); the operator deliberately does not repair
  * it. Gate NaN embeddings upstream (the qd3-style quality pass) before
  * running semantic dedup on uncurated data.
  */
object SemDedup {

  /** Sub-bucket width matched to the corpus: s ≈ ⌊log2 n⌋ − 7, clamped to
    * [4, 16] — with k coarse cells this targets n / (k·2^s) ≈ 128/k vectors
    * per (cell, sub) group, keeping within-cell pairs linear in n. Shares
    * SrpLsh's clamped-log sizing (the SQL mirror is length(bin(n)) − 1). */
  def subBits(n: Long): Int = SrpLsh.clampedLogWidth(n, offset = 7, lo = 4, hi = 16)

  /** Sign-bit sub-bucket key: bit i set iff component off+i+1 is >= 0 — an
    * SRP hash over the coordinate hyperplanes, fully reproducible in SQL.
    * `off` selects the coordinate window (VectorOps.bandedLabelPairs hashes
    * NearDupBands disjoint windows as independent LSH bands). */
  def signBucket(v: Column, s: Int, off: Int = 0): Column =
    (0 until s).map(i =>
      when(element_at(v, off + i + 1) >= lit(0.0), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Self-pair admission predicate — EXACTLY "would the uncollapsed
    * (member, rep) pair have been emitted": the CaseWhen routes zero-norm
    * around the 0/0 ANSI error (branches evaluate lazily; an AND conjunct
    * could be reordered), and the otherwise-branch repeats the pair
    * filter's !isnan >= shape so NaN self-similarity never attaches
    * members. Shared by the batch keepList and the streaming form. */
  private[graft] def selfOkCol(v: Column, threshold: Double): Column = {
    val n2 = dot(v, v)
    val s = round(cosine(v, v), 6)
    when(n2 === 0 || isnan(n2), lit(false)).otherwise(!isnan(s) && s >= threshold)
  }

  /** Shared label-resolution tail: member rows (vec_id, rep, self_ok) ×
    * rep-level components (rep, comp) → (vec_id, cluster_rep, keep).
    * The component label is re-MINIMIZED over member ids per group
    * partition: in the batch form reps are already group minima (so this
    * equals the direct coalesce labeling), and in the streaming form a
    * group's first-arriving member need not be its minimum — one formula
    * serves both, keeping the shared-oracle contract in one place. */
  private[graft] def resolveLabels(members: DataFrame, repCC: DataFrame): DataFrame = {
    // group-minimum as ONE window over grp instead of the old
    // checkpoint + aggregate + join-back: min(when(self_ok, vec_id))
    // over (partition by grp) is null exactly when the group has no
    // self_ok member — the same rows the old left join left null — and
    // the single chain needs no materialization (one exchange by grp
    // replaces checkpoint job + groupBy exchange + join; integer min,
    // no float-order sensitivity). Guide §2.4: a window keyed like the
    // aggregation it replaces shares the one shuffle.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val labels = members.join(repCC, Seq("rep"), "left")
      .select(col("vec_id"), col("self_ok"),
        when(col("self_ok"), coalesce(col("comp"), col("rep")))
          .otherwise(col("vec_id")).as("grp"))
      .withColumn("cluster_rep",
        coalesce(min(when(col("self_ok"), col("vec_id"))).over(w),
          col("vec_id")))
      .select(col("vec_id"), col("cluster_rep"),
        (col("cluster_rep") === col("vec_id")).as("keep"))
    graft.plans.ScaleTechniques.sortedOutput(labels, Seq("vec_id"))
  }

  /** Per-document semantic-dedup decision over `emb`
    * (vec_id bigint, label, embedding array<double>): one output row per
    * input document — (vec_id, cluster_rep = min vec_id of its duplicate
    * component, keep = is it that minimum). Documents with no near-duplicate
    * are their own singleton component (keep = true).
    *
    * Degenerate vectors (zero norm, NaN components) form no pairs and always
    * keep — enforced EXPLICITLY, because neither engine does it for free:
    * Spark ANSI mode throws on the 0/0 cosine, and both engines order NaN
    * greater than any threshold. The per-group `self_ok` guard reproduces
    * the same exclusion for byte-identical copies of a degenerate vector
    * (members must NOT inherit their representative's label through an edge
    * the uncollapsed graph would never have). */
  def keepList(emb: DataFrame, threshold: Double, s: Int): DataFrame = {
    // exact-dup collapse keyed on a 128-bit digest of the vector (two
    // independent xxhash64s), same shape as SrpLsh.nearDups: the group
    // shuffle moves 16-byte keys; each group ships ONE vector via first()
    val keyed = emb.select(col("vec_id"), col("embedding"),
      xxhash64(lit(1), col("embedding")).as("k1"),
      xxhash64(lit(2), col("embedding")).as("k2"))
    val groups = Collapse.groups(keyed, Seq(col("k1"), col("k2")), col("vec_id"),
      first(col("embedding")).as("embedding"))
    // label is NOT carried through the collapse: the digest keys only the
    // vector, so byte-identical embeddings with different labels would make
    // first(label) partition-order dependent — and assignment depends on
    // the vector alone (Ann.assignments requires the column but ignores it)
    val reps = groups.select(col("rep").as("vec_id"), lit(0).as("label"),
      col("embedding"))

    // k-means cells from the FULL corpus (duplicates weight the means,
    // exactly as Lloyd's assignment step would); only REPS get assigned.
    // DEGENERATE vectors are routed around assignment entirely, for two
    // distinct reasons the oracle's isfinite guard covers with one clause:
    //   - zero NORM: cosine is 0/0, which under Spark's ANSI mode is a
    //     DIVIDE_BY_ZERO error on doubles, not an IEEE NaN;
    //   - NaN self-dot (a NaN/overflowing component): cosine evaluates to
    //     NaN without error, and Spark's nan-safe ordering makes
    //     `NaN >= threshold` TRUE (NaN is greatest — same as DuckDB), so
    //     an unguarded NaN vector would pair with every bucket-mate.
    // Both fall through to the self_ok=false singleton path below.
    // Centroids are k×dim — materialize once as a local relation (the
    // (cell, sub) SELF-join below would otherwise recompute the centroid
    // aggregation per side); the assigned reps are checkpointed for the
    // same reason.
    val cents = Ann.localCentroids(emb)
    val norm2 = dot(col("embedding"), col("embedding"))
    val live = reps.filter(norm2 =!= 0 && !isnan(norm2))
    val assigned = Ann.assignments(live, cents)
      .withColumn("sub", signBucket(col("v"), s))
      .localCheckpoint(true)

    // within-(cell, sub) exact-cosine verification over representatives.
    // The !isnan guard mirrors the oracle's isfinite clause: component
    // overflow can still produce a NaN cosine between two finite-norm
    // vectors, and NaN passes >= under nan-safe ordering.
    val a = assigned.as("a"); val b = assigned.as("b")
    val sim = round(cosine(col("a.v"), col("b.v")), 6)
    val repPairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))

    // components on the representative graph; members attach to their rep's
    // component iff their (byte-identical) self-cosine passes the threshold
    // (selfOkCol), with labels resolved by the shared tail
    val repCC = Clusters.connectedComponents(repPairs)
      .withColumnRenamed("doc_id", "rep").withColumnRenamed("cluster_rep", "comp")
    val members = groups
      .select(col("rep"), explode(col("members")).as("vec_id"),
        selfOkCol(col("embedding"), threshold).as("self_ok"))
    resolveLabels(members, repCC)
  }

  // The built index is memoized per (session, corpus contents + quantizer
  // config) — same pattern and staleness contract as Ann.knnIndexed's:
  // an in-place corpus rewrite misses the stale entry and rebuilds
  // (spec-asserted).
  private val indexes = new SessionMemo[String, String](_ => ())

  private val pairsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_b",
      org.apache.spark.sql.types.LongType)))

  /** The MATERIALIZED-index / incremental form of `keepList` — the 100 TB
    * shape this file's scaladoc promises ("the assigned corpus would be
    * written partitionBy(cell) so repeated curation passes probe, not
    * re-assign"), made real, mirroring Ann.knnIndexed:
    *
    *   - the BASE portion of the corpus (`emb` rows where `basePred`) is
    *     assigned under the frozen quantizer ONCE, written
    *     `partitionBy(cell)`, and its internal verified pairs — the
    *     previous curation pass's output — are stored beside it;
    *   - an INCREMENT (the rest of `emb`) is assigned (O(increment)) and
    *     probes the store with a broadcast join on (cell, sub): the join
    *     on the partition column triggers DYNAMIC PARTITION PRUNING, so
    *     the pass physically reads only the increment's cells' files
    *     (spec-asserted on the executed scan), never the whole store;
    *   - stored pairs ∪ cross pairs ∪ increment-internal pairs feed the
    *     SAME component resolution as the batch form, so the result is
    *     row-identical to `keepList(emb, threshold, s)` and shares its
    *     oracle.
    *
    * The quantizer (centroids, `s`) is frozen over the full corpus —
    * exactly the contract of the streaming form (SemDedupStream). */
  def keepListIndexed(spark: SparkSession, emb: DataFrame,
                      basePred: Column, threshold: Double, s: Int,
                      memoKey: SessionMemo.Address[String]): DataFrame = {
    val keyed = emb.select(col("vec_id"), col("embedding"),
      xxhash64(lit(1), col("embedding")).as("k1"),
      xxhash64(lit(2), col("embedding")).as("k2"))
    val groups = Collapse.groups(keyed, Seq(col("k1"), col("k2")), col("vec_id"),
      first(col("embedding")).as("embedding"))
    val reps = groups.select(col("rep").as("vec_id"), lit(0).as("label"),
      col("embedding"))
    val cents = Ann.localCentroids(emb)
    val norm2 = dot(col("embedding"), col("embedding"))
    val live = reps.filter(norm2 =!= 0 && !isnan(norm2))
    val sim = round(cosine(col("a.v"), col("b.v")), 6)

    // base index: assignment written partitionBy(cell) + its internal
    // pair set, built once per (corpus contents, base split, quantizer)
    // per session. The base/increment SPLIT is part of the key: a second
    // call with the same corpus but a different basePred must rebuild —
    // reusing a store built for the old split would leave rows that moved
    // between base and increment in neither side, silently dropping pairs.
    // The base-index build (memo) and the increment's assignment
    // checkpoint are independent: overlap them.
    val (idx, assignedInc) = graft.Overlap.both(spark)(
      "semdedup: base index build" -> (() =>
        indexes.getOrBuild(spark, memoKey / s"$basePred|$threshold|$s") {
          val t = java.nio.file.Files.createTempDirectory("graft_sem_idx").toString
          graft.streaming.Replay.cleanupAtExit(t)
          Ann.assignments(live.filter(basePred), cents)
            .withColumn("sub", signBucket(col("v"), s))
            // cluster rows by cell BEFORE the partitioned write: straight from
            // the 32 assignment partitions every task would open a file per
            // cell it touches (~cells x tasks tiny files); one trivial shuffle
            // makes it one file per cell
            .repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(s"$t/assign")
          val sa = spark.read.parquet(s"$t/assign")
          sa.as("a").join(sa.as("b"),
              col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
              col("a.vec_id") < col("b.vec_id"))
            .filter(!isnan(sim) && sim >= threshold)
            .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
            .write.mode("overwrite").parquet(s"$t/pairs")
          t
        }),
      // increment pass: O(increment) assignment, broadcast probe of the
      // cell-partitioned store (DPP), increment-internal self-join
      "semdedup: increment assignment" -> (() =>
        Ann.assignments(live.filter(!basePred), cents)
          .withColumn("sub", signBucket(col("v"), s))
          .localCheckpoint(true)))
    val stored = spark.read.parquet(s"$idx/assign")
      .select(col("vec_id"), col("cell"), col("sub"), col("v"))
    val storedPairs = spark.read.schema(pairsSchema).parquet(s"$idx/pairs")
    val crossPairs = broadcast(assignedInc).as("a")
      .join(stored.as("b"),
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("doc_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("doc_b"))
    val incPairs = assignedInc.as("a").join(assignedInc.as("b"),
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val repPairs = storedPairs.unionByName(crossPairs).unionByName(incPairs)

    val repCC = Clusters.connectedComponents(repPairs)
      .withColumnRenamed("doc_id", "rep").withColumnRenamed("cluster_rep", "comp")
    val members = groups
      .select(col("rep"), explode(col("members")).as("vec_id"),
        selfOkCol(col("embedding"), threshold).as("self_ok"))
    resolveLabels(members, repCC)
  }

  /** The raw (pre-sink) probe frame of the increment pass — what the DPP
    * spec inspects; mirrors Ann.knnIndexedRaw's plan-visibility note. */
  private[similarity] def indexedCrossProbe(spark: SparkSession, emb: DataFrame,
      basePred: Column, threshold: Double, s: Int,
      memoKey: SessionMemo.Address[String]): DataFrame = {
    val cents = Ann.localCentroids(emb)
    val norm2 = dot(col("embedding"), col("embedding"))
    val live = emb.select(col("vec_id"), lit(0).as("label"), col("embedding"))
      .filter(norm2 =!= 0 && !isnan(norm2))
    val t = indexes.getOrBuild(spark, memoKey / s"$basePred|$threshold|$s")(
      throw new IllegalStateException("index not built — call keepListIndexed first"))
    val stored = spark.read.parquet(s"$t/assign")
      .select(col("vec_id"), col("cell"), col("sub"), col("v"))
    val assignedInc = Ann.assignments(live.filter(!basePred), cents)
      .withColumn("sub", signBucket(col("v"), s))
    val sim = round(cosine(col("a.v"), col("b.v")), 6)
    broadcast(assignedInc).as("a")
      .join(stored.as("b"),
        col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("doc_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("doc_b"))
  }

  /** The planted ground-truth corpus shared by qe4 and its streaming form
    * (streaming.SemDedupStream): the embeddings table UNION its
    * deterministic perturbed copy (the qs9 construction: w_i = 0.95·v_i +
    * 0.05·v_{i+1}, id +100000, pure double arithmetic the oracle reproduces
    * bit-exactly). The raw isotropic corpus has no semantic duplicates, so
    * the union plants its own: each perturbed copy should DROP
    * (cluster_rep = its source, keep = false) whenever the pair survives
    * the quantizer, and every original should KEEP. */
  def plantedUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val successors = e.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").as("next_emb"))
    val perturbed = e.join(successors, "vec_id")
      .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        zip_with(col("embedding"), col("next_emb"),
          (x, y) => lit(0.95) * x + lit(0.05) * y).as("embedding"))
    e.unionByName(perturbed)
  }

  /** qe4 entry: semantic dedup at cosine >= 0.95 over the planted union. */
  def qe4SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialize the derived union once: the centroid aggregation, the
    // collapse groupBy, and the width count would each recompute the
    // perturbation join otherwise
    val u = plantedUnion(spark, dir).localCheckpoint(true)
    keepList(u, threshold = 0.95, s = subBits(u.count()))
  }

  /** qe5 entry: the indexed/incremental form over the SAME planted union —
    * originals (vec_id < 100000) are the materialized base, the perturbed
    * copies are the increment probing it with partition pruning. Row-
    * identical to qe4, so it shares qe4's oracle. */
  def qe5SemanticDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val u = plantedUnion(spark, dir).localCheckpoint(true)
    keepListIndexed(spark, u, basePred = col("vec_id") < 100000L,
      threshold = 0.95, s = subBits(u.count()),
      memoKey = SessionMemo.of(dir) / "planted")
  }
}
