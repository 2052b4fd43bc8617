package graft.similarity

import graft.{SessionMemo, Tables}
import graft.operators.VectorOps.{cosine, dot, dvec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor over the embeddings table — the
  * scale path next to the brute-force baseline (VectorOps.qe1KnnBruteForce).
  *
  * Index = coarse quantizer: k cell centroids (here seeded from the label
  * partition, recomputed as true means), each corpus vector assigned to its
  * nearest cell. Query = rank cells by query→centroid similarity, probe the
  * top `nprobe` cells only, exact cosine within them.
  *
  * Scale shape: centroids are tiny by construction (k ≪ n) → broadcast;
  * cell assignment is a broadcast join + argmin (no shuffle of the corpus
  * beyond one pass); the search probes nprobe/k of the data. At 100 TB the
  * corpus would additionally be *written partitioned by cell id* so a probe
  * is a partition-pruned scan, not a filter.
  */
object Ann {

  /** Hard ceiling on the query-sample size every driver-collected
    * structure in the ADC/recall family (LUT, allowed-cell bitmap,
    * broadcast query array) is allowed to grow to. The `vec_id % 25`
    * predicate alone selects a PROPORTIONAL 4% of the corpus — harmless
    * at the gate SFs (Q ≤ 800 at sf1) but a multi-GB driver collect at
    * 100×. The cap bounds those structures at O(min(Q, cap)) regardless
    * of corpus size; 1024 > sf1's Q, so gate results are unchanged. */
  val DefaultMaxQueries = 1024

  /** Search-family defaults shared with the oracle SQL (SparkEntry
    * interpolates these into the mirrors, so a changed default can
    * never silently desync code and oracle). */
  val DefaultTopK = 5
  val DefaultNProbe = 2
  val DefaultPrefixDims = 16
  val DefaultRerankCandidates = 50
  val DefaultMmrCandidates = 20
  val DefaultMmrLambdaPct = 70

  /** Deterministic capped query sample: the `pred` rows in a hashed
    * total order (multiplicative hash, ties to vec_id), truncated at
    * `maxQ`. The hash de-biases the truncation (plain ORDER BY vec_id
    * would keep only the oldest ids) while staying a pure SQL
    * expression both engines compute identically — the DuckDB mirrors
    * carry the same ORDER BY/LIMIT clause. Returns (vec_id, embedding)
    * rows, the shape the encode/LUT builders already consume. */
  private[graft] def querySample(emb: DataFrame, pred: String,
                                 maxQ: Int): DataFrame =
    emb.filter(expr(pred))
      .select(col("vec_id"), col("embedding"))
      .orderBy((col("vec_id") * lit(1000003L)) % lit(999983L), col("vec_id"))
      .limit(maxQ)

  /** Per-cell mean centroids: posexplode → (cell, dim) partial avg.
    * One shuffle of n×64 skinny rows; result is k×64 — driver-safe. */
  def centroids(emb: DataFrame): DataFrame = {
    emb.select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell", "dim")
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cell"), expr("transform(pairs, p -> p.m)").as("centroid"))
  }

  /** Corpus vectors re-assigned to their nearest centroid (the honest IVF
    * assignment — label is only the seed partition).
    *
    * The argmax runs as ONE codegen'd kernel pass per vector against the
    * centroid array (`ArgmaxCosine` — 6dp round before the argmax, NaN
    * ordered greatest, ties to the lowest cell via ascending-cell visit
    * order), bit-identical to the explode-k-candidates +
    * `max(struct(round(cosine), 6), -cell)` form it replaces but with NO
    * row blowup and NO exchange: the old struct-max compiled to
    * Sort + SortAggregate + Exchange over an n×k candidate stream — at
    * 100 TB the assignment pass is now pure map-side work. */
  def assignments(emb: DataFrame, cents: DataFrame): DataFrame = {
    // CONTRACT (ADVICE r20): `cents` must be a NON-EMPTY k×dim
    // DRIVER-HELD local relation — every caller passes one
    // (localCentroids / refinedCentroids / frozen stream models), so the
    // collect is free, and ascending-cell order makes the kernel's
    // lowest-index tie-break the family's lowest-cell tie-break. A
    // caller with a distributed centroid frame would silently pay a
    // Spark job per invocation AND inline the result into every plan as
    // a literal, so the size is guarded right after the collect: k is a
    // model hyper-parameter (10..64 across the family), never
    // corpus-proportional.
    val cellType = cents.schema.fields.head.dataType
    val rows = cents.collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(),
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue())))
      .sortBy(_._1)
    require(rows.nonEmpty, "assignments: empty centroid table")
    require(rows.length <= 65536,
      s"assignments: ${rows.length} centroids — the codegen kernel " +
        "inlines the table into every plan; a centroid set this large " +
        "is not a coarse quantizer (driver-held k*dim contract)")
    val cellsLit = typedLit(rows.map(_._1).toSeq)
    val centsLit = typedLit(rows.map(_._2.toSeq).toSeq)
    emb.select(col("vec_id"), col("embedding").as("v"))
      .select(col("vec_id"),
        element_at(cellsLit,
          graft.functions.ArgminFunctions.argmaxCosine(col("v"), centsLit) + lit(1))
          .cast(cellType).as("cell"),
        col("v"))
  }

  /** ANN top-k over the embeddings table: probe the `nprobe` best cells
    * per query. NOTE: on this synthetic corpus the vectors are isotropic
    * noise (labels carry no geometry), so low `nprobe` necessarily trades
    * recall — the spec exercises recall on clustered data via `knnFrom`.
    *
    * At `nprobe >= number of cells` (full probe) every corpus vector is a
    * candidate, so the result provably equals the brute-force top-k
    * (qe1's oracle modulo the label column): both sides round cosine to 6
    * decimals BEFORE ranking and break ties on cand_id, making the
    * correspondence exact, not approximate.
    *
    * The REAL low-probe configuration is ALSO driver-checked (qs12,
    * nprobe = 2): the whole pipeline — label-mean centroids, 6dp-rounded
    * argmax assignment, 6dp-rounded probe ranking, in-cell exact cosine —
    * is deterministic SQL, so the oracle reproduces the identical cell
    * restriction in DuckDB. Low-probe *recall* is additionally
    * spec-checked on clustered data (AnnSpec). */
  def knn(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 3,
          queryPred: String = "vec_id < 5"): DataFrame =
    knnFrom(Tables(spark, dir, "embeddings"), k, nprobe, queryPred)

  /** ANN top-k over any (vec_id, embedding, label) DataFrame. */
  def knnFrom(emb: DataFrame, k: Int, nprobe: Int, queryPred: String): DataFrame =
    knnFromQueries(emb, k, nprobe, emb.filter(expr(queryPred)))

  /** As `knnFrom` but over an explicit (vec_id, embedding, …) query
    * frame — the entry capped callers (qe7) route through so the probe
    * side sees exactly the bounded `querySample`. */
  private[graft] def knnFromQueries(emb: DataFrame, k: Int, nprobe: Int,
                                    queries: DataFrame): DataFrame = {
    val cents = localCentroids(emb)
    sink(probeRank(cents, assignments(emb, cents), k, nprobe, queries))
  }

  /** Size-gated presentation sort shared by both search forms. NOTE the
    * gate's localCheckpoint hides the probe plan from post-hoc inspection
    * — plan specs assert on the pre-sink frame (`knnIndexedRaw`). */
  private def sink(ranked: DataFrame): DataFrame =
    graft.plans.ScaleTechniques.sortedOutput(ranked, Seq("q_id", "rank"))

  /** Centroids are k×dim — materialize the tiny table once to the driver
    * and rebuild it as a local relation instead of recomputing the
    * posexplode aggregation per consumer (audit showed the shared plan
    * paid 12 shuffles: both branches re-derived it). Unlike `.cache()`
    * this leaves nothing persisted behind after repeated calls. */
  private[graft] def localCentroids(emb: DataFrame): DataFrame = {
    val centsPlan = centroids(emb)
    emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(centsPlan.collect(): _*), centsPlan.schema)
  }

  /** Coarse-centroid Lloyd refinement iterations for the RESIDUAL
    * family (qe10), shared with the generated oracle CTE chain. On
    * label-noise corpora the label-mean seed gives residuals no
    * variance reduction (residual ≈ vector − global mean) — the r10/r11
    * equal-m recall inversion; two refinement rounds make the cells
    * GEOMETRIC, which is the precondition Jégou §IV-A's residual
    * advantage actually rests on (measured at sf1: residual recall
    * 0.0348 → 0.0425 vs plain PQ 0.0378 at nprobe=2). */
  val DefaultCoarseRefineIters = 2

  /** `iters` deterministic Lloyd rounds over the coarse centroids: each
    * round re-assigns every vector by the family argmax (6dp-rounded
    * cosine, ties to the lowest cell) and recomputes centroids as
    * assigned means; a cell that loses every member keeps its previous
    * centroid (refineCodebook's empty-cluster rule, mirrored by the
    * oracle's LEFT JOIN + coalesce). One broadcast-argmax corpus pass +
    * one skinny (cell, dim) aggregate per round; the centroid table
    * stays a driver-held k×dim local relation throughout. */
  private[graft] def refinedCentroids(emb: DataFrame,
      iters: Int = DefaultCoarseRefineIters,
      memoKey: Option[SessionMemo.Address[String]] = None): DataFrame = {
    val spark = emb.sparkSession
    def train(): DataFrame = {
      var cents = localCentroids(emb)
      (1 to iters).foreach { _ =>
        val refreshed = assignments(emb, cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("cell", "dim")
          .agg(avg(col("x").cast("double")).as("m"))
          .groupBy("cell")
          .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ps"))
          .select(col("cell"), expr("transform(ps, p -> p.m)").as("centroid"))
          .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
        val merged = cents.collect().map { r =>
          org.apache.spark.sql.Row(r.get(0),
            refreshed.getOrElse(r.get(0), r.getSeq[Double](1)))
        }
        cents = spark.createDataFrame(
          java.util.Arrays.asList(merged: _*), cents.schema)
      }
      cents
    }
    // refinement is per-MODEL-BUILD cost like codebook training (two
    // corpus passes per round) — memoized through the same cache so
    // every consumer of the same corpus reuses the k×dim local relation
    trained(emb, memoKey, s"cents|$iters")(train())
  }

  /** Shared probe/rank tail: rank cells per query, restrict candidates to
    * the probed cells, exact cosine + top-k. `queriesIn` carries
    * (vec_id, embedding, …) rows — a raw filter or a capped sample. */
  private def probeRank(cents: DataFrame, assigned: DataFrame,
                        k: Int, nprobe: Int, queriesIn: DataFrame): DataFrame = {
    val queries = queriesIn
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cellRank = Window.partitionBy("q_id").orderBy(col("qsim").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      // same 6dp pre-rounding as the assignment argmax (see above)
      .withColumn("qsim", round(cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("crk", row_number().over(cellRank))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))

    val rank = Window.partitionBy("q_id").orderBy(col("sim").desc, col("cand_id"))
    // probed = n_queries × nprobe rows — broadcast it so the corpus side
    // streams once instead of shuffling on the low-cardinality cell key
    // (against the materialized index of `knnIndexed`, this same join
    // triggers dynamic partition pruning on the cell-partitioned store)
    broadcast(probed).join(assigned.withColumnRenamed("vec_id", "cand_id"), Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(cosine(col("q_vec"), col("v")), 6).as("sim"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("sim"))
  }

  /** The MATERIALIZED-index form of the search — the 100 TB shape the
    * in-memory variant's scaladoc promises, made real: the assigned
    * corpus is written `partitionBy(cell)`, and the broadcast probe join
    * on the partition column triggers DYNAMIC PARTITION PRUNING, so a
    * low-probe search physically reads only the probed cells' files
    * (spec-asserted on the executed scan), never the whole store. Same
    * deterministic pipeline as `knnFrom` — label-mean centroids,
    * 6dp-rounded argmax assignment, 6dp-rounded probe ranking — so the
    * result is row-identical to the in-memory form and shares qs12's
    * full SQL oracle. */
  // The built index is memoized per (session, corpus contents) — the
  // same pattern as MinHashLSH's signature memo, and the single-job
  // analog of "the index table is built once and probed by every query"
  // at warehouse scale. Without it every call wrote a fresh corpus-sized
  // copy into the temp dir. A corpus rewritten in place mid-session
  // misses the stale entry and the index rebuilds (spec-asserted)
  // instead of serving stale rows.
  private val indexes = new SessionMemo[String, String](_ => ())

  // Trained PQ codebooks and refined centroids, memoized per (session,
  // corpus contents, family tag, m/subDim/iters/k) — VERDICT r10 #3:
  // codebook training is per-MODEL-BUILD cost (a vector store trains
  // once and serves every query), but qe8/qe9/qe10/qs18/qs20/qe14 each
  // paid the k=64 × 2-round training inside their measured window.
  // Training is deterministic, so every consumer reconstructs the
  // identical m×k×(dim/m) local relation from the cached rows.
  private val codebooks = new SessionMemo[String,
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])](
    _ => (), perModel = true)

  /** Memo address of a corpus-trained codebook: the corpus dir plus the
    * family tag ("pq" raw vectors, "rpq" residuals). */
  private[graft] def codebookMemoKey(dir: String,
                                     tag: String): SessionMemo.Address[String] =
    SessionMemo.of(dir) / tag

  /** A trained local relation, through the codebook memo at `variant` of
    * `memoKey` when there is one. */
  private def trained(emb: DataFrame, memoKey: Option[SessionMemo.Address[String]],
                      variant: String)(train: => DataFrame): DataFrame =
    memoKey.fold(train) { at =>
      val spark = emb.sparkSession
      val (schema, rows) = codebooks.getOrBuild(spark, at / variant) {
        val df = train
        (df.schema, df.collect()) // local relation — collect is free
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }

  private[similarity] def knnIndexedRaw(spark: SparkSession, dir: String,
      k: Int = 5, nprobe: Int = 2, queryPred: String = "vec_id < 5"): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cents = localCentroids(emb)
    val idx = indexes.getOrBuild(spark, SessionMemo.of(dir)) {
      val t = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      graft.streaming.Replay.cleanupAtExit(t)
      // build: one pass over the corpus, stored partitioned by cell id;
      // cluster by cell first so the store is one file per cell, not one
      // per (cell, map task) — see SemDedup.keepListIndexed's build note
      assignments(emb, cents).repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$t/assign")
      t
    }
    val assigned = spark.read.parquet(s"$idx/assign")
      .select(col("vec_id"), col("cell"), col("v"))
    probeRank(cents, assigned, k, nprobe, emb.filter(expr(queryPred)))
  }

  def knnIndexed(spark: SparkSession, dir: String, k: Int, nprobe: Int,
                 queryPred: String): DataFrame =
    sink(knnIndexedRaw(spark, dir, k, nprobe, queryPred))

  /** qs14 entry: indexed low-probe ANN — row-identical to qs12, probed
    * through the cell-partitioned store with partition pruning. */
  def qs14AnnIndexed(spark: SparkSession, dir: String): DataFrame =
    knnIndexed(spark, dir, k = 5, nprobe = 2, queryPred = "vec_id < 5")

  /** qe6 entry: per-cell occupancy + cohesion report over the embedding
    * corpus — the diagnostic a curation pipeline runs BEFORE tuning the
    * quantizer-dependent passes (SemDeDup's epsilon-per-cluster, IVF's
    * nprobe): how full is each cell, how tight is it on average, and how
    * far out does its worst member sit. Same deterministic quantizer as
    * the whole ANN/SemDeDup family (label-mean centroids over the FULL
    * corpus, 6dp-rounded argmax assignment of the finite-norm vectors),
    * so the report describes exactly the cells those operators use.
    *
    * Plan: centroids are the k×dim local relation; assignment is the
    * broadcast map-side argmax (Ann.assignments); the cohesion metrics
    * ride ONE groupBy(cell) over (cell, rounded cosine) rows — a single
    * skinny shuffle, linear at any corpus size. Per-row cosines round to
    * 6dp BEFORE aggregation (the family's summation-order guard); the
    * mean rounds once more on output. */
  def qe6ClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("embedding"))
    val cents = localCentroids(emb)
    val norm2 = dot(col("embedding"), col("embedding"))
    // exact isfinite semantics (the oracle's guard): an Inf component
    // yields norm2 = +Inf, which must be dropped like NaN — norm2 is a
    // sum of squares so +Inf is the only infinite value possible
    val live = emb.filter(norm2 =!= 0 && !isnan(norm2) &&
      norm2 =!= lit(Double.PositiveInfinity))
    assignments(live, cents)
      .join(broadcast(cents), "cell")
      .select(col("cell"),
        round(cosine(col("v"), col("centroid")), 6)
          .as("cos"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg("cos"), 6).as("avg_cos"),
        min("cos").as("min_cos"))
      .orderBy("cell")
  }

  /** qe13: cluster-balanced diversity sampling — the curation stage
    * after dedup: cap every embedding cluster at a PER-CELL quota
    * (ceil 20% here) so dominant modes cannot flood the training
    * sample while thin regions keep representation (the
    * cluster-balancing used in SSL-prototype / DatologyAI-style data
    * curation, and the batch form of per-domain sampling done in
    * embedding space instead of metadata space). Cells come from the
    * family's deterministic quantizer (label-mean centroids,
    * 6dp-rounded argmax, zero/NaN vectors excluded like qe6); within a
    * cell, members rank prototypical-first (cosine-to-centroid DESC,
    * ties to the lowest vec_id) — a deterministic, defensible keep
    * order. The report emits EVERY live vector with its cell, rank,
    * quota, and keep flag, so the driver checks the whole decision
    * surface, not just the survivors.
    *
    * Scale shape: one broadcast argmax pass (the assignments shape, no
    * corpus shuffle), one rank window per cell (cell-partitioned), and
    * an integer ceil quota (n_cell + 4) div 5 — no floats anywhere the
    * quota could wobble. */
  /** qe15: MMR-DIVERSIFIED top-k — retrieval with redundancy control
    * (Carbonell & Goldstein 1998): after the exact top-`c` candidate
    * stage, `k` greedy Maximal-Marginal-Relevance steps each pick the
    * candidate maximizing λ·rel(q, d) − (1−λ)·max_{s∈S} sim(d, s) —
    * relevance traded against similarity to the already-selected set —
    * so the emitted k are relevant AND mutually diverse (the dedup
    * engine's own near-dup problem applied to retrieval output).
    *
    * ENGINE-DETERMINISTIC: relevance and candidate-pair similarities
    * are integer MICRO-COSINES (round(round6(cos)×1e6) — the family's
    * exact-integer trick), λ enters as integer percents
    * (`score = λ% × rel_us − (100−λ%) × maxSim_us`, no division), the
    * step-1 penalty is 0 by definition, and every argmax breaks ties
    * to the lowest cand_id — so the k-step greedy trace is a pure
    * function of the data, mirrored step-for-step by generated oracle
    * CTEs (the qd36/bpe iteration pattern).
    *
    * Scale shape: queries are the capped sample; stage 1 is the
    * margin-pruned exact top-c kernel (one corpus stream, partition
    * winners only); the pairwise-similarity frame is Q×c² SKINNY rows
    * (cap-bounded, never corpus-proportional); each greedy step is one
    * aggregate + one window over those bounded frames with the
    * selection lineage localCheckpointed per step. */
  def qe15MmrTopk(spark: SparkSession, dir: String, k: Int = DefaultTopK,
                  c: Int = DefaultMmrCandidates,
                  lambdaPct: Int = DefaultMmrLambdaPct,
                  maxQ: Int = DefaultMaxQueries): DataFrame =
    mmrTopkFrom(Tables(spark, dir, "embeddings"), k, c, lambdaPct, maxQ)

  /** qe15's trace over ANY (vec_id, embedding) frame — the streaming
    * form (qs33) runs it over the accumulated vector index snapshot. */
  private[graft] def mmrTopkFrom(emb: DataFrame, k: Int = DefaultTopK,
                  c: Int = DefaultMmrCandidates,
                  lambdaPct: Int = DefaultMmrLambdaPct,
                  maxQ: Int = DefaultMaxQueries): DataFrame = {
    val spark = emb.sparkSession
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val crkW = Window.partitionBy("q_id").orderBy(col("psim").desc, col("cand_id"))
    val cands = graft.operators.VectorOps
      .exactTopKCandidatesFrom(emb, sample, c)
      .select(col("q_id"), col("cand_id"), round(col("sim_raw"), 6).as("psim"))
      .withColumn("crk", row_number().over(crkW))
      .filter(col("crk") <= c)
      .select(col("q_id"), col("cand_id"),
        round(col("psim") * 1e6).cast("long").as("rel_us"))
      .transform(graft.plans.ScaleTechniques.iterCheckpoint)
    val cv = cands.join(
      emb.select(col("vec_id").as("cand_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v")),
      "cand_id")
    val pairSim = cv.as("a")
      .join(cv.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.q_id").as("q_id"), col("a.cand_id").as("cand_a"),
        col("b.cand_id").as("cand_b"),
        round(round(cosine(col("a.v"), col("b.v")), 6) * 1e6)
          .cast("long").as("sim_us"))
      .transform(graft.plans.ScaleTechniques.iterCheckpoint)
    // DRIVER-LOCAL greedy (the localCC/bpeTrainLocal size-gate precedent,
    // here safe BY CONSTRUCTION): cands is ≤ maxQ×c rows and pairSim
    // ≤ maxQ×c² — cap-bounded, never corpus-proportional, the same genus
    // as the adjudicated qe8/qe10 LUT collects. The k greedy steps are
    // pure INTEGER arithmetic (λ%·rel_us − (100−λ%)·maxSim_us, argmax
    // ties to the lowest cand_id), so the driver loop reproduces the
    // distributed trace bit-for-bit while replacing k×(anti-join +
    // aggregate + window + localCheckpoint) driver barriers — the
    // dominant cost of the loop at every scale — with two bounded
    // collects and zero per-step jobs.
    val candRows = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val simRows = pairSim.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap // (q, cand_a, cand_b) -> sim_us
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    candRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, qc) =>
      val rel = qc.map(t => t._2 -> t._3).toMap
      var remaining = qc.map(_._2).sorted // ascending cand_id = tie order
      var selSoFar = List.empty[Long]
      var t = 1
      while (t <= k && remaining.nonEmpty) {
        var bestId = -1L
        var bestScore = 0L
        remaining.foreach { cand =>
          // max sim to the selected set over EXISTING pairs (the old
          // inner join + max), 0 only when no selected pair exists (the
          // old left join + coalesce at step 1) — sims can be negative,
          // so the empty case must stay distinct from max-with-0
          val sims = selSoFar.flatMap(s => simRows.get((q, cand, s)))
          val mx = if (sims.isEmpty) 0L else sims.max
          val score = lambdaPct.toLong * rel(cand) -
            (100 - lambdaPct).toLong * mx
          if (bestId < 0 || score > bestScore) { bestScore = score; bestId = cand }
        }
        out += org.apache.spark.sql.Row(q, bestId, t.toLong, rel(bestId), bestScore)
        selSoFar = bestId :: selSoFar
        remaining = remaining.filterNot(_ == bestId)
        t += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cand_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rel_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score_us",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(out.result(): _*), schema)
      .orderBy("q_id", "step")
  }

  def qe13ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("embedding"))
    val cents = localCentroids(emb)
    val norm2 = dot(col("embedding"), col("embedding"))
    // exact isfinite semantics (the oracle's guard): an Inf component
    // yields norm2 = +Inf, which must be dropped like NaN — norm2 is a
    // sum of squares so +Inf is the only infinite value possible
    val live = emb.filter(norm2 =!= 0 && !isnan(norm2) &&
      norm2 =!= lit(Double.PositiveInfinity))
    val w = Window.partitionBy("cell")
      .orderBy(col("csim").desc, col("vec_id"))
    assignments(live, cents)
      .join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        round(cosine(col("v"), col("centroid")), 6).as("csim"))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .withColumn("n_cell",
        count(lit(1)).over(Window.partitionBy("cell")).cast("long"))
      .select(col("vec_id"), col("cell"), col("csim"), col("cell_rank"),
        expr("(n_cell + 4) div 5").as("quota"),
        (col("cell_rank") <= expr("(n_cell + 4) div 5")).as("keep"))
      .orderBy("vec_id")
  }

  /** qe8: product-quantization ADC search (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * compressed-domain member of the ANN family: the corpus is encoded
    * once into m sub-space code ids (here m = 4 sub-spaces of dim/4,
    * codebook = the family's deterministic label-mean quantizer applied
    * per sub-space), and a query ranks candidates by ASYMMETRIC
    * distance — the sum of its precomputed query→codeword sub-distances
    * — without ever touching the original vectors. This is the 100 TB
    * memory-bandwidth play: the scan reads m small ints per vector
    * (codes ≈ dim/16 × compression here; 8-bit codes in production)
    * instead of dim floats, and composes orthogonally with the IVF cell
    * restriction (qs12/qs14) exactly as FAISS's IVFPQ does.
    *
    * Determinism contract (the family conventions, so the WHOLE
    * pipeline is one deterministic SQL expression): sub-distances round
    * to 6dp before the per-sub-space argmin (ties to the lowest code);
    * the ADC accumulates LUT entries as exact INTEGER micro-units
    * (round(d² × 1e6) — integer sums are order-free, so no
    * summation-order guard is needed where dsir needs one), ranking by
    * (adc_us, cand_id).
    *
    * Plan shape: the codebook is m×k×(dim/m) — a local relation, like
    * every quantizer here; encoding is one corpus pass against the
    * BROADCAST codebook (the n×m×k candidate stream partial-aggregates
    * map-side to n×m argmin rows, then to n code rows — the
    * assignments shape, no corpus shuffle); the LUT is Q×m×k —
    * collected and broadcast; the ADC scan is a typed per-partition
    * top-k kernel over (vec_id, codes) rows (the qe7 exact-side shape:
    * per-partition winners only — ~partitions × Q × k rows — reach the
    * final ranking window, never the Q×n matrix). The declarative
    * join+window form of the same ranking is the spec's baseline. */
  def qe8PqTopk(spark: SparkSession, dir: String, k: Int = 5,
                m: Int = 4, maxQ: Int = DefaultMaxQueries): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val subDim = pqSubDim(emb, m)
    val (cb, codes) = pqEncode(emb, m, subDim,
      Some(codebookMemoKey(dir, "pq")))
    adcTopk(querySample(emb, "vec_id % 25 = 0", maxQ), cb, codes, k, m, subDim)
  }

  /** qe9: IVF-PQ composed search — the FAISS IVFPQ shape made real
    * rather than aspirational: the coarse quantizer restricts each
    * query to its `nprobe` best cells (qs12's exact deterministic
    * pipeline — 6dp-rounded centroid ranking, ties to the lowest
    * cell), and within those cells candidates are ranked by PQ
    * ASYMMETRIC distance (qe8's integer-micro LUT), never touching the
    * original vectors. This is the production geometry at 100 TB: the
    * cell restriction prunes the scan to nprobe/k of the corpus
    * (partition-pruned against a cell-partitioned store, as qs14
    * demonstrates for exact in-cell ranking) and the ADC scan reads m
    * small ints per surviving vector.
    *
    * The kernel is qe8's per-partition top-k with a per-query
    * allowed-cell bitmap (Q × n_cells booleans riding the same
    * broadcast); codes carry their cell id via one skinny join. Every
    * stage is the family's deterministic SQL, so the full composition
    * — centroids → assignment → probe ranking → codebooks → codes →
    * LUT → restricted integer ADC rank — is mirrored in DuckDB. */
  def qe9IvfPqTopk(spark: SparkSession, dir: String, k: Int = 5,
                   m: Int = 4, nprobe: Int = 2,
                   maxQ: Int = DefaultMaxQueries): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val subDim = pqSubDim(emb, m)
    val (cb, codes) = pqEncode(emb, m, subDim,
      Some(codebookMemoKey(dir, "pq")))
    val cents = localCentroids(emb)
    val assigned = assignments(emb, cents)
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val queries = sample
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cellRank = Window.partitionBy("q_id")
      .orderBy(col("qsim").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("qsim", round(cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("crk", row_number().over(cellRank))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("cell").cast("int").as("cell"))
    adcTopk(sample, cb, codes.join(assigned, "vec_id"), k, m, subDim,
      probed = Some(probed))
  }

  /** qe10: IVF-PQ with RESIDUAL encoding — the actual FAISS IVFPQ
    * (Jégou et al., TPAMI 2011, §IV-A): instead of PQ-encoding raw
    * vectors (qe9), each vector is encoded as the PQ code of its
    * RESIDUAL x − centroid(cell(x)). Residuals are centered near zero
    * with far smaller spread than raw vectors, so the same m sub-space
    * codebook budget quantizes them much more finely — the property
    * that makes m = 4..8 usable at real recall (spec-asserted:
    * residual-PQ recall ≥ plain-PQ recall at equal m on clustered
    * data). The coarse quantizer here is the Lloyd-REFINED centroid
    * table (`refinedCentroids`), not the raw label means: residual
    * encoding only wins when cells are geometric (see that scaladoc;
    * the unique consumer, so the rest of the IVF family's label-mean
    * oracle chains are untouched). At query time each query builds a LUT per PROBED CELL from
    * its own residual against that cell's centroid; candidates in that
    * cell rank by the integer ADC sum over their stored codes.
    *
    * Determinism contract (family conventions): residual components
    * round to 6dp after the subtract (so the PQ stage sees identical
    * values in both engines); encode argmin rounds d2 to 6dp with ties
    * to the lowest code; LUT entries are integer micro-units, so ADC
    * sums are order-free.
    *
    * The residual CODEBOOK cannot be the family's label-mean quantizer:
    * residuals are zero-centered within their cell by construction, so
    * every label's mean residual collapses toward the origin and the
    * codebook degenerates (measured recall 0.15 — worse than plain PQ).
    * Instead it is the SHARED k=64 rank-quantile + Lloyd trainer
    * (`pqCodebook`) run ON THE RESIDUALS: the equal-mass 1-D quantile
    * seed adapts to the residual distribution by construction (bins
    * narrow where residuals concentrate), and the Lloyd rounds pull it
    * into sub-space geometry — same training, same code budget as
    * plain PQ, so the equal-m comparison isolates exactly the
    * raw-vs-residual encoding question Jégou §IV-A answers.
    *
    * Plan shape: residuals are one broadcast(cents) join + zip_with —
    * no corpus shuffle; the codebook is an m×k×(dim/m) local relation;
    * the corpus index carries (vec_id, cell, m codes) — the qe9
    * geometry; the LUT is O(min(Q, cap) × nprobe × m × k) integer rows
    * (capped by `querySample`, never corpus-proportional); the search
    * is one per-partition top-k kernel pass over the codes index. */
  def qe10IvfPqResidualTopk(spark: SparkSession, dir: String, k: Int = 5,
                            m: Int = 4, nprobe: Int = 2,
                            maxQ: Int = DefaultMaxQueries): DataFrame =
    ivfPqResidualTopk(Tables(spark, dir, "embeddings"), k, m, nprobe, maxQ,
      Some(codebookMemoKey(dir, "rpq")))

  /** (vec_id, cell, embedding): each vector's residual against its
    * assigned cell's centroid, 6dp per component — one broadcast join
    * over the assigned corpus, no shuffle. Shared by the qe10 query
    * path and the model-build entry so the residual the codebook
    * trains on and the residual the encoder sees can never drift. */
  private[graft] def residualFrame(emb: DataFrame, cents: DataFrame): DataFrame =
    assignments(emb, cents)
      .join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        expr("zip_with(transform(v, x -> cast(x as double)), centroid," +
          " (a, b) -> round(a - b, 6))").as("embedding"))

  /** Explicit PQ-family MODEL BUILD — the bench line item for training
    * cost (VERDICT r11 "What's wrong" #1). A production vector store
    * trains its quantizers ONCE per corpus and serves every query from
    * the frozen model; billing the k=64 × 2-round Lloyd training to
    * whichever PQ query happened to run first misprices that query
    * (qe10 read 5.13 s for a ~2 s search). This entry evicts the
    * codebook memos and trains all three models the family serves from
    * — the plain PQ codebook (qe8/qe9/qs18/qs20), the Lloyd-refined
    * coarse centroids, and the residual codebook (qe10) — inside its
    * own timed window; queries then hit the session memo, exactly the
    * production train-once/serve-many split. Returns a per-family
    * summary of the trained local relations (bookkeeping — the cost is
    * the eager training above it). */
  def buildPqModels(spark: SparkSession, dir: String,
                    m: Int = 4): DataFrame = {
    codebooks.clear()
    val emb = Tables(spark, dir, "embeddings")
    val subDim = pqSubDim(emb, m)
    // the plain-PQ codebook and the coarse→residual chain are
    // independent trainings over the same corpus, each landing under its
    // own memo key: overlap them, so the chain's stage tails are
    // back-filled by the plain codebook's jobs
    val (cb, (cents, rcb)) = graft.Overlap.both(spark)(
      "pq: train codebook" -> (() => pqCodebook(emb, m, subDim,
        memoKey = Some(codebookMemoKey(dir, "pq")))),
      "rpq: train centroids and residual codebook" -> { () =>
        val c = refinedCentroids(emb,
          memoKey = Some(codebookMemoKey(dir, "rpq")))
        val r = pqCodebook(
          residualFrame(emb, c).select(col("vec_id"), col("embedding")),
          m, subDim, memoKey = Some(codebookMemoKey(dir, "rpq")))
        (c, r)
      })
    cb.select(lit("pq").as("family"), col("sub"), col("code"))
      .unionByName(rcb.select(lit("rpq").as("family"), col("sub"), col("code")))
      .groupBy(col("family"))
      .agg(countDistinct(col("sub")).as("subspaces"),
        countDistinct(col("code")).as("codes"))
      .unionByName(cents.agg(count(lit(1)).as("subspaces"))
        .select(lit("coarse").as("family"), col("subspaces"),
          lit(0L).as("codes")))
      .orderBy("family")
  }

  private[graft] def ivfPqResidualTopk(emb: DataFrame, k: Int, m: Int,
                                       nprobe: Int, maxQ: Int,
                                       memoKey: Option[SessionMemo.Address[String]] = None)
      : DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val subDim = pqSubDim(emb, m)
    val cents = refinedCentroids(emb, memoKey = memoKey)
    val res = residualFrame(emb, cents)
    // residual codebook: the SAME k=64 rank-quantile + Lloyd trainer as
    // the plain codebook (pqCodebook), seeded from the RESIDUAL
    // distribution — residual first components are the 6dp-rounded
    // post-subtract values, so the rank order is engine-exact exactly
    // like the raw-parquet first components are for qe8. (The r10
    // octant seed's 8 codes gave residuals a 4096-cell budget against
    // plain PQ's 64⁴ — the equal-m recall inversion VERDICT r10 #2;
    // equal training, equal budget restores Jégou §IV-A's advantage.)
    val rcb = pqCodebook(res.select(col("vec_id"), col("embedding")), m,
      subDim, memoKey = memoKey)
    // encode residuals against the frozen residual codebook — the qe8
    // argmin shape (6dp round, ties to the lowest code)
    val codes = pqCodes(res.select(col("vec_id"), col("embedding")), rcb, m, subDim)
      .join(res.select(col("vec_id"), col("cell")), "vec_id")
    // capped query sample, probed cells, and the per-(query, cell)
    // residual LUT
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val queries = sample
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> cast(x as double))").as("q_vec"))
    val cellRank = Window.partitionBy("q_id")
      .orderBy(col("qsim").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("qsim", round(cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("crk", row_number().over(cellRank))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("cell").cast("int").as("cell"),
        expr("zip_with(q_vec, centroid, (a, b) -> round(a - b, 6))").as("qrv"))
    val lutRows = probed
      .select(col("q_id"), col("cell"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qrv"))
      .select(col("q_id"), col("cell"), col("sub"),
        expr(s"slice(qrv, sub * $subDim + 1, $subDim)").as("x"))
      .join(broadcast(rcb), Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"), col("code"),
        round((dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("cw"))
          + dot(col("cw"), col("cw"))) * 1e6).cast("long").as("d2us"))
      .collect()
    val kCodes = rcb.select(max(col("code"))).head.getInt(0) + 1
    val qIds = lutRows.map(_.getLong(0)).distinct.sorted
    val qIdx = qIds.zipWithIndex.toMap
    // (qi, cell) -> m×kCodes integer LUT row; a candidate whose cell has
    // no entry for a query is outside that query's probed cells — the
    // lookup IS the cell restriction
    val lutMap = new java.util.HashMap[Long, Array[Long]]()
    lutRows.foreach { r =>
      val key = qIdx(r.getLong(0)).toLong << 32 | (r.getInt(1).toLong & 0xffffffffL)
      var row = lutMap.get(key)
      if (row == null) { row = new Array[Long](m * kCodes); lutMap.put(key, row) }
      row(r.getInt(2) * kCodes + r.getInt(3)) = r.getLong(4)
    }
    val bc = spark.sparkContext.broadcast((qIds, lutMap))
    val keyed = codes.select(col("vec_id"), col("codes"), col("cell"))
      .as[(Long, Seq[Int], Int)]
    val perPart = keyed.mapPartitions { it =>
      val (qs, lm) = bc.value
      val nq = qs.length
      val heapA = Array.fill(nq)(new Array[Long](k))
      val heapC = Array.fill(nq)(new Array[Long](k))
      val sizes = new Array[Int](nq)
      it.foreach { case (vid, cs, cell) =>
        var qi = 0
        while (qi < nq) {
          if (qs(qi) != vid) {
            val row = lm.get(qi.toLong << 32 | (cell.toLong & 0xffffffffL))
            if (row != null) {
              var adc = 0L
              var s = 0
              while (s < m) { adc += row(s * kCodes + cs(s)); s += 1 }
              val n = sizes(qi)
              val a = heapA(qi); val c = heapC(qi)
              if (n < k || adc < a(n - 1) || (adc == a(n - 1) && vid < c(n - 1))) {
                var p = math.min(n, k - 1)
                while (p > 0 && (a(p - 1) > adc || (a(p - 1) == adc && c(p - 1) > vid))) {
                  a(p) = a(p - 1); c(p) = c(p - 1); p -= 1
                }
                a(p) = adc; c(p) = vid
                if (n < k) sizes(qi) = n + 1
              }
            }
          }
          qi += 1
        }
      }
      (0 until nq).iterator.flatMap { qi =>
        (0 until sizes(qi)).iterator.map(p => (qs(qi), heapC(qi)(p), heapA(qi)(p)))
      }
    }.toDF("q_id", "cand_id", "adc_us")
    perPart
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_us"), col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("adc_us"))
      .orderBy("q_id", "rank")
  }

  /** qe11: scalar-quantized (SQ8) search — the OTHER standard embedding
    * compression next to PQ (FAISS `ScalarQuantizer` QT_8bit): each
    * dimension is affinely mapped to an 8-bit code against the corpus
    * per-dimension [min, max] range, and candidates rank by the
    * quantized symmetric L2 distance Σ_d w_d · (cq_d − cc_d)², where
    * w_d = round(Δ_d² × 1e12) is the dimension's squared step size in
    * integer picounits — so the whole distance is an exact INTEGER sum
    * (≤ 1e7 × 255² × dim ≪ 2^63), order-free across dimensions and
    * partitions. (A naive integer dot of raw codes is NOT a similarity:
    * the affine offset injects a per-candidate Σ-components bias that
    * swamps the signal on isotropic data — measured recall 0.05 vs
    * 0.99 for the weighted-L2 form on the same corpus.) Where PQ (qe8)
    * buys dim/16× compression at codebook-grain error, SQ8 buys
    * exactly 4× (float32 → uint8) with per-dimension grain — the
    * configuration production stores reach for first because encode is
    * a pure map (no codebook training) and decode error is bounded by
    * half a quantization step per dimension.
    *
    * Determinism contract: the per-dimension [mn, mx] are exact min/max
    * aggregates (order-free); the affine ((v − mn) × 255) / (mx − mn)
    * and the weight ((mx − mn)/255)² × 1e12 are the same
    * left-associated IEEE double expressions in both engines; round()
    * is half-up on both (values are non-negative); a degenerate
    * dimension (mx = mn) codes to 0 with weight 0. Ranking is
    * (d2_units ASC, cand_id), self excluded.
    *
    * Plan shape at 100 TB: the range table is 2 × dim scalars from ONE
    * aggregate pass (a posexplode partial-aggregates map-side to
    * dim-bounded rows); encoding is a zero-shuffle map against the
    * range LITERALS baked into the expression; the query side is the
    * capped `querySample` (codes collected and broadcast at
    * O(min(Q, cap) × dim) bytes); the search is the family's
    * per-partition integer top-k kernel over (vec_id, codes) — only
    * partition winners reach the final window, never Q × n. */
  def qe11SqTopk(spark: SparkSession, dir: String, k: Int = DefaultTopK,
                 maxQ: Int = DefaultMaxQueries): DataFrame =
    sqTopk(Tables(spark, dir, "embeddings"), k, maxQ)

  private[graft] def sqTopk(emb: DataFrame, k: Int, maxQ: Int): DataFrame = {
    // encode ONCE against the corpus ranges; query codes are the capped
    // sample's rows of the same code table (quantizing the sample with
    // its own ranges would desync the two sides' grids)
    val (codes, weights) = sqEncode(emb)
    val sampleIds = querySample(emb, "vec_id % 25 = 0", maxQ)
      .select(col("vec_id"))
    sqRank(codes, weights, sampleIds, k)
  }

  /** qe20: IVF-SQ8 — the cell-pruned scalar-quantized search (FAISS
    * "IVF<n>,SQ8"), completing the compression × partitioning matrix:
    * PQ (qe8), IVF-PQ (qe9), residual IVF-PQ (qe10), flat SQ8 (qe11),
    * and now SQ8 restricted to the query's nprobe best cells. The cell
    * stage is qe9's exactly (6dp-rounded centroid cosines, ties to the
    * lowest cell); the in-cell stage is qe11's integer weighted-L2
    * kernel, skipping candidates outside the per-query allowed-cell
    * bitmap — so the scan touches nprobe/n_cells of the codes index
    * while scoring stays bit-identical to flat SQ8 on the surviving
    * candidates. At 100 TB this is the configuration a vector store
    * actually deploys: SQ8's near-exact recall at 1/4 the bytes, paying
    * only the probed fraction of the scan. */
  def qe20IvfSqTopk(spark: SparkSession, dir: String, k: Int = DefaultTopK,
                    nprobe: Int = DefaultNProbe,
                    maxQ: Int = DefaultMaxQueries): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val (codes, weights) = sqEncode(emb)
    val cents = localCentroids(emb)
    val assigned = assignments(emb, cents)
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val queries = sample
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cellRank = Window.partitionBy("q_id")
      .orderBy(col("qsim").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("qsim", round(graft.operators.VectorOps.cosine(
        col("q_vec"), col("centroid")), 6))
      .withColumn("crk", row_number().over(cellRank))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("cell").cast("int").as("cell"))
    sqRank(codes.join(assigned, "vec_id"), weights,
      sample.select("vec_id"), k, probed = Some(probed))
  }

  /** The SQ8 ranking tail shared by qe11 and its streaming form (qs23):
    * query codes are the sample's rows of the SAME code table, the
    * search is the per-partition integer weighted-L2 top-k kernel. */
  private[graft] def sqRank(codes: DataFrame, weights: Array[Long],
                            sampleIds: DataFrame, k: Int,
                            probed: Option[DataFrame] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val qRows = codes.select("vec_id", "codes")
      .join(broadcast(sampleIds), "vec_id")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Int](1).toArray).sortBy(_._1)
    // IVF restriction (qe20): per-query allowed-cell bitmap — tiny
    // (Q × n_cells booleans), the adcTopk shape; `codes` must then
    // carry a `cell` column
    val allowed: Array[Array[Boolean]] = probed match {
      case None => null
      case Some(pr) =>
        val qIdx = qRows.map(_._1).zipWithIndex.toMap
        val rows = pr.collect()
        // Size from the max probed cell but GUARD every kernel lookup by
        // length (below): a candidate assigned to a never-probed cell with
        // id beyond the probed max must be skipped, not crash the executor;
        // an empty probe set yields all-empty bitmaps (every cand skipped).
        val nCells = if (rows.isEmpty) 0 else rows.map(_.getInt(1)).max + 1
        val arr = Array.fill(qRows.length)(new Array[Boolean](nCells))
        rows.foreach(r => arr(qIdx(r.getLong(0)))(r.getInt(1)) = true)
        arr
    }
    val bc = spark.sparkContext.broadcast((qRows, weights, allowed))
    val keyed: org.apache.spark.sql.Dataset[(Long, Seq[Int], Int)] =
      if (probed.isDefined)
        codes.select(col("vec_id"), col("codes"), col("cell"))
          .as[(Long, Seq[Int], Int)]
      else
        codes.select(col("vec_id"), col("codes"))
          .as[(Long, Seq[Int])].map { case (v, cs) => (v, cs, -1) }
    val perPart = keyed.mapPartitions { it =>
      val (qs, w, alw) = bc.value
      val nq = qs.length
      val heapD = Array.fill(nq)(new Array[Long](k)) // d2_units, ascending
      val heapC = Array.fill(nq)(new Array[Long](k)) // cand ids
      val sizes = new Array[Int](nq)
      it.foreach { case (vid, csSeq, cell) =>
        val cs = csSeq.toArray
        var qi = 0
        while (qi < nq) {
          val (qid, qc) = qs(qi)
          if (qid != vid && (alw == null ||
              (cell >= 0 && cell < alw(qi).length && alw(qi)(cell)))) {
            var d2 = 0L
            var d = 0
            while (d < qc.length) {
              val diff = (qc(d) - cs(d)).toLong
              d2 += w(d) * diff * diff
              d += 1
            }
            val n = sizes(qi)
            val a = heapD(qi); val c = heapC(qi)
            if (n < k || d2 < a(n - 1) || (d2 == a(n - 1) && vid < c(n - 1))) {
              var p = math.min(n, k - 1)
              while (p > 0 && (a(p - 1) > d2 || (a(p - 1) == d2 && c(p - 1) > vid))) {
                a(p) = a(p - 1); c(p) = c(p - 1); p -= 1
              }
              a(p) = d2; c(p) = vid
              if (n < k) sizes(qi) = n + 1
            }
          }
          qi += 1
        }
      }
      (0 until nq).iterator.flatMap { qi =>
        (0 until sizes(qi)).iterator.map(p => (qs(qi)._1, heapC(qi)(p), heapD(qi)(p)))
      }
    }.toDF("q_id", "cand_id", "d2_units")
    perPart
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2_units"), col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("d2_units"))
      .orderBy("q_id", "rank")
  }

  /** SQ8 encode: (vec_id, codes) with the corpus per-dimension [mn, mx]
    * baked in as literal arrays — the whole encode is one zero-shuffle
    * projection (the range pass itself partial-aggregates map-side to
    * dim-bounded rows) — plus the per-dimension integer pico-weights
    * w_d = round(Δ_d² × 1e12) the distance kernel multiplies by. */
  private[graft] def sqEncode(emb: DataFrame): (DataFrame, Array[Long]) = {
    val (mn, mx, weights) = sqStats(emb)
    (sqCodesWith(emb, mn, mx), weights)
  }

  /** Frozen SQ8 model: per-dimension (mn, mx) ranges + the integer
    * pico-weights. Trained once over the lake and reused by every
    * encode — the quantizer-freeze contract the streaming form (qs23)
    * relies on, same as the PQ codebook. */
  private[graft] def sqStats(emb: DataFrame): (Array[Double], Array[Double], Array[Long]) = {
    val stats = emb
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .orderBy("dim").collect()
    val mn = stats.map(_.getDouble(1))
    val mx = stats.map(_.getDouble(2))
    val weights = stats.map { r =>
      val (a, b) = (r.getDouble(1), r.getDouble(2))
      if (b > a) {
        val step = (b - a) / 255.0
        BigDecimal(step * step * 1e12)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      } else 0L
    }
    (mn, mx, weights)
  }

  /** Encode (vec_id, embedding) rows against FROZEN ranges — a
    * zero-shuffle projection with the ranges baked in as literals. */
  private[graft] def sqCodesWith(df: DataFrame, mn: Array[Double],
                                 mx: Array[Double]): DataFrame = {
    val dim = mn.length
    val mnLit = array(mn.map(lit): _*)
    val mxLit = array(mx.map(lit): _*)
    df.select(col("vec_id"), col("embedding"),
        mnLit.as("mn"), mxLit.as("mx"))
      .select(col("vec_id"), expr(
        s"""transform(sequence(1, $dim), i ->
           |  CASE WHEN element_at(mx, i) > element_at(mn, i)
           |  THEN cast(round((cast(element_at(embedding, i) as double)
           |         - element_at(mn, i)) * 255.0
           |       / (element_at(mx, i) - element_at(mn, i))) as int)
           |  ELSE 0 END)""".stripMargin).as("codes"))
  }

  /** qe12: truncated-dimension rerank — the Matryoshka/MRL two-stage
    * retrieval shape (Kusupati et al., NeurIPS 2022): stage 1 ranks the
    * WHOLE corpus by cosine over only the first `prefixDims` components
    * (reading prefixDims/dim of the bytes — the memory-bandwidth win;
    * with MRL-trained embeddings the prefix is a faithful coarse space,
    * and at 100 TB it would be stored as its own narrow column), keeps
    * the top `c` candidates per query, and stage 2 reranks just those
    * Q × c survivors by full-dimension cosine. Exactly the production
    * two-stage funnel (coarse ANN → exact rerank) with a dimension
    * truncation as the coarse space.
    *
    * Determinism contract (family conventions): both stages round
    * cosine to 6dp before ranking with ties to the lowest cand_id,
    * self excluded; stage 1 rides the same pruned per-partition kernel
    * as qe7's exact side (margin-lossless under the rounding), fed
    * PRE-SLICED vectors so the kernel itself is untouched; stage 2 is
    * a skinny join over the candidate ids + one bounded window.
    *
    * Plan shape: queries are the capped `querySample` (broadcast at
    * O(min(Q, cap))); stage 1 streams the corpus once with no corpus
    * shuffle (partition winners only — ~partitions × Q × c rows — reach
    * the ranking window); stage 2 touches Q × c rows. */
  def qe12TruncatedRerank(spark: SparkSession, dir: String,
                          k: Int = DefaultTopK,
                          prefixDims: Int = DefaultPrefixDims,
                          c: Int = DefaultRerankCandidates,
                          maxQ: Int = DefaultMaxQueries): DataFrame =
    truncatedRerank(Tables(spark, dir, "embeddings"), k, prefixDims, c, maxQ)

  private[graft] def truncatedRerank(emb: DataFrame, k: Int, prefixDims: Int,
                                     c: Int, maxQ: Int): DataFrame = {
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    def prefix(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        expr(s"slice(embedding, 1, $prefixDims)").as("embedding"))
    // stage 1: prefix-cosine top-c via the margin-pruned exact kernel
    val coarse = graft.operators.VectorOps
      .exactTopKCandidatesFrom(prefix(emb), prefix(sample), c)
      .select(col("q_id"), col("cand_id"), round(col("sim_raw"), 6).as("psim"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("psim").desc, col("cand_id"))))
      .filter(col("crk") <= c)
      .select(col("q_id"), col("cand_id"))
    // stage 2: full-dimension rerank of the Q × c survivors only
    val queries = sample.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    coarse
      .join(emb.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("cv")), "cand_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** qe14: index advisor — the recall benchmark a vector platform runs
    * before choosing a compression scheme (FAISS's index-selection
    * protocol as ONE query): exact ground truth on the capped query
    * sample, then recall@k of every compressed/two-stage method in the
    * family — PQ (qe8), residual IVF-PQ (qe10), SQ8 (qe11), truncated
    * rerank (qe12) — reported side by side. All aggregation is INTEGER
    * (hit counts; recall_micro = hits×1e6 div (Q×k)), so the report
    * carries none of the float-summation parity risk of averaged
    * scores, and the oracle re-runs each method's full SQL mirror
    * verbatim inside one composed query — divergence in ANY member of
    * the family fails this row too.
    *
    * Scale shape: each method is its own already-audited pipeline; the
    * ground truth is the margin-pruned exact kernel; the final join is
    * Q×k rows per method. The driver-side assembly is 4 bounded counts
    * (the bpe merge-table precedent). */
  def qe14IndexAdvisor(spark: SparkSession, dir: String, k: Int = 5,
                       maxQ: Int = DefaultMaxQueries): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val exact = graft.operators.VectorOps
      .exactTopKCandidatesFrom(emb, sample, k)
      .select(col("q_id"), col("cand_id"), round(col("sim_raw"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cand_id"))
      .localCheckpoint() // four consumers — never recompute the kernel
    val nq = exact.select(col("q_id")).distinct().count()
    val methods: Seq[(String, () => DataFrame)] = Seq(
      "ivf_sq8" -> (() => qe20IvfSqTopk(spark, dir, k, maxQ = maxQ)),
      "pq" -> (() => qe8PqTopk(spark, dir, k, maxQ = maxQ)),
      "residual_pq" -> (() => qe10IvfPqResidualTopk(spark, dir, k, maxQ = maxQ)),
      "sq8" -> (() => qe11SqTopk(spark, dir, k, maxQ)),
      "truncated_rerank" -> (() => qe12TruncatedRerank(spark, dir, k, maxQ = maxQ)))
    // the five method evaluations are independent exact counts over the
    // checkpointed ground truth, run concurrently below; the pq/rpq
    // codebooks and refined centroids they all read through the session
    // memo are trained SEQUENTIALLY first (ADVICE r20), so no method
    // thread waits on another's training job.
    val subDim = pqSubDim(emb, 4)
    pqCodebook(emb, 4, subDim, memoKey = Some(codebookMemoKey(dir, "pq")))
    val wcents = refinedCentroids(emb, memoKey = Some(codebookMemoKey(dir, "rpq")))
    pqCodebook(residualFrame(emb, wcents).select(col("vec_id"), col("embedding")),
      4, subDim, memoKey = Some(codebookMemoKey(dir, "rpq")))
    val hits = graft.Overlap.all(spark)(methods.map { case (name, mk) =>
      s"recall: $name" -> (() => mk().select(col("q_id"), col("cand_id"))
        .join(exact, Seq("q_id", "cand_id")).count())
    }: _*)
    val rows = methods.zip(hits).map { case ((name, _), h) =>
      (name, nq, h, h * 1000000L / (nq * k))
    }
    rows.toDF("method", "n_queries", "hits", "recall_micro")
      .orderBy("method")
  }

  /** qe19: graded ranking-quality evaluation of the SQ8 index — nDCG@k
    * and reciprocal rank per query, binary relevance = same-label (the
    * qe3/qe7 label convention). Complements qe7/qe14, which measure
    * set-overlap RECALL vs the exact kernel: nDCG grades WHERE in the
    * ranking the relevant candidates land, MRR how fast the first one
    * appears — the IR-facing quality pair an index rollout watches.
    *
    * Integer-deterministic (the qd36 idiom): position discounts are
    * integer micro-weights w_i = round(1e6·ln2/ln(i+1)) — each a single
    * scalar expression, no float SUM ever crosses engines. Then
    * dcg_micro = Σ rel_i·w_i is an exact integer sum (order-free),
    * idcg_micro is a cumulative-weight table lookup at min(k, n_rel)
    * (n_rel from the label histogram, excluding the query itself), and
    * ndcg/rr are integer floor-divisions — the qe14 recall_micro
    * convention. Per-query output rows, so the oracle hash covers every
    * query, not just an aggregate.
    *
    * Scale shape: rides qe11's capped-sample kernel unchanged; the
    * grading adds two broadcast label joins (k·|sample| rows) and a
    * vocab-bounded label histogram. */
  def qe19NdcgEval(spark: SparkSession, dir: String, k: Int = DefaultTopK,
                   maxQ: Int = DefaultMaxQueries): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val sq = qe11SqTopk(spark, dir, k, maxQ)
    val lab = emb.select(col("vec_id"), col("label"))
    val lc = lab.groupBy("label").agg(count(lit(1)).as("n"))
    val weights = (1 to k).map(i =>
      math.round(1e6 * math.log(2.0) / math.log(i + 1.0)))
    val cumw = weights.scanLeft(0L)(_ + _).tail
    val wCol = element_at(array(weights.map(lit): _*), col("rank").cast("int"))
    val rel = sq
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
        "q_id")
      .join(lab.select(col("vec_id").as("cand_id"),
        col("label").as("cand_label")), "cand_id")
      .withColumn("rel",
        when(col("cand_label") === col("q_label"), 1L).otherwise(0L))
    val perQ = rel.groupBy("q_id", "q_label")
      .agg(sum(col("rel") * wCol).as("dcg_micro"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rel"))
    perQ
      .join(lc.withColumnRenamed("label", "q_label"), "q_label")
      .withColumn("n_rel", col("n") - 1)
      .withColumn("idcg_micro",
        when(col("n_rel") >= 1,
          element_at(array(cumw.map(lit): _*),
            least(lit(k), col("n_rel")).cast("int"))).otherwise(lit(0L)))
      .select(col("q_id"), col("n_rel"), col("dcg_micro"),
        when(col("idcg_micro") > 0,
          expr("(dcg_micro * 1000000) div idcg_micro")).as("ndcg_micro"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_micro"))
      .orderBy("q_id")
  }

  /** dim/m with the divisibility check — one place for both forms. */
  private[graft] def pqSubDim(emb: DataFrame, m: Int): Int = {
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m sub-spaces")
    dim / m
  }

  /** The ADC ranking tail shared by qe8 and its streaming form (qs18):
    * build the Q×m×k integer LUT for the query sample, broadcast it,
    * and run the per-partition top-k kernel over the (vec_id, codes)
    * index. `queries` is the CAPPED sample (`querySample`), so every
    * driver-side structure here — the collected LUT, the allowed-cell
    * bitmap, the broadcast id array — is O(min(Q, cap)), never
    * proportional to the corpus. */
  private[graft] def adcTopk(queries: DataFrame, cb: DataFrame, codes: DataFrame,
                             k: Int, m: Int, subDim: Int,
                             probed: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val lutRows = pqLut(queries, cb, m, subDim).collect()
    val kCodes = cb.select(max(col("code"))).head.getInt(0) + 1
    val qIds = lutRows.map(_.getLong(0)).distinct.sorted
    val qIdx = qIds.zipWithIndex.toMap
    val lut = Array.ofDim[Long](qIds.length, m * kCodes)
    lutRows.foreach { r =>
      lut(qIdx(r.getLong(0)))(r.getInt(1) * kCodes + r.getInt(2)) = r.getLong(3)
    }
    // IVFPQ restriction (qe9): per-query allowed-cell bitmap, tiny
    // (Q × n_cells booleans); `codes` must then carry a `cell` column
    val allowed: Array[Array[Boolean]] = probed match {
      case None => null
      case Some(pr) =>
        val rows = pr.collect()
        val nCells = rows.map(_.getInt(1)).max + 1
        val arr = Array.fill(qIds.length)(new Array[Boolean](nCells))
        rows.foreach { r =>
          // a probed cell for a query outside the LUT sample is a bug
          arr(qIdx(r.getLong(0)))(r.getInt(1)) = true
        }
        arr
    }
    val bc = spark.sparkContext.broadcast((qIds, lut, allowed))
    val keyed: org.apache.spark.sql.Dataset[(Long, Seq[Int], Int)] =
      if (probed.isDefined)
        codes.select(col("vec_id"), col("codes"), col("cell"))
          .as[(Long, Seq[Int], Int)]
      else
        codes.select(col("vec_id"), col("codes"))
          .as[(Long, Seq[Int])].map { case (v, cs) => (v, cs, -1) }
    val perPart = keyed.mapPartitions { it =>
      val (qs, l, alw) = bc.value
      val nq = qs.length
      // per-query top-k by (adc_us, cand_id) lexicographic min — integer
      // keys, so per-partition winners are exactly the global candidates
      val heapA = Array.fill(nq)(new Array[Long](k)) // adc, ascending
      val heapC = Array.fill(nq)(new Array[Long](k)) // cand ids
      val sizes = new Array[Int](nq)
      it.foreach { case (vid, cs, cell) =>
        var qi = 0
        while (qi < nq) {
          if (qs(qi) != vid &&
              (alw == null || (cell < alw(qi).length && alw(qi)(cell)))) {
            val row = l(qi)
            var adc = 0L
            var s = 0
            while (s < m) { adc += row(s * kCodes + cs(s)); s += 1 }
            val n = sizes(qi)
            val a = heapA(qi); val c = heapC(qi)
            if (n < k || adc < a(n - 1) || (adc == a(n - 1) && vid < c(n - 1))) {
              // insertion into the sorted top-k (k is tiny)
              var p = math.min(n, k - 1)
              while (p > 0 && (a(p - 1) > adc || (a(p - 1) == adc && c(p - 1) > vid))) {
                a(p) = a(p - 1); c(p) = c(p - 1); p -= 1
              }
              a(p) = adc; c(p) = vid
              if (n < k) sizes(qi) = n + 1
            }
          }
          qi += 1
        }
      }
      (0 until nq).iterator.flatMap { qi =>
        (0 until sizes(qi)).iterator.map(p => (qs(qi), heapC(qi)(p), heapA(qi)(p)))
      }
    }.toDF("q_id", "cand_id", "adc_us")
    perPart
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_us"), col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("adc_us"))
      .orderBy("q_id", "rank")
  }

  /** Query LUT: Q×m×k rows of integer micro-distances (q_id, sub, code,
    * d2us) — the bounded table the ADC kernel broadcasts. `queries` is
    * the capped (vec_id, embedding) sample. */
  private[similarity] def pqLut(queries: DataFrame, cb: DataFrame,
                                m: Int, subDim: Int): DataFrame =
    subVectors(queries, m, subDim)
      .join(broadcast(cb), Seq("sub"))
      .select(col("vec_id").as("q_id"), col("sub"), col("code"),
        round(subDist2(col("x"), col("cw")) * 1e6).cast("long").as("d2us"))

  /** (vec_id, sub, x) double sub-vector rows of an embeddings frame. */
  private def subVectors(emb: DataFrame, m: Int, subDim: Int): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(embedding, sub * $subDim + 1, $subDim)").as("x"))

  /** Squared L2 distance between double sub-vector and codeword,
    * expressed through the codegen'd `dot` fold — the primitive already
    * proven bit-equal to DuckDB's `list_inner_product` across the whole
    * ANN family, so the oracle mirrors this exactly. */
  private def subDist2(x: org.apache.spark.sql.Column,
                       cw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dot(x, x) - lit(2.0) * dot(x, cw) + dot(cw, cw)

  /** PQ codebook (sub, code, cw) as a local relation plus the encoded
    * corpus (vec_id, codes ordered by sub) — the batch composition of
    * `pqCodebook` + `pqCodes`. */
  private[similarity] def pqEncode(emb: DataFrame, m: Int, subDim: Int,
                                   memoKey: Option[SessionMemo.Address[String]] = None)
      : (DataFrame, DataFrame) = {
    val cb = pqCodebook(emb, m, subDim, memoKey = memoKey)
    (cb, pqCodes(emb, cb, m, subDim))
  }

  /** Lloyd refinement iterations every PQ codebook (plain AND residual)
    * runs after its seed pass, shared with the generated oracle CTEs so
    * a changed depth desyncs nothing. 2 deterministic rounds lift the
    * one-step label-mean quantizer out of its coarse-code collapse (the
    * r9 advisor measured plain-PQ recall 0.004 at sf1) while keeping
    * training cost at seed + 2 assignment/mean passes. */
  val DefaultPqRefineIters = 2

  /** Codes per PQ sub-space. The label seed capped k at the 10 corpus
    * labels — a ~10⁴-cell codebook whose budget, not its training,
    * bound recall (the r10 advisor read pq 0.006 at sf1 even Lloyd-
    * refined). 64 rank-quantile-seeded codes give a 64⁴ ≈ 1.7e7-cell
    * budget at the same m — the knob FAISS turns to 256. Shared with
    * the generated oracle CTEs. */
  val DefaultPqCodes = 64

  /** PQ codebook (sub, code, cw) as a local relation. Seed: every
    * sub-vector ranks by (first component, vec_id) within its
    * sub-space — raw parquet doubles, so the order is ENGINE-EXACT
    * with no rounding decision — and integer binning
    * ((rank−1)·k div n) yields k equal-mass seed cells whose means are
    * the seed codewords (a deterministic quantile quantizer: no RNG,
    * no kmeans++ sampling, same bins in both engines). Then `iters`
    * Lloyd rounds (`refineCodebook`) — 6dp-rounded squared-L2
    * assignment, ties to the lowest code, assigned means, empty codes
    * keep their codeword — pull the 1-D quantile seed into real
    * sub-space geometry. Model state: the streaming form (qs18)
    * trains it once over the lake and FREEZES it, the SemDedupStream
    * quantizer contract. */
  private[graft] def pqCodebook(emb: DataFrame, m: Int, subDim: Int,
                                iters: Int = DefaultPqRefineIters,
                                k: Int = DefaultPqCodes,
                                memoKey: Option[SessionMemo.Address[String]] = None)
      : DataFrame =
    trained(emb, memoKey, s"m=$m|sd=$subDim|it=$iters|k=$k")(
      trainPqCodebook(emb, m, subDim, iters, k))

  private def trainPqCodebook(emb: DataFrame, m: Int, subDim: Int,
                              iters: Int, k: Int): DataFrame = {
    val n = emb.count() // every sub-space has exactly n sub-vectors
    val sv = subVectors(emb, m, subDim)
    val rankW = Window.partitionBy("sub")
      .orderBy(col("x0"), col("vec_id"))
    val seeded = sv
      .withColumn("x0", element_at(col("x"), 1))
      .withColumn("rn", row_number().over(rankW))
      .select(col("sub"),
        expr(s"cast(((rn - 1) * $k) div $n as int)").as("code"), col("x"))
    val cbPlan = seeded
      .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("dim", "v")))
      .groupBy("sub", "code", "dim")
      .agg(avg(col("v")).as("mv"))
      .groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("ps"))
      .select(col("sub"), col("code"), expr("transform(ps, p -> p.mv)").as("cw"))
    val cb0 = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(cbPlan.collect(): _*), cbPlan.schema)
    refineCodebook(sv, cb0, iters)
  }

  /** `iters` deterministic Lloyd rounds over a frozen sub-space
    * codebook: each round assigns every sub-vector to its nearest
    * codeword (6dp-rounded squared L2, ties to the lowest code — the
    * family argmin, so the discrete decision is engine-exact) and
    * recomputes codewords as assigned means; a code that loses every
    * member KEEPS its previous codeword (the standard k-means empty-
    * cluster rule, mirrored by the oracle's LEFT JOIN + coalesce).
    *
    * Scale shape: the assignment is ONE map-side codegen'd argmin pass
    * per sub-vector against the driver-held codebook (`ArgminDist2` —
    * bit-identical to the old explode-k-candidates +
    * `min(struct(round(d2, 6), code))`, which compiled to
    * Sort + SortAggregate + Exchange over an n×m×k candidate stream);
    * the means collect m×k×(dim/m) rows — the codebook stays a
    * driver-held local relation between rounds, exactly like the seed.
    * Cost = iters × one corpus pass; the corpus never shuffles. */
  private[graft] def refineCodebook(sv: DataFrame, cb0: DataFrame,
                                    iters: Int): DataFrame = {
    val spark = cb0.sparkSession
    var cb = cb0
    (1 to iters).foreach { _ =>
      // pack the codebook [sub][rank] (codes ascending per sub, so the
      // kernel's lowest-index tie-break is the lowest-code tie-break)
      val cbRows = cb.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      val perSub = (0 to cbRows.map(_._1).max).map(s =>
        cbRows.filter(_._1 == s).sortBy(_._2))
      val codesAllLit = typedLit(perSub.map(_.map(_._2).toSeq).toSeq)
      val cwsAllLit = typedLit(perSub.map(_.map(_._3.toSeq).toSeq).toSeq)
      val idx = graft.functions.ArgminFunctions.argminDist2(
        col("x"), element_at(cwsAllLit, col("sub") + lit(1)))
      val asg = sv.select(col("sub"),
        element_at(element_at(codesAllLit, col("sub") + lit(1)), idx + lit(1))
          .as("code"),
        col("x"))
      val refreshed = asg
        .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("dim", "xv")))
        .groupBy("sub", "code", "dim")
        .agg(avg(col("xv")).as("mv"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("ps"))
        .select(col("sub"), col("code"), expr("transform(ps, p -> p.mv)").as("cw"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      val merged = cb.collect().map { r =>
        val key = (r.getInt(0), r.getInt(1))
        org.apache.spark.sql.Row(key._1, key._2,
          refreshed.getOrElse(key, r.getSeq[Double](2)))
      }
      cb = spark.createDataFrame(
        java.util.Arrays.asList(merged: _*), cb0.schema)
    }
    cb
  }

  /** Encode (vec_id, embedding) rows against a frozen codebook — the
    * assignments argmin shape (6dp round, ties to the lowest code).
    * All m sub-space argmins run in ONE map-side projection per row
    * (`ArgminDist2` against the driver-held codebook), so the encode is
    * zero-shuffle and zero-blowup — the old form exploded n×m×k
    * candidate rows and paid Sort + SortAggregate + two Exchanges to
    * reduce them back. Bit-identical by the kernel's exactness contract
    * (same 6dp round, same nan-safe compare, ties to the lowest code). */
  private[graft] def pqCodes(emb: DataFrame, cb: DataFrame, m: Int,
                             subDim: Int): DataFrame = {
    val cbRows = cb.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val codeCols = (0 until m).map { s =>
      val cands = cbRows.filter(_._1 == s).sortBy(_._2)
      val codesLit = typedLit(cands.map(_._2).toSeq)
      val cwsLit = typedLit(cands.map(_._3.toSeq).toSeq)
      element_at(codesLit, graft.functions.ArgminFunctions.argminDist2(
        expr(s"slice(cast(embedding as array<double>), ${s * subDim + 1}, $subDim)"),
        cwsLit) + lit(1))
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** qe7 entry: recall@k evaluation of the low-probe IVF search against
    * exact brute-force ground truth — the index-quality report every ANN
    * deployment runs before trusting an approximate index (the FAISS
    * evaluation protocol: exact neighbors on a QUERY SAMPLE, recall =
    * |approx top-k ∩ exact top-k| / k per query).
    *
    * The sample is the knob that keeps this affordable at 100 TB — and
    * it is BOUNDED, not proportional: the `vec_id % 25` predicate alone
    * grows with the corpus, so the sample is truncated to
    * `DefaultMaxQueries` in the deterministic hashed order
    * (`querySample`), capping the broadcast query array and every
    * derived driver structure at O(cap) regardless of corpus size. Exact
    * ground truth costs one corpus stream against the BROADCAST sample
    * — computed by the typed per-partition top-k kernel
    * (`VectorOps.exactTopKCandidates`: hoisted norms, per-partition
    * candidate pruning with a rounding-lossless margin), so the final
    * ranking window sees ~partitions × queries × k rows where the
    * declarative BNLJ + window form shuffled and sorted the FULL
    * queries × corpus similarity matrix (measured 41 → <1 s at sf1) —
    * while the approx side rides the qs12 low-probe pipeline unchanged.
    * Both sides share
    * the family's determinism contract — 6dp-rounded cosine before
    * ranking, ties to the lowest cand_id, self-matches excluded — so
    * recall is a pure function of the data and the full report is
    * SQL-expressible (exact + approx pipelines both mirrored in DuckDB).
    * Queries whose probed cells miss every true neighbor appear with
    * n_hits = 0 (left join), so the frame covers the whole sample. */
  def qe7AnnRecall(spark: SparkSession, dir: String, k: Int = 5,
                   nprobe: Int = 2, maxQ: Int = DefaultMaxQueries): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val sample = querySample(emb, "vec_id % 25 = 0", maxQ)
    val queries = sample
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = graft.operators.VectorOps.exactTopKCandidatesFrom(emb, sample, k)
      .select(col("q_id"), col("cand_id"), round(col("sim_raw"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cand_id"))
    val approx = knnFromQueries(emb, k, nprobe, sample)
      .select(col("q_id"), col("cand_id"))
    val hits = exact.join(approx, Seq("q_id", "cand_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    queries.select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
      .orderBy("q_id")
  }
}
