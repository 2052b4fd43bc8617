package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Tables}
import graft.similarity.{Ann, SemDedup}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Durable restart: a stream killed mid-run (in the at-least-once window —
  * AFTER a batch's state writes, BEFORE its checkpoint commit) and
  * restarted over the same `workDir` must reload its dedup state together
  * with the streaming checkpoint, REPLAY the uncommitted batch
  * idempotently, and finish with exactly the batch-recompute answer.
  * Before round 6 this was a documented gap: a restart silently dropped
  * all cross-batch state. */
class RestartSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docsLake(): String = {
    val tmp = Files.createTempDirectory("graft_restart_docs").toString
    Replay.cleanupAtExit(tmp)
    Tables(spark, SparkTestSession.sfDir, "documents")
      .withColumn("bucket", pmod(col("doc_id"), lit(4)))
      .repartition(4, col("bucket")).drop("bucket")
      .write.mode("overwrite").parquet(tmp)
    tmp
  }

  private def work(prefix: String): String = {
    val w = Files.createTempDirectory(prefix).toString
    Replay.cleanupAtExit(w)
    w
  }

  test("streamNearDup killed mid-run resumes from the checkpoint with its state") {
    val lake = docsLake()
    val w = work("graft_restart_neardup")
    // crash after batch 1's state append, before its commit → the restart
    // must replay batch 1 against state that already contains it
    Replay.poisonAfterBatch = 1L
    val died = intercept[Exception] {
      Replay.streamNearDup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
    }
    assert(died.getMessage != null)
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")

    val streamed = Replay.streamNearDup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.dedup.MinHashLSH.nearDups(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamKeepList killed mid-run resumes and matches the batch keep-list") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    val bases = IndexedSeq.fill(24)(Array.fill(dim)(rnd.nextGaussian()))
    val rows =
      bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 3) } ++
      (0 until 6).flatMap(i => (1 to 4).map(c =>
        ((100 + 10 * i + c).toLong, bases(i).toSeq, i % 3)))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cents = Ann.localCentroids(emb)
    val want = SemDedup.keepList(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

    val staged = Files.createTempDirectory("graft_restart_sem_lake").toString
    Replay.cleanupAtExit(staged)
    emb.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(staged)
    val w = work("graft_restart_sem")

    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      SemDedupStream.streamKeepList(spark, staged, cents, s = 4,
        maxFilesPerTrigger = 1, workDir = Some(w))
    }
    // restart: same workDir, same frozen quantizer (model state)
    val got = SemDedupStream.streamKeepList(spark, staged, cents, s = 4,
        maxFilesPerTrigger = 1, workDir = Some(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
  }

  test("replay of a batch already folded by compaction is skipped wholesale") {
    // compactEvery = 2: batch 1's endBatch compacts generations (folding
    // batches 0-1, writing the _upto manifest), THEN the poison fires —
    // so the restart replays a batch whose rows can no longer be excluded
    // from state reads. The alreadyFolded short-circuit must skip the
    // whole batch body (its writes necessarily completed) and the final
    // pair set must still equal the batch recompute.
    val lake = docsLake()
    val w = work("graft_restart_folded")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamNearDup(spark, lake, maxFilesPerTrigger = 1,
        compactEvery = 2, workDir = Some(w))
    }
    val streamed = Replay.streamNearDup(spark, lake, maxFilesPerTrigger = 1,
        compactEvery = 2, workDir = Some(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.dedup.MinHashLSH.nearDups(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamKeepList folded-batch replay is skipped wholesale") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val dim = 16
    val bases = IndexedSeq.fill(24)(Array.fill(dim)(rnd.nextGaussian()))
    val rows =
      bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 3) } ++
      (0 until 6).flatMap(i => (1 to 4).map(c =>
        ((100 + 10 * i + c).toLong, bases(i).toSeq, i % 3)))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cents = Ann.localCentroids(emb)
    val want = SemDedup.keepList(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val staged = Files.createTempDirectory("graft_restart_sem_folded").toString
    Replay.cleanupAtExit(staged)
    emb.select(col("vec_id"), col("embedding"))
      .repartitionByRange(4, col("vec_id"))
      .write.mode("overwrite").parquet(staged)
    val w = work("graft_restart_sem_folded_w")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      SemDedupStream.streamKeepList(spark, staged, cents, s = 4,
        maxFilesPerTrigger = 1, compactEvery = 2, workDir = Some(w))
    }
    val got = SemDedupStream.streamKeepList(spark, staged, cents, s = 4,
        maxFilesPerTrigger = 1, compactEvery = 2, workDir = Some(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
  }

  test("streamCorpusDedup killed mid-run resumes; replayed batch overwrites its own delta") {
    // append-only keyed deltas (shared scheme with streamUpsert): the
    // replayed batch must OVERWRITE its own batch-keyed delta dir —
    // appending a second copy would double-count n_copies, which the
    // exact-count compare below would catch
    val lake = docsLake()
    val w = work("graft_restart_cdedup")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamCorpusDedup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
    }
    val streamed = Replay.streamCorpusDedup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.TextOps.qd1DedupExact(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streamDupSpans killed mid-run resumes and matches the batch span set") {
    // the marks table is re-emission-tolerant (distinct fold), but the
    // occ index is append-only with NO fold — a replayed batch appending
    // its occurrences twice would double-mark within-batch counts; the
    // exact span compare below (n_dup_shingles included) would catch it
    val lake = docsLake()
    val w = work("graft_restart_spans")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamDupSpans(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamDupSpans(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    val batch = graft.operators.TextOps.qd23DupSpans(spark, SparkTestSession.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streamDsir killed mid-run resumes and matches the batch DSIR scores") {
    // both state tables are additive monoids with NO dedup at read —
    // a replayed batch appending its deltas twice would inflate every
    // count (model ct and per-doc n, which also carries cr), shifting
    // n_bigrams and the scores. compactEvery = 2 on a 4-file lake makes
    // the kill/restart run CROSS a compaction: the registered cnt/feat
    // sum folds and the alreadyFolded replay-skip both execute (a fold
    // schema drift or a double-fold would shift the counts below).
    val lake = docsLake()
    val w = work("graft_restart_dsir")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamDsir(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamDsir(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.operators.TextOps
      .qd26DsirWeights(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // ids and counts exactly; scores to 1e-6: the streaming side folds
    // the weighted mean Σ n·logratio / Σ n where the batch side avgs
    // per instance — the same real number, but the two double summation
    // orders can differ in the last bits, and demanding the 6-dp
    // roundings land identically would flake on a .xxxxxx5 boundary
    assert(streamed.map(r => (r._1, r._2)) == batch.map(r => (r._1, r._2)),
      s"streamed=${streamed.size} batch=${batch.size}")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(math.abs(s._3 - b._3) <= 1e-6, s"doc ${s._1}: ${s._3} vs ${b._3}")
    }
    assert(streamed.nonEmpty)
  }

  test("streamDrift killed mid-run resumes and matches the batch drift report") {
    // the (source, bucket) counts are additive monoids with no dedup at
    // read — a replayed batch appending twice would inflate counts and
    // shift every integer nano-nat contribution; exact equality with
    // the batch operator catches it. compactEvery=2 on the 4-file lake
    // crosses a compaction (fold + alreadyFolded both execute).
    val lake = docsLake()
    val w = work("graft_restart_drift")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = graft.operators.TextOps
      .qd30DomainDrift(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamBm25 killed mid-run resumes and matches the batch ranking") {
    // postings/lengths are append-only facts and the (n_docs, sum_dl)
    // stats row is a sum monoid — a double-appended batch would inflate
    // n/avgdl/tf and shift every idf and score; exact equality with qd8
    // across a compaction (compactEvery=2 on the 4-file lake) catches it
    val lake = docsLake()
    val w = work("graft_restart_bm25")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamBm25(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamBm25(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val batch = graft.text.Search.qd8Bm25(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamPca killed mid-run resumes and matches the batch projection") {
    // the moment matrix is a sum monoid with no dedup at read — a
    // double-folded batch doubles ITS outer-product contribution
    // relative to the others, bending the dominant direction and every
    // projection; exact equality with qe18 catches it across the
    // compaction (compactEvery=1 on the two-file lake)
    val emb = graft.Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = java.nio.file.Files.createTempDirectory("graft_pca_killlake").toString
    emb.select(col("vec_id"), col("embedding"), col("label"))
      .repartitionByRange(2, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val w = work("graft_restart_pca")
    Replay.poisonAfterBatch = 0L
    intercept[Exception] {
      PqStream.streamPca(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = PqStream.streamPca(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val batch = graft.similarity.Pca.qe18PcaPower(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamMmr killed mid-run resumes and matches the batch trace") {
    // the vector index has no dedup at read — a double-appended batch
    // duplicates its vectors, corrupting the pair frame and every
    // affected greedy step; exact equality with qe15 catches it
    val emb = graft.Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = java.nio.file.Files.createTempDirectory("graft_mmr_killlake").toString
    Replay.cleanupAtExit(lake)
    emb.select(col("vec_id"), col("embedding"))
      .repartitionByRange(2, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val w = work("graft_restart_mmr")
    Replay.poisonAfterBatch = 0L
    intercept[Exception] {
      PqStream.streamMmr(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = PqStream.streamMmr(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = Ann.qe15MmrTopk(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamEmbDrift killed mid-run resumes and matches the batch report") {
    // the (w, i) component sums are an additive monoid with no dedup —
    // a double-folded batch inflates its windows' sums AND the lifetime
    // mean, shifting every window's displacement; exact equality with
    // qe21 across the compaction catches it
    val emb = graft.Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = java.nio.file.Files.createTempDirectory("graft_embdrift_lake").toString
    emb.select(col("vec_id"), col("embedding"), col("label"))
      .repartitionByRange(2, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val w = work("graft_restart_embdrift")
    Replay.poisonAfterBatch = 0L
    intercept[Exception] {
      PqStream.streamEmbDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
    val streamed = PqStream.streamEmbDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 1)
      .collect().map(key).toSeq
    val batch = graft.similarity.Pca
      .qe21EmbeddingDrift(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("streamHybridRrf killed mid-run resumes and matches the batch fusion") {
    // five state tables fold into two rankings; a double-appended batch
    // would inflate tf/df/norms on BOTH sides and shift the fused order
    val lake = docsLake()
    val w = work("graft_restart_hybrid")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamHybridRrf(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def norm(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))
    val streamed = Replay.streamHybridRrf(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(norm).toSeq
    val batch = graft.text.Search.qd40HybridRrf(spark, SparkTestSession.sfDir)
      .collect().map(norm).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("streamPhash killed mid-run resumes and matches the batch image dedup") {
    // the hash index has no fold — a double-appended batch duplicates
    // (media_id, dhash) rows and breaks the one-row-per-image report;
    // exact equality with qm4 catches it across the compaction
    val lake = docsLake()
    val w = work("graft_restart_phash")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamPhashDedup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamPhashDedup(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    val batch = graft.enrich.Multimodal
      .qm4ImagePhashDedup(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamKneserNey killed mid-run resumes and matches the batch scores") {
    // the bigram type counts are an additive monoid — a double-folded
    // batch inflates its bigrams' counts AND the derived context/
    // continuation/type totals, shifting every document's score; exact
    // equality with qd42 across a compaction catches it
    val lake = docsLake()
    val w = work("graft_restart_kn")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamKneserNey(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = Replay.streamKneserNey(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(key).toSeq
    val batch = graft.operators.TextOps
      .qd42KneserNey(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamAudio killed mid-run resumes and matches the batch features") {
    // features are append-only facts with no fold — a double-appended
    // batch duplicates media rows and breaks the one-row-per-clip
    // shape; exact equality with qm5 across a compaction catches it
    val lake = docsLake()
    val w = work("graft_restart_audio")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamAudioFeatures(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))
    val streamed = Replay.streamAudioFeatures(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w), compactEvery = 2)
      .collect().map(key).toSeq
    val batch = graft.enrich.Multimodal
      .qm5AudioFeatures(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamMp4Metadata killed mid-run resumes and matches the batch walk") {
    // like streamAudio: append-only facts, no fold — a double-appended
    // batch duplicates clip rows; exact equality with qm7 across a
    // compaction catches it
    val lake = docsLake()
    val w = work("graft_restart_mp4")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamMp4Metadata(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7))
    val streamed = Replay.streamMp4Metadata(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w), compactEvery = 2)
      .collect().map(key).toSeq
    val batch = graft.enrich.Multimodal
      .qm7Mp4Metadata(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamMpegAudio killed mid-run resumes and matches the batch walk") {
    val lake = docsLake()
    val w = work("graft_restart_mpeg")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamMpegAudioMetadata(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val streamed = Replay.streamMpegAudioMetadata(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w), compactEvery = 2)
      .collect().map(key).toSeq
    val batch = graft.enrich.Multimodal
      .qm8Mp3AdtsMetadata(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamUnigramSegment killed mid-run resumes and matches the batch DP") {
    // append-only segment facts, no fold — a double-appended batch
    // duplicates doc rows; the frozen vocabulary is re-induced on the
    // resume leg and must be the identical deterministic set, or the
    // resumed batches' dp values diverge from the first leg's
    val lake = docsLake()
    val w = work("graft_restart_uniseg")
    Replay.poisonAfterBatch = 0L
    intercept[Exception] {
      Replay.streamUnigramSegment(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    val streamed = Replay.streamUnigramSegment(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w), compactEvery = 2)
      .collect().map(key).toSeq
    val batch = graft.text.Unigram
      .qd43UnigramSegment(spark, SparkTestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamLeakSplit killed mid-run resumes and matches the batch split map") {
    // the split map derives from the accumulated pair state, so a
    // double-applied batch (duplicated pairs) can't corrupt buckets —
    // but a DROPPED batch loses pairs and scatters a cluster across
    // sides; exact equality with qd35 catches both, across a restart
    val lake = docsLake()
    val w = work("graft_restart_leaksplit")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamLeakSplit(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w))
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamLeakSplit(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3))).toSeq
    val batch = graft.operators.TextOps
      .qd35LeakSafeSplit(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // non-vacuous: the restart run still resolved at least one real
    // multi-member cluster (some doc inherits a rep that isn't itself)
    assert(streamed.exists(t => t._1 != t._2),
      "no clustered doc in the restart run — vacuous")
  }

  test("streamMultimodalCuration killed mid-run resumes and matches qm6") {
    // the composite stream commits BOTH gates' deltas (near-dup state +
    // phash index) in one endBatch; the crash window must replay both
    // idempotently — a half-applied batch would either lose pairs
    // (cluster scattered across splits) or duplicate hash rows (report
    // shape broken). Exact equality with the batch qm6 catches either.
    val lake = docsLake()
    val w = work("graft_restart_mmcur")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamMultimodalCuration(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamMultimodalCuration(spark, lake,
        maxFilesPerTrigger = 1, workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
      .toSeq
    val batch = graft.enrich.Multimodal
      .qm6MultimodalCuration(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
      .toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // non-vacuous across BOTH gate families after the restart
    assert(streamed.exists(_._5), "no near-dup drop — vacuous")
    assert(streamed.exists(_._6), "no image-dup drop — vacuous")
  }

  test("streamSq killed mid-run resumes and matches the batch SQ8 ranking") {
    // same no-fold codes-index contract as streamPq: a double-appended
    // batch duplicates candidates and corrupts the weighted-L2 ranking;
    // exact equality with qe11 catches it. The frozen-ranges model must
    // also survive the restart (it is re-derived from the same lake).
    val emb = Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = Files.createTempDirectory("graft_restart_sq_lake").toString
    Replay.cleanupAtExit(lake)
    emb.select(col("vec_id"), col("embedding"))
      .repartitionByRange(4, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val (mn, mx, weights) = graft.similarity.Ann.sqStats(emb)
    val w = work("graft_restart_sq")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      PqStream.streamSqTopk(spark, lake, mn, mx, weights,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = PqStream.streamSqTopk(spark, lake, mn, mx, weights,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.similarity.Ann.qe11SqTopk(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamPq killed mid-run resumes and matches the batch PQ ranking") {
    // the codes index has NO fold and no dedup at read — a replayed
    // batch appending its (vec_id, codes) rows twice would duplicate
    // candidates and corrupt every ADC ranking those vectors appear in;
    // exact equality with the batch operator catches it. compactEvery=2
    // makes the kill/restart run cross a compaction (4-file lake).
    val emb = Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = Files.createTempDirectory("graft_restart_pq_lake").toString
    Replay.cleanupAtExit(lake)
    emb.select(col("vec_id"), col("embedding"))
      .repartitionByRange(4, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val m = 4
    val subDim = graft.similarity.Ann.pqSubDim(emb, m)
    val cb = graft.similarity.Ann.pqCodebook(emb, m, subDim)
    val w = work("graft_restart_pq")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      PqStream.streamPqTopk(spark, lake, cb, m, subDim,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = PqStream.streamPqTopk(spark, lake, cb, m, subDim,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.similarity.Ann.qe8PqTopk(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamWindowedDrift killed mid-run resumes and matches the batch report") {
    // same monoid-state contract as streamDrift, with the window id
    // derived from doc_id — so a replayed batch lands its deltas on
    // exactly the same (source, w, bucket) keys
    val lake = docsLake()
    val w = work("graft_restart_wdrift")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamWindowedDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamWindowedDrift(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val batch = graft.operators.TextOps
      .qd31WindowedDrift(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamCms killed mid-run resumes and matches the batch report") {
    // both state tables (the D×W counter grid and the exact term
    // counts) are sum monoids keyed independently of batch boundaries,
    // so a replayed batch's delta lands on the same keys — exact
    // equality with qd33 catches a double-fold
    val lake = docsLake()
    val w = work("graft_restart_cms")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamCms(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamCms(spark, lake, maxFilesPerTrigger = 1,
        workDir = Some(w), compactEvery = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = graft.operators.TextOps
      .qd33CmsHeavyHitters(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamIvfPq killed mid-run resumes, matches qe9, and prunes the index scan") {
    // kill in the at-least-once window: the replayed batch must land on
    // its own (b, cell) partitions via dynamic overwrite — a double
    // append duplicates candidates and corrupts the ADC ranking, which
    // exact equality with the batch qe9 operator catches
    val emb = Tables(spark, SparkTestSession.sfDir, "embeddings")
    val lake = Files.createTempDirectory("graft_restart_ivfpq_lake").toString
    Replay.cleanupAtExit(lake)
    emb.select(col("vec_id"), col("embedding"))
      .repartitionByRange(4, col("vec_id"))
      .write.mode("overwrite").parquet(lake)
    val m = 4
    val subDim = graft.similarity.Ann.pqSubDim(emb, m)
    val cb = graft.similarity.Ann.pqCodebook(emb, m, subDim)
    val cents = graft.similarity.Ann.localCentroids(emb)
    val w = work("graft_restart_ivfpq")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      PqStream.streamIvfPqTopk(spark, lake, cb, cents, m, subDim,
        workDir = Some(w))
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val frame = PqStream.streamIvfPqTopk(spark, lake, cb, cents, m, subDim,
      workDir = Some(w))
    val streamed = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.similarity.Ann.qe9IvfPqTopk(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // the snapshot search must PRUNE the cell-partitioned index scan to
    // the probed cells — the physical proof the store layout pays off.
    // The full %25 sample's probed-cell union covers all 10 cells on
    // this isotropic corpus, so pruning is asserted on a single-query
    // snapshot (stream already ingested; AvailableNow over the same
    // checkpoint adds no batches): 1 query × nprobe=2 → 2 cells of 10.
    val frame1 = PqStream.streamIvfPqTopk(spark, lake, cb, cents, m, subDim,
      workDir = Some(w), pred = "vec_id = 0")
    frame1.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      }
      p +: inner
    }
    // the pruning proof holds under the production AQE-on config
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "index pruning must be proven with AQE on (the production config)")
    val scans = flatten(frame1.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.partitionSchema.fieldNames.contains("cell") => s
    }
    assert(scans.nonEmpty, s"no cell-partitioned index scan:\n${frame1.queryExecution.executedPlan}")
    val pruned = scans.head
    assert(pruned.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"no cell partition filter on the index scan: ${pruned.partitionFilters}")
    // nprobe=2 of 10 cells over a capped sample: the scan must touch a
    // strict subset of the store's (b, cell) leaf partitions
    val readParts = pruned.selectedPartitions.partitionCount
    val allParts = spark.read.parquet(s"$w/codes")
      .select("b", "cell").distinct().count()
    assert(readParts > 0 && readParts < allParts,
      s"scan read $readParts of $allParts leaf partitions — no pruning")
  }

  test("streamUpsert killed mid-run resumes and matches the batch latest-wins") {
    // the reference's core K2 semantics (every S3 PUT re-fires the
    // upsert): kill in the at-least-once window, restart over the same
    // workDir, and the folded latest-wins state must equal the batch
    // recompute — a replay that double-applied or dropped a batch would
    // surface as a wrong winner or a missing user
    val lake = Files.createTempDirectory("graft_restart_events").toString
    Replay.cleanupAtExit(lake)
    Tables(spark, SparkTestSession.sfDir, "events")
      .repartitionByRange(3, col("event_id"))
      .write.mode("overwrite").parquet(lake)
    val w = work("graft_restart_upsert")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamUpsert(spark, lake, workDir = Some(w),
        pathGlobFilter = "*.parquet", maxFilesPerTrigger = Some(1))
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = Replay.streamUpsert(spark, lake, workDir = Some(w),
        pathGlobFilter = "*.parquet", maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val batch = graft.operators.Events.q8LatestPerKey(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamUpsert folded-batch replay is skipped wholesale") {
    // compactEvery = 2: batch 1's endBatch folds batches 0-1 into a
    // compacted generation (latest-wins applied), THEN the poison fires —
    // the restart must skip the folded batch and still finish equal
    val lake = Files.createTempDirectory("graft_restart_events_folded").toString
    Replay.cleanupAtExit(lake)
    Tables(spark, SparkTestSession.sfDir, "events")
      .repartitionByRange(3, col("event_id"))
      .write.mode("overwrite").parquet(lake)
    val w = work("graft_restart_upsert_folded")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      Replay.streamUpsert(spark, lake, workDir = Some(w),
        pathGlobFilter = "*.parquet", maxFilesPerTrigger = Some(1),
        compactEvery = 2)
    }
    val streamed = Replay.streamUpsert(spark, lake, workDir = Some(w),
        pathGlobFilter = "*.parquet", maxFilesPerTrigger = Some(1),
        compactEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val batch = graft.operators.Events.q8LatestPerKey(spark, SparkTestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(streamed == batch)
  }

  test("AppendOnlyState reconstructs its clock from the layout and replays idempotently") {
    import spark.implicits._
    val w = work("graft_restart_aos")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s1 = new AppendOnlyState(w, Seq(("t", sch), ("never", sch)), compactEvery = 2)
    def df(ids: Long*) = ids.toDF("id")

    s1.endBatch(spark, 0L, "t" -> df(1, 2))
    // replay of batch 0 (at-least-once) overwrites, never double-appends
    s1.endBatch(spark, 0L, "t" -> df(1, 2))
    assert(s1.read(spark, "t").count() == 2)
    // a registered table no batch appended reads empty and must not break
    // compaction (triggered by the second DISTINCT batch below)
    assert(s1.read(spark, "never").count() == 0)
    s1.endBatch(spark, 1L, "t" -> df(3))
    assert(s1.read(spark, "t").count() == 3) // compacted generation
    assert(s1.read(spark, "never").count() == 0)

    // a fresh instance over the same dir resumes: data visible, replay of
    // an already-COMPACTED batch is a no-op, new batches append on top
    val s2 = new AppendOnlyState(w, Seq(("t", sch), ("never", sch)), compactEvery = 2)
    assert(s2.nonEmpty)
    assert(s2.read(spark, "t").count() == 3)
    s2.endBatch(spark, 1L, "t" -> df(3)) // folded already → no-op
    assert(s2.read(spark, "t").count() == 3)
    s2.endBatch(spark, 2L, "t" -> df(4))
    assert(s2.read(spark, "t").count() == 4)
  }

  test("AppendOnlyState runs through an explicit file:// Hadoop FS URI") {
    import spark.implicits._
    // same clock/replay/compaction behavior when the work dir is a
    // scheme-qualified URI resolved through the Hadoop FileSystem API —
    // the layout works off a plain local path, so a cluster path (hdfs://,
    // s3a://) differs only in the resolved FileSystem instance
    val w = "file://" + work("graft_restart_fsuri")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s1 = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 2)
    s1.endBatch(spark, 0L, "t" -> Seq(1L, 2L).toDF("id"))
    s1.endBatch(spark, 1L, "t" -> Seq(3L).toDF("id")) // compacts
    assert(s1.read(spark, "t").count() == 3)
    val s2 = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 2)
    assert(s2.nonEmpty)
    assert(s2.read(spark, "t").count() == 3)
    s2.endBatch(spark, 1L, "t" -> Seq(3L).toDF("id")) // folded → no-op
    s2.endBatch(spark, 2L, "t" -> Seq(4L).toDF("id"))
    assert(s2.read(spark, "t").count() == 4)
  }

  test("AppendOnlyState applies a registered fold at compaction, composably") {
    import spark.implicits._
    val w = work("graft_restart_fold")
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    def fold(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(min("v").as("v"))
    val s = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 2,
      folds = Map("t" -> (fold _)))
    def df(rows: (Long, Long)*) = rows.toDF("k", "v")
    s.endBatch(spark, 0L, "t" -> df((1L, 10L), (2L, 20L)))
    s.endBatch(spark, 1L, "t" -> df((1L, 5L), (3L, 30L))) // triggers compaction
    // the compacted generation holds the FOLDED rows — one per key
    assert(s.read(spark, "t").count() == 3)
    // later appends land beside the folded generation; a read-time fold
    // over the union gives the same answer as folding everything at once
    s.endBatch(spark, 2L, "t" -> df((1L, 7L), (2L, 2L)))
    val got = fold(s.read(spark, "t")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 5L), (2L, 2L), (3L, 30L)))
  }

  test("AppendOnlyState endBatchWork: side work and lazy appends land before compaction") {
    import spark.implicits._
    val w = work("graft_restart_side")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 2)
    // a lazy append's thunk runs on the pool; the side write consumes a
    // listing-snapshotted read and MUST complete before endBatchWork
    // returns (compaction on batch 1 deletes g0, which the snapshot
    // points at — awaiting the side future is what makes that safe)
    val sideOut = work("graft_restart_side_out")
    s.endBatchWork(spark, 0L, Nil, "t" -> (() => Seq(1L, 2L).toDF("id")))
    val snap = s.read(spark, "t", excludeBatch = Some(1L))
    val emit = "test: side emit" -> (() =>
      snap.write.mode("overwrite").parquet(s"$sideOut/b1"))
    s.endBatchWork(spark, 1L, Seq(emit),
      "t" -> (() => Seq(3L).toDF("id"))) // triggers compaction of g0
    assert(s.read(spark, "t").count() == 3)
    // the side write saw exactly the pre-batch snapshot, fully written
    assert(spark.read.parquet(s"$sideOut/b1").as[Long].collect().toSet
      == Set(1L, 2L))
    // replay of the folded batch skips appends AND side work (callers
    // guard with alreadyFolded; endBatchWork's own guard matches)
    s.endBatchWork(spark, 1L, Seq("test: must not run" -> (() =>
      throw new IllegalStateException("side work ran on folded replay"))),
      "t" -> (() => Seq(99L).toDF("id")))
    assert(s.read(spark, "t").count() == 3)
  }

  test("AppendOnlyState endBatchWork waits for every write before rethrowing a failure") {
    val w = work("graft_restart_failfast")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 100)
    // the append throws at once while a sibling side write is still
    // running; the failure may only surface after that sibling finished
    val marker = new java.io.File(work("graft_restart_failfast_out"), "marker")
    val slow = "test: slow side" -> (() => {
      Thread.sleep(1500)
      Files.write(marker.toPath, Array[Byte](1)); ()
    })
    val died = intercept[IllegalStateException] {
      s.endBatchWork(spark, 0L, Seq(slow),
        "t" -> (() => throw new IllegalStateException("append failed")))
    }
    assert(died.getMessage == "append failed")
    assert(marker.exists, "endBatchWork rethrew while a sibling write was still running")
  }

  test("AppendOnlyState endBatchWork: a failed append cancels a long sibling append") {
    val w = work("graft_restart_cancel")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("slow", sch), ("bad", sch)), compactEvery = 100)
    // four single-row tasks that each write until their job is cancelled
    val untilKilled = udf { (id: Long) => SparkTestSession.sleepUntilKilled(); id }
    val slow = spark.range(0, 4, 1, 4).select(untilKilled(col("id")).as("id"))
    val slowDir = Paths.get(w, "g0", "slow", "b0")
    def listing(): Seq[String] = {
      val walk = Files.walk(Paths.get(w))
      try walk.iterator.asScala.map(_.toString).toList.sorted finally walk.close()
    }
    val group = s"graft-restart-cancel-${java.util.UUID.randomUUID}"
    val t0 = System.nanoTime
    spark.sparkContext.setJobGroup(group, group)
    val died = try intercept[IllegalStateException] {
      s.endBatchWork(spark, 0L, Nil,
        "slow" -> (() => slow),
        // fail once every slow task is running
        "bad" -> (() => {
          SparkTestSession.awaitRunning(group, 4)
          throw new IllegalStateException("append failed")
        }))
    } finally spark.sparkContext.clearJobGroup()
    val after = listing()
    assert(died.getMessage == "append failed")
    assert((System.nanoTime - t0) / 1e9 < 30, "the slow append ran to its end")
    assert(!Files.exists(slowDir.resolve("_SUCCESS")))
    Thread.sleep(2000)
    assert(listing() == after, "a write landed after endBatchWork threw")
  }

  test("AppendOnlyState read() snapshots the file listing at call time") {
    import spark.implicits._
    val w = work("graft_restart_snap")
    val sch = StructType(Seq(StructField("id", LongType)))
    val s = new AppendOnlyState(w, Seq(("t", sch)), compactEvery = 100)
    s.endBatch(spark, 0L, "t" -> Seq(1L, 2L).toDF("id"))
    val before = s.read(spark, "t") // NOT consumed yet
    s.endBatch(spark, 1L, "t" -> Seq(3L).toDF("id"))
    // a late consumer of the pre-append read must NOT see batch 1's rows
    // (before round 6 a lazy parquet read re-listed the dir and silently
    // double-counted the current batch)
    assert(before.count() == 2)
    assert(s.read(spark, "t").count() == 3)
  }

  test("streamSnapshot killed mid-run resumes; replayed batch overwrites its own delta") {
    // the latest-wins fold would hide a doubled delta in the result, so
    // the state layout is checked too: one part file per batch dir
    val posts = "src/test/resources/fixtures/posts/*"
    val w = work("graft_restart_posts")
    Replay.poisonAfterBatch = 1L
    intercept[Exception] {
      graft.ingest.PostIngest.streamSnapshot(spark, posts, 2, Some(w))
    }
    assert(Replay.poisonAfterBatch == -1L, "poison should have fired")
    val streamed = graft.ingest.PostIngest.streamSnapshot(spark, posts, 2, Some(w))
      .orderBy("id").collect().toSeq
    val batch = graft.ingest.PostIngest.snapshot(spark, posts)
      .orderBy("id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    val deltas = Files.list(Paths.get(w, "g0", "latest")).iterator.asScala.toList
    assert(deltas.map(_.getFileName.toString).sorted == Seq("b0", "b1", "b2", "b3"))
    deltas.foreach { d =>
      val parts = Files.list(d).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts == 1, s"$d holds $parts part files")
    }
  }
}
