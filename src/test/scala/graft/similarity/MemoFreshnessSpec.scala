package graft.similarity

import java.nio.file.Files

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contents-fingerprinted memo keys: the session memos of derived state
  * (MinHash signatures/pairs, the materialized IVF index) are keyed on
  * `Tables.contentKey` — canonical path PLUS file list/sizes/mtimes — so
  * a corpus rewritten IN PLACE mid-session misses the stale entry and
  * rebuilds. */
class MemoFreshnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("contentKey changes when the corpus is rewritten in place") {
    val dir = Files.createTempDirectory("graft_ckey").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val k1 = Tables.contentKey(dir)
    assert(k1 == Tables.contentKey(dir), "key must be stable when untouched")
    assert(Tables.contentKey(dir + "/") startsWith k1.takeWhile(_ != '#'),
      "path spellings must canonicalize")
    Seq((2L, "b"), (3L, "c")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(Tables.contentKey(dir) != k1, "rewrite must change the key")
  }

  test("contentKey on an unlistable path is unique per call (no stale memo)") {
    // java.io sees nothing on a non-local store (hdfs://, s3a://) or a
    // not-yet-written path; a CONSTANT key there would pin every memo to
    // the first-ever build across in-place rewrites (ADVICE r15). The
    // contract is "unlistable ⇒ unmemoizable": each call keys fresh.
    val ghost = "/nonexistent/graft_ckey_ghost"
    assert(Tables.contentKey(ghost) != Tables.contentKey(ghost),
      "unlistable paths must never produce a reusable fingerprint")
    val empty = Files.createTempDirectory("graft_ckey_empty").toString
    assert(Tables.contentKey(empty) != Tables.contentKey(empty),
      "an empty dir has no contents to fingerprint either")
  }

  test("MinHash signature memo rebuilds after an in-place corpus rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo_mh").toString
    // the rewrite lands from outside the session (write aside, then swap
    // the directory), so Spark refreshes no cache of the path itself:
    // the memo alone must notice and drop the old signatures
    def write(texts: Seq[(Long, String)]): Unit = {
      val staged = s"$dir/staged-${System.nanoTime}"
      texts.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(staged)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/documents.parquet"))
      Files.move(java.nio.file.Paths.get(staged),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
    }

    write(Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about spark partitioning")))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(graft.dedup.MinHashLSH.signatures(spark, dir).count() == 2)
    val firstSigs = sc.getPersistentRDDs.keySet -- before
    assert(firstSigs.nonEmpty, "the signature table is persisted")

    write(Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about spark partitioning"),
      (3L, "a third document that only exists after the rewrite")))
    // path-keyed memos served the stale 2-row signature table here
    assert(graft.dedup.MinHashLSH.signatures(spark, dir).count() == 3)
    assert((firstSigs & sc.getPersistentRDDs.keySet).isEmpty,
      "the superseded signature table must be unpersisted")
  }

  test("semantic-dedup base index is keyed by the base/increment split") {
    // SemDedup.keepListIndexed memoizes the cell-partitioned base store
    // per session; the memo key folds in `basePred` (alongside contents,
    // threshold, s). If the split were NOT part of the key, the second
    // call below — same memoKey tag, same corpus, a WIDER base — would
    // reuse the store built for the narrow base, leaving every row that
    // moved between base and increment in neither side and silently
    // dropping their duplicate pairs (planted here as the 1000+j
    // near-copies of base vectors >= 10, outside the narrow base).
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val dim = 16
    val centersV = IndexedSeq.fill(3)(Array.fill(dim)(rnd.nextGaussian() * 10))
    val base = (0 until 120).map { i =>
      val c = centersV(i % 3)
      (i.toLong, c.map(_ + rnd.nextGaussian() * 0.01).toSeq, i % 3)
    }
    val inc = (0 until 10).map { j =>
      val src = base(10 + j * 3)._2.toArray // dup partners all >= id 10
      ((1000 + j).toLong, src.map(_ * (1 + 1e-9)).toSeq, 0)
    }
    val emb = (base ++ inc).toDF("vec_id", "embedding", "label")
      .localCheckpoint(true)
    val want = SemDedup.keepList(emb, threshold = 0.95, s = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val memoKey = graft.SessionMemo.Address(s"spec|${java.util.UUID.randomUUID}", "v1")
    val narrow = SemDedup.keepListIndexed(spark, emb,
        basePred = col("vec_id") < 10L, threshold = 0.95, s = 4,
        memoKey = memoKey)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(narrow == want)
    val wide = SemDedup.keepListIndexed(spark, emb,
        basePred = col("vec_id") < 1000L, threshold = 0.95, s = 4,
        memoKey = memoKey)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(wide == want,
      "second same-session call with a different base/increment split " +
        "must rebuild the store, not cross-serve the narrow one")
  }

  test("materialized IVF index rebuilds after an in-place corpus rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo_ivf").toString
    val rnd = new scala.util.Random(7)
    def write(n: Int): Unit =
      (0 until n).map(i =>
          (i.toLong, Seq.fill(8)(rnd.nextGaussian()), i % 2))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    write(20)
    val before = Ann.knnIndexed(spark, dir, k = 3, nprobe = 2,
      queryPred = "vec_id < 2").count()
    assert(before > 0)
    write(40) // different corpus at the same path
    val expect = Ann.knn(spark, dir, k = 3, nprobe = 2,
      queryPred = "vec_id < 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val after = Ann.knnIndexed(spark, dir, k = 3, nprobe = 2,
        queryPred = "vec_id < 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a stale index would still rank the 20-vector store's candidates
    assert(after == expect, "indexed search must reflect the rewritten corpus")
  }

  test("rowCount runs one count per session per table and refreshes on rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo_count").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq.fill(4)(i.toDouble), i % 2))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    write(20)
    val misses0 = Tables.counts.builds.get()
    assert(Tables.rowCount(spark, dir, "embeddings") == 20L)
    assert(Tables.counts.builds.get() == misses0 + 1, "first call counts")
    assert(Tables.rowCount(spark, dir, "embeddings") == 20L)
    assert(Tables.counts.builds.get() == misses0 + 1,
      "second call must hit the memo — zero extra count jobs")
    write(37) // in-place rewrite changes the contents fingerprint
    assert(Tables.rowCount(spark, dir, "embeddings") == 37L,
      "rewrite must miss the stale entry and recount")
    assert(Tables.counts.builds.get() == misses0 + 2)
  }

  test("qe2 + qe17 share one memoized embeddings count (band width unchanged)") {
    val dir = graft.SparkTestSession.sfDir
    // prime the memo, then assert the two banded-generator queries add
    // ZERO count jobs — before round 15 each invocation paid a full
    // e.count() scan to size the adaptive band width
    val n = Tables.rowCount(spark, dir, "embeddings")
    assert(n > 0)
    val before = Tables.counts.builds.get()
    val qe2 = graft.operators.VectorOps.qe2NearDupPairs(spark, dir)
    val qe17 = graft.operators.VectorOps.qe17Dbscan(spark, dir)
    assert(qe2.count() > 0 && qe17.count() > 0)
    assert(Tables.counts.builds.get() == before,
      "banded generator must reuse the memoized corpus size")
    // the width the memo feeds is bit-identical to the un-memoized form:
    // subBits is a pure function of the cardinality count() returns
    assert(graft.similarity.SemDedup.subBits(n) ==
      graft.similarity.SemDedup.subBits(
        Tables(spark, dir, "embeddings").count()))
  }
}
