package graft.text

import graft.SparkTestSession
import graft.SparkTestSession.jobsOf
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The long-form plan the fused `bm25` replaced: explode every token,
    * join the raw query terms, count per (doc, term), then score with
    * `bm25From` over a separate doc-length scan and stats row. */
  private def longFormBm25(docs: DataFrame, queryTerms: Seq[String],
                           topK: Int): DataFrame = {
    import spark.implicits._
    val qPostings = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .join(broadcast(queryTerms.toDF("term")), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val docLen = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("double").as("dl"))
    val stats = docLen.agg(
      count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    Search.bm25From(qPostings, docLen, stats, topK)
  }

  private def assertSameAsLongForm(docs: DataFrame, q: Seq[String],
                                   topK: Int): Array[Row] = {
    val fused = Search.query(Search.index(docs), q, topK)
    val long = longFormBm25(docs, q, topK)
    assert(fused.schema.map(f => (f.name, f.dataType)) ==
      long.schema.map(f => (f.name, f.dataType)), s"schema, query $q")
    val got = fused.collect()
    assert(got.toSeq == long.collect().toSeq, s"query $q, topK $topK")
    got
  }

  /** Hand-made corpus covering the edge cases the bench corpora lack. */
  private lazy val edgeDocs: DataFrame = {
    import spark.implicits._
    Seq[(Option[Long], Option[String])](
      (Some(1L), Some("a b c")),
      (Some(2L), Some("a a d")),
      (Some(3L), Some("b c d e")),
      (Some(4L), Some("c")),
      (Some(5L), Some("a b a b a")),
      (Some(6L), Some("  a   c ")),
      (None, Some("a a a b")),      // counts toward N and avgdl only
      (Some(7L), None),             // counts toward N only
      (Some(8L), Some("a b c")),    // ties doc 1
      (Some(9L), Some(""))
    ).toDF("doc_id", "text")
  }

  test("fused bm25 equals the long-form plan on sf0.001 and on edge cases") {
    val docs = graft.Tables(spark, SparkTestSession.sfDir, "documents")
    val qd8 = Seq("spark", "query", "window")
    assert(assertSameAsLongForm(docs, qd8, 10).length == 10)
    assertSameAsLongForm(docs, qd8, 100000)
    for {
      q <- Seq(Seq("a"), Seq("a", "a"), Seq("b", "a", "b"),
        Seq("a", "b", "c"), Seq("c", "zzz"), Seq("zzz"), Seq.empty[String])
      k <- Seq(1, 3, 50)
    } assertSameAsLongForm(edgeDocs, q, k)
  }

  test("fused bm25 edge semantics: null keys, null text, repeated terms, ties") {
    // N = 10 rows; avgdl over the 9 non-null texts ("" splits to one
    // token); df(a) = 5 (the null-doc_id row is not counted)
    val n = 10.0
    val avgdl = (3 + 3 + 4 + 1 + 5 + 2 + 4 + 3 + 1) / 9.0
    val idfA = math.log((n - 5 + 0.5) / (5 + 0.5) + 1.0)
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def scoreA(tf: Double, dl: Double): Double =
      round6(idfA * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))

    val single = assertSameAsLongForm(edgeDocs, Seq("a"), 50)
    assert(single.map(_.getLong(1)).toSeq == Seq(2L, 5L, 6L, 1L, 8L))
    def scoreOf(rows: Array[Row], id: Long): Double =
      rows.find(_.getLong(1) == id).get.getDouble(2)
    assert(scoreOf(single, 5L) == scoreA(3, 5))
    // a term given twice doubles its tf, but still counts as one match
    val doubled = assertSameAsLongForm(edgeDocs, Seq("a", "a"), 50)
    assert(scoreOf(doubled, 5L) == scoreA(6, 5))
    assert(scoreOf(doubled, 2L) == scoreA(4, 3))
    assert(doubled.forall(_.getLong(3) == 1L))

    // docs 1 and 8 tie on every query; doc_id breaks the tie
    val abc = assertSameAsLongForm(edgeDocs, Seq("a", "b", "c"), 50)
    val ids = abc.map(_.getLong(1)).toSeq
    assert(ids.indexOf(1L) + 1 == ids.indexOf(8L))
    assert(abc(ids.indexOf(1L)).getDouble(2) == abc(ids.indexOf(8L)).getDouble(2))
    assert(abc.forall(r => !r.isNullAt(1)))

    val empty = Search.query(Search.index(edgeDocs), Seq.empty, 10)
    assert(empty.columns.toSeq == Seq("rank", "doc_id", "score", "n_terms_matched"))
    assert(empty.collect().isEmpty)
  }

  test("driver bm25 equals the long-form plan on 200 seeded sf0.001 queries") {
    val docs = graft.Tables(spark, SparkTestSession.sfDir, "documents")
    val vocab = docs.select(explode(split(trim(col("text")), "\\s+")))
      .distinct().collect().map(_.getString(0)).sorted
    val index = Search.index(docs)
    val rnd = new scala.util.Random(20261020L)
    val queries = Seq.fill(200) {
      // 1-4 terms: corpus words, now and then an absent word or a repeat
      val drawn = Seq.fill(1 + rnd.nextInt(4))(
        if (rnd.nextInt(8) == 0) s"absent${rnd.nextInt(3)}" else vocab(rnd.nextInt(vocab.length)))
      if (rnd.nextInt(4) == 0) drawn :+ drawn(rnd.nextInt(drawn.length)) else drawn
    }
    assert(queries.count(q => q.distinct.size < q.size) >= 20)
    assert(queries.count(_.exists(_.startsWith("absent"))) >= 20)
    queries.foreach { q =>
      // doc_id is unique here, so (score, doc_id) orders totally and the
      // deepest long-form ranking holds every shallower one
      val long = longFormBm25(docs, q, 1000).collect().toSeq
      assert(long.nonEmpty || q.forall(_.startsWith("absent")), s"query $q")
      Seq(1, 10, 1000).foreach { k =>
        assert(Search.query(index, q, k).collect().toSeq == long.take(k),
          s"query $q, topK $k")
      }
    }
  }

  test("two rows sharing a doc_id rank as two documents") {
    import spark.implicits._
    val docs = Seq(1L -> "a b", 1L -> "a a", 2L -> "b").toDF("doc_id", "text")
    // N = 3, avgdl = 5/3, df(a) = 2: the two doc-1 rows post separately
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def score(tf: Double, dl: Double): Double = BigDecimal(
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (5 / 3.0))))
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(Search.query(Search.index(docs), Seq("a"), 10).collect().toSeq ==
      Seq(Row(1L, 1L, score(2, 2), 1L), Row(2L, 1L, score(1, 2), 1L)))
  }

  test("bm25 runs no Spark job per warm query") {
    // a private copy of the corpus: no cached plan of another case can
    // stand in for this index's rows
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_jobs").toString
    try {
      graft.Tables(spark, SparkTestSession.sfDir, "documents")
        .write.parquet(s"$dir/documents.parquet")
      def query(): Unit = Search.bm25(spark, dir,
        Seq("spark", "query", "window"), topK = 10).collect()
      // cold: the documents footer read and the index's one collect
      val cold = jobsOf(query())
      assert(cold == 2, s"$cold jobs cold")
      val warm = jobsOf(query())
      assert(warm == 0, s"$warm jobs warm")
    } finally {
      Search.indexes.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("an in-place corpus rewrite rebuilds the index once and persists no rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_memo").toString
    try {
      // the rewrite lands from outside the session (write aside, then
      // swap the directory), so Spark refreshes no cache of the path
      // itself: the memo alone must notice and rebuild
      def write(docs: Seq[(Long, String)]): Unit = {
        val staged = s"$dir/staged-${System.nanoTime}"
        docs.toDF("doc_id", "text").coalesce(1).write.parquet(staged)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$dir/documents.parquet"))
        java.nio.file.Files.move(java.nio.file.Paths.get(staged),
          java.nio.file.Paths.get(s"$dir/documents.parquet"))
      }
      def top(): Seq[Long] = Search.bm25(spark, dir, Seq("a"), topK = 10)
        .collect().map(_.getLong(1)).toSeq
      val sc = spark.sparkContext
      write(Seq(1L -> "a b", 2L -> "a a", 3L -> "b c"))
      val before = sc.getPersistentRDDs.keySet
      def persisted = sc.getPersistentRDDs.keySet -- before
      assert(top() == Seq(2L, 1L))
      assert(persisted.isEmpty, "the build left a persisted RDD")
      val builds = Search.indexes.builds.get
      assert(top() == Seq(2L, 1L))
      assert(Search.indexes.builds.get == builds, "a warm query rebuilt the index")
      write(Seq(4L -> "c a", 5L -> "a a a b", 6L -> "b"))
      assert(top() == Seq(5L, 4L))
      assert(Search.indexes.builds.get == builds + 1)
      assert(persisted.isEmpty, "the rebuild left a persisted RDD")
      assert(top() == Seq(5L, 4L))
      assert(Search.indexes.builds.get == builds + 1)
    } finally {
      Search.indexes.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bm25 ranks corpus docs and matches a hand-computed score") {
    val got = Search.bm25(spark, SparkTestSession.sfDir, Seq("spark"), topK = 5)
      .collect()
    assert(got.length == 5)
    // ranks are 1..5, scores non-increasing
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val scores = got.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // hand-recompute the top doc's score from raw corpus statistics
    val docs = graft.Tables(spark, SparkTestSession.sfDir, "documents")
    val n = docs.count().toDouble
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val withTf = toks.select(col("doc_id"),
      size(filter(col("toks"), t => t === "spark")).cast("double").as("tf"),
      size(col("toks")).cast("double").as("dl"))
    val df = withTf.filter(col("tf") > 0).count().toDouble
    val avgdl = withTf.agg(avg("dl")).collect().head.getDouble(0)
    val topId = got.head.getLong(1)
    val row = withTf.filter(col("doc_id") === topId).collect().head
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    val expected = idf * (row.getDouble(1) * 2.2) /
      (row.getDouble(1) + 1.2 * (0.25 + 0.75 * row.getDouble(2) / avgdl))
    assert(math.abs(got.head.getDouble(2) - expected) < 1e-5,
      s"top score ${got.head.getDouble(2)} vs hand-computed $expected")
  }

  test("hybrid RRF matches an independent JVM recompute of dense + fusion") {
    import scala.math.BigDecimal.RoundingMode
    val q = Seq("spark", "query", "window")
    val got = Search.qd40HybridRrf(spark, SparkTestSession.sfDir).collect()
    assert(got.length == 10)
    assert(got.map(_.getLong(0)).toSeq == (1L to 10L))

    // dense side recomputed from raw text with MessageDigest (not the
    // engine's conv/substring expression chain)
    def bucket(t: String): Int =
      (graft.dedup.SimHash.md5Lower64String("htf:" + t) & (Search.HtfBuckets - 1L)).toInt
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble
    val qtf = q.groupBy(bucket).map { case (b, ts) => b -> ts.size.toDouble }
    val qnorm = math.sqrt(qtf.values.map(v => v * v).sum)
    val docs = graft.Tables(spark, SparkTestSession.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val denseRanked = docs.flatMap { case (id, text) =>
      val tf = text.trim.split("\\s+").groupBy(bucket)
        .map { case (b, ts) => b -> ts.size.toDouble }
      val dot = qtf.map { case (b, qv) => tf.getOrElse(b, 0.0) * qv }.sum
      // inner join on bucket: docs with no query-bucket term never enter
      if (qtf.keys.exists(tf.contains))
        Some(id -> round6(dot / (math.sqrt(tf.values.map(v => v * v).sum) * qnorm)))
      else None
    }.sortBy { case (id, cos) => (-cos, id) }.take(Search.HybridCandK)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap

    // sparse side from the already-spec'd bm25 at candidate depth
    val sparseRanked = Search.bm25(spark, SparkTestSession.sfDir, q, Search.HybridCandK)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap

    val fused = (sparseRanked.keySet ++ denseRanked.keySet).toSeq.map { id =>
      val rrf = round6(
        sparseRanked.get(id).map(r => 1.0 / (Search.RrfK + r)).getOrElse(0.0) +
        denseRanked.get(id).map(r => 1.0 / (Search.RrfK + r)).getOrElse(0.0))
      (id, rrf)
    }.sortBy { case (id, rrf) => (-rrf, id) }.take(10)

    got.zip(fused).foreach { case (row, (id, rrf)) =>
      assert(row.getLong(1) == id, s"doc order: ${row.getLong(1)} vs $id")
      assert(math.abs(row.getDouble(2) - rrf) < 1e-9)
      assert(Option(row.get(3)).map(_.asInstanceOf[Long]) == sparseRanked.get(id))
      assert(Option(row.get(4)).map(_.asInstanceOf[Long]) == denseRanked.get(id))
    }
  }

  test("multi-term queries reward docs matching more terms") {
    val multi = Search.bm25(spark, SparkTestSession.sfDir,
      Seq("spark", "query", "window"), topK = 10).collect()
    assert(multi.nonEmpty)
    // the top result matches at least two of the three terms
    assert(multi.head.getAs[Long]("n_terms_matched") >= 2)
  }
}
