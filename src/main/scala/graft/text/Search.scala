package graft.text

import graft.Tables
import graft.functions.QueryParam
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** BM25 ranked full-text search over the documents corpus — the engine
  * internalization of the search capability the reference delegates to
  * Elasticsearch (SURVEY §0: "query capability is delegated to
  * Elasticsearch (… full-text search)"). Standard Okapi BM25
  * (k1 = 1.2, b = 0.75):
  *
  *   score(d, Q) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
  *   idf(t) = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )
  *
  * Plan shape: index once, then one projection and a top-k per query.
  * `index(docs)` tokenizes every row once and keeps the rows
  * (doc_id, toks, dl) persisted and materialized, with the corpus
  * statistics as driver values: N, avgdl and a term dictionary
  * term → df over the rows with a doc_id. `query` scores the cached rows
  * in one projection, with N, avgdl and each df_i bound as constants
  * (`QueryParam`: no join, no broadcast, and no code compiled per
  * query), keeps only rows matching at least one term, and takes the
  * top k, which the driver numbers into ranks. A warm query is one Spark
  * job, with no footer read, no statistics shuffle and no broadcast;
  * its result is a local frame. `bm25(spark, dir, …)` memoizes the index
  * per session and `documents` contents (`Tables.contentKey`), so an
  * in-place rewrite of the corpus rebuilds it and unpersists the old
  * rows. Scores are rounded to 6 decimals BEFORE ranking so ordering is
  * stable across engines (the per-doc term sum is a ≤|Q| element float
  * sum). Ties are broken by doc_id.
  *
  * Scale note: the term dictionary is driver-resident, like a Lucene
  * term dictionary; its size is the corpus vocabulary, not the corpus.
  * The token rows stay distributed in the executors' block managers.
  *
  * `doc_id` is the key of `documents`: every row is its own document.
  * A row with a null doc_id counts toward N and avgdl but never toward
  * df or the ranking; a row with null text counts toward N only. A
  * query term given m times multiplies its tf by m. An empty query
  * returns an empty frame with the usual four columns.
  */
object Search {
  val K1 = 1.2
  val B = 0.75

  /** A built-once BM25 index over `documents` rows: the token rows
    * (doc_id, toks, dl), persisted, and the corpus statistics as driver
    * values. `avgdl` is 0 when no row has text; no row can match then. */
  final class Bm25Index private[Search] (val rows: DataFrame, val n: Double,
      val avgdl: Double, val df: Map[String, Long])

  /** Tokenize `docs` (doc_id, text) once into a `Bm25Index`: one scan
    * materializes the persisted rows and yields N and avgdl, one
    * aggregate over each doc's distinct terms yields the dictionary. */
  def index(docs: DataFrame): Bm25Index = {
    val rows = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("double").as("dl"))
      .persist()
    val stats = rows.agg(count(lit(1)).cast("double"), avg("dl")).head()
    val df = rows.filter(col("doc_id").isNotNull)
      .select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    new Bm25Index(rows, stats.getDouble(0),
      if (stats.isNullAt(1)) 0.0 else stats.getDouble(1), df)
  }

  /** The top `topK` documents of `index` for `queryTerms`: one filtered
    * projection over the cached rows, then the top k. */
  def query(index: Bm25Index, queryTerms: Seq[String], topK: Int): DataFrame = {
    // one tf column per DISTINCT term; a term given m times multiplies
    // its tf by m, as bm25BatchDeltas' join on the raw term list does,
    // so the batch and streaming forms rank alike
    val terms = queryTerms.distinct.zipWithIndex.map { case (t, i) =>
      (t, queryTerms.count(_ == t), s"tf_$i", index.df.getOrElse(t, 0L).toDouble)
    }
    // the statistics enter as query parameters, not literals: a literal
    // double is compiled into the generated code, so every new query
    // would compile a new class
    val param = (v: Double) => QueryParam(index.rows.sparkSession, v)
    val matched = terms.map { case (_, _, tf, _) => col(tf) > 0 }
    val score = terms.map { case (_, _, tf, df) =>
      when(col(tf) > 0, termScore(idf(param(index.n), param(df)), col(tf),
        col("dl"), param(index.avgdl))).otherwise(0.0)
    }
    // foldLeft, not reduce: an empty query filters on lit(false), which
    // Catalyst prunes to an empty relation with the same four columns
    ranked(index.rows
      .select(col("doc_id") +: col("dl") +: terms.map { case (t, m, tf, _) =>
        (size(filter(col("toks"), _ === t)) * m).as(tf) }: _*)
      .filter(col("doc_id").isNotNull && matched.foldLeft(lit(false))(_ || _))
      .select(col("doc_id"),
        round(score.foldLeft(lit(0.0))(_ + _), 6).as("score"),
        matched.map(_.cast("long")).foldLeft(lit(0L))(_ + _).as("n_terms_matched")),
      "score", topK, "rank")
  }

  /** Built indexes, one per `documents` path and session, keyed by its
    * contents; an evicted index's rows are unpersisted. */
  private[graft] val indexes =
    new graft.SessionMemo[String, Bm25Index](_.rows.unpersist())

  /** The memoized index of `dir`'s `documents`. */
  private[graft] def index(spark: SparkSession, dir: String): Bm25Index = {
    val path = s"$dir/documents.parquet"
    indexes.getOrBuild(spark, Tables.canonical(path), Tables.contentKey(path))(
      index(Tables(spark, dir, "documents")))
  }

  def bm25(spark: SparkSession, dir: String, queryTerms: Seq[String],
           topK: Int = 10): DataFrame =
    query(index(spark, dir), queryTerms, topK)

  /** idf(t) from the corpus size `n` and the term's document frequency. */
  private def idf(n: Column, df: Column): Column =
    log((n - df + 0.5) / (df + 0.5) + 1.0)

  /** One term's BM25 contribution to a document's score. */
  private def termScore(idf: Column, tf: Column, dl: Column,
                        avgdl: Column): Column =
    // 2.2/0.25 as literals, not K1+1.0 etc: compile-time double folds
    // can differ from the parsed literal by 1 ULP and break parity
    idf * (tf * lit(2.2)) / (tf + lit(K1) * (lit(0.25) + lit(B) * dl / avgdl))

  /** The top `k` rows of `scored` by `score` descending, doc_id
    * ascending, numbered 1..k in a leading `rank` column: a local frame
    * in rank order. orderBy().limit() compiles to TakeOrderedAndProject
    * (distributed partial top-k, no global sort) and collecting it is one
    * Spark job; the driver then numbers the ≤k rows. No window over a
    * single unpartitioned group runs, and no adaptive re-planning of a
    * final stage. */
  private def ranked(scored: DataFrame, score: String, k: Int,
                     rank: String): DataFrame = {
    val top = scored.orderBy(col(score).desc, col("doc_id")).limit(k).collect()
    scored.sparkSession.createDataFrame(
      top.toSeq.zipWithIndex.map { case (r, i) => Row.fromSeq((i + 1L) +: r.toSeq) }.asJava,
      StructType(StructField(rank, LongType, nullable = false) +: scored.schema.fields))
  }

  /** The BM25 scoring tail over long-form postings: the streaming form
    * (`streaming.Replay.streamBm25`) folds these inputs from per-batch
    * deltas. `qPostings` is (doc_id, term, tf) already restricted to the
    * query terms; `docLen` is (doc_id, dl) covering at least every
    * posting doc; `stats` is one row (n, avgdl) over the FULL corpus.
    * Same idf, term score and ranking as `bm25`. */
  def bm25From(qPostings: DataFrame, docLen: DataFrame, stats: DataFrame,
               topK: Int): DataFrame = {
    val idfs = qPostings.groupBy("term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", idf(col("n"), col("df")))
    ranked(qPostings
      .join(broadcast(idfs.select("term", "idf", "avgdl")), "term")
      .join(docLen, "doc_id")
      .withColumn("term_score",
        termScore(col("idf"), col("tf"), col("dl"), col("avgdl")))
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 6).as("score"),
        count(lit(1)).as("n_terms_matched")),
      "score", topK, "rank")
  }

  /** Query entry: a fixed three-term query over the corpus. */
  def qd8Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25(spark, dir, Seq("spark", "query", "window"), topK = 10)

  /** RRF fusion constant (Cormack, Clarke & Buettcher, SIGIR 2009: 60
    * "was chosen during a pilot investigation" and has been the
    * de-facto default in Elasticsearch/OpenSearch hybrid search since). */
  val RrfK = 60.0
  /** Hashed-TF feature dimensionality (the hashing-trick bucket count;
    * same fixed-parameter-count rationale as qd26's DSIR B buckets). */
  val HtfBuckets = 64
  /** Per-side candidate depth fused by RRF. */
  val HybridCandK = 20

  /** Hybrid sparse+dense retrieval with Reciprocal Rank Fusion — the
    * modern two-tower search shape (BM25 lexical ranking fused with a
    * vector-similarity ranking), internalizing what the reference's
    * Elasticsearch tier would do with a `rank: {rrf: …}` query. The
    * dense side derives its vectors IN-QUERY with the hashing trick
    * (Weinberger et al., ICML 2009): each term hashes to one of
    * `HtfBuckets` buckets via the engine's cross-engine md5 hash, a
    * document's vector is its bucket-tf profile, and similarity is
    * cosine — so the operator is self-contained over `documents` and
    * exactly mirrorable in SQL (no trained embedding needed; swapping
    * in a real embedding column only changes the dense-side input).
    *
    *   rrf(d) = Σ_sides 1/(RrfK + rank_side(d)),  missing side → 0
    *
    * Determinism: the dense dot/norms are sums of small INTEGER tf
    * products (≤64 buckets, tf ≤ doc length), exact in double in any
    * order; cosine and the 1/(60+rank) fusion terms are then identical
    * double expressions on both engines; both rankings and the fused
    * ranking round to 6 decimals BEFORE ranking with doc_id
    * tie-breaks.
    *
    * Scale shape: the sparse side is a query over the memoized BM25
    * index of `dir`; the dense side is one tokenize pass into skinny
    * per-doc aggregates, and the query's ≤|Q| bucket profile
    * broadcasts into its postings join (never a corpus-side
    * shuffle keyed by the query); each side's candidate cut is
    * orderBy().limit() → TakeOrderedAndProject (distributed partial
    * top-k); the fusion join touches 2×candK rows. At 100 TB the only
    * corpus-proportional work is the two skinny per-doc aggregates. */
  def hybridRrf(spark: SparkSession, dir: String, queryTerms: Seq[String],
                candK: Int = HybridCandK, topK: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the two sides are independent (a BM25 query over the memoized
    // index vs the hashed-TF md5 corpus pass), so each materializes its
    // own tiny frame concurrently instead of back-to-back in the fuse plan
    val Seq(sparse, docTf) = graft.Overlap.all(spark)(
      "hybrid: sparse candidates" -> (() =>
        query(index(spark, dir), queryTerms, candK)
          .select(col("doc_id"), col("rank").as("sparse_rank"))),
      // the md5 bucket hash costs ~1µs/token over every token in the
      // corpus; norm + dot would otherwise re-run that subtree, so pin
      // the AGGREGATED frame (≤ docs × buckets rows — tiny) once
      "hybrid: dense docTf" -> (() => docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .select(col("doc_id"), htfBucket(col("term")).as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).cast("double").as("tf"))
        .localCheckpoint(true)))
    // per-doc l2 norm over ALL buckets (≤64 integer squares — exact)
    val docNorm = docTf.groupBy("doc_id")
      .agg(sqrt(sum(col("tf") * col("tf"))).as("dnorm"))
    rrfFuse(sparse,
      denseRanked(spark, docTf, docNorm, queryTerms, candK), topK)
  }

  /** Hashing-trick bucket of a term column (the qd25/qd26 cross-engine
    * md5 hash, domain-tagged). */
  private[graft] def htfBucket(termCol: Column): Column = pmod(
    graft.operators.TextOps.md5Lower64Decimal(concat(lit("htf:"), termCol)),
    lit(HtfBuckets)).cast("int")

  /** The dense-side ranking tail: cosine of the query's bucket profile
    * against per-doc bucket tfs. `docTf` may carry ALL buckets (batch)
    * or only query buckets (the streaming state) — the broadcast qTf
    * join restricts identically; `docNorm` must cover every doc in
    * `docTf`'s query buckets. */
  private[graft] def denseRanked(spark: SparkSession, docTf: DataFrame,
                                 docNorm: DataFrame, queryTerms: Seq[String],
                                 candK: Int): DataFrame = {
    import spark.implicits._
    val qTf = queryTerms.toDF("term")
      .select(htfBucket(col("term")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("double").as("qtf"))
    val qNorm = qTf.agg(sqrt(sum(col("qtf") * col("qtf"))).as("qnorm"))
    val scored = docTf.join(broadcast(qTf), "bucket")
      .groupBy("doc_id").agg(sum(col("tf") * col("qtf")).as("dot"))
      .join(docNorm, "doc_id")
      .crossJoin(broadcast(qNorm))
      .select(col("doc_id"), round(col("dot") / (col("dnorm") * col("qnorm")), 6).as("cos"))
    ranked(scored, "cos", candK, "dense_rank").select("doc_id", "dense_rank")
  }

  /** Reciprocal-rank fusion of the two candidate rankings. */
  private[graft] def rrfFuse(sparse: DataFrame, dense: DataFrame,
                             topK: Int): DataFrame = {
    val side = (r: Column) =>
      when(r.isNotNull, lit(1.0) / (lit(RrfK) + r)).otherwise(lit(0.0))
    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(side(col("sparse_rank")) + side(col("dense_rank")), 6).as("rrf_score"),
        col("sparse_rank"), col("dense_rank"))
    ranked(fused, "rrf_score", topK, "rank")
  }

  /** Query entry: the qd8 query fused with its hashed-TF dense twin. */
  def qd40HybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(spark, dir, Seq("spark", "query", "window"))

  /** Per-micro-batch BM25 index deltas for the streaming form:
    * (query-term postings, doc lengths of MATCHED docs only, a one-row
    * corpus-stats increment). Docs arrive exactly once, so postings and
    * lengths are append-only facts; the stats row is a sum monoid
    * (n_docs, sum_dl — dl sums are integer-valued doubles, exact in any
    * grouping, so the folded avgdl is bit-equal to the batch `avg`).
    * State stays O(matched docs) + O(1), never corpus-proportional in
    * the doc-length table. Tokenization is byte-identical to `bm25`. */
  def bm25BatchDeltas(batch: DataFrame, queryTerms: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    import batch.sparkSession.implicits._
    val toks = batch.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val pt = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .join(broadcast(queryTerms.toDF("term")), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .select("doc_id", "term", "tf")
    val dl = toks
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      .join(pt.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    val cs = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("double")).as("sum_dl"))
    (pt, dl, cs)
  }

  /** Per-micro-batch dense-side deltas for the streaming hybrid:
    * (query-bucket doc tfs, l2 norms of MATCHED docs). The norm is
    * over ALL of a doc's buckets, computed inside the batch the doc
    * arrives in (docs arrive whole and once), then only matched docs'
    * rows persist — state O(matched docs), like the sparse side. */
  def htfBatchDeltas(batch: DataFrame, queryTerms: Seq[String])
      : (DataFrame, DataFrame) = {
    import batch.sparkSession.implicits._
    // pinned for the same reason as the batch form: the md5-per-token
    // subtree feeds both the restriction and the norm
    val docTf = batch
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .select(col("doc_id"), htfBucket(col("term")).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    val qBuckets = queryTerms.toDF("term")
      .select(htfBucket(col("term")).as("bucket")).distinct()
    val dtQ = docTf.join(broadcast(qBuckets), "bucket")
      .select("doc_id", "bucket", "tf")
    val dn = docTf.groupBy("doc_id")
      .agg(sqrt(sum(col("tf") * col("tf"))).as("dnorm"))
      .join(dtQ.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    (dtQ, dn)
  }
}
