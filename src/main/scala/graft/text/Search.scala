package graft.text

import graft.Tables
import org.apache.spark.sql.{classic, Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
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
  * Plan shape: index once on the driver, then score each query there.
  * `index(docs)` tokenizes every row in one Spark collect (Spark's
  * `split(trim(text))`, so tokens are Spark's) and keeps, by row
  * ordinal, each row's doc_id and length, plus N, avgdl and the
  * postings term → (row ordinals, tf) over the rows with a doc_id.
  * `query` scores term-at-a-time over the query terms' postings only
  * and takes the top k: a warm query runs no Spark job, and its result
  * is a local frame. `bm25(spark, dir, …)` memoizes the index per
  * session and `documents` contents (`Tables.contentKey`), so an
  * in-place rewrite of the corpus rebuilds it. The arithmetic is the
  * Spark plan's (`bm25From`, the long-form reference): `StrictMath.log`
  * as Spark's `log`, the same literals, each document's sum folded from
  * 0.0 in distinct-query-term order, and Spark's HALF_UP `round(·, 6)`
  * BEFORE ranking, so ordering is stable across engines. Ties are
  * broken by doc_id, then by row ordinal.
  *
  * Scale note: the index is driver state sized by the corpus, like
  * `PostIndex`. `SizeEstimator` measures 0.59 MB for the 3,000-caption
  * `stream_serve` corpus (seed 11) and 1.10 MB for the 5,000 rows of
  * sf0.1 `documents`.
  *
  * `doc_id` is the key of `documents`, but every row is its own
  * document: two rows sharing a doc_id rank separately. A row with a
  * null doc_id counts toward N and avgdl but never toward df or the
  * ranking; a row with null text counts toward N only. A query term
  * given m times multiplies its tf by m. An empty query returns an
  * empty frame with the usual four columns.
  */
object Search {
  val K1 = 1.2
  val B = 0.75

  /** A built-once BM25 index over `documents` rows, held on the driver.
    * Row ordinal i is the i-th row in scan order: `docIds(i)` is its
    * doc_id as a Spark internal value and `dl(i)` its token count (-1
    * for null text). `postings` maps a term to the ordinals of the rows
    * with a doc_id that hold it, ascending, and its tf in each. `avgdl`
    * is 0 when no row has text; no row can match then. */
  final class Bm25Index private[Search] (private[Search] val spark: SparkSession,
      private[Search] val docId: StructField, private[Search] val docIds: Array[Any],
      private[Search] val dl: Array[Int], val n: Double, val avgdl: Double,
      private[Search] val postings: Map[UTF8String, (Array[Int], Array[Int])])

  /** Tokenize `docs` (doc_id, text) into a `Bm25Index`: one Spark job
    * collects each row's doc_id and tokens, the driver counts the rest. */
  def index(docs: DataFrame): Bm25Index = {
    val qe = docs.select(col("doc_id"), split(trim(col("text")), "\\s+")).queryExecution
    val all = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    val docId = qe.analyzed.schema.head
    val docIds = all.map(r => InternalRow.copyValue(r.get(0, docId.dataType)))
    val dl = all.map(r => if (r.isNullAt(1)) -1 else r.getArray(1).numElements())
    val postings = mutable.HashMap.empty[UTF8String,
      (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofInt)]
    for (i <- all.indices if docIds(i) != null && dl(i) >= 0) {
      val toks = all(i).getArray(1)
      val tf = mutable.HashMap.empty[UTF8String, Int]
      (0 until toks.numElements()).foreach { j =>
        val t = toks.getUTF8String(j)
        tf(t) = tf.getOrElse(t, 0) + 1
      }
      tf.foreach { case (t, c) =>
        val (rows, tfs) = postings.getOrElseUpdate(t.clone(),
          (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt))
        rows += i
        tfs += c
      }
    }
    val texts = dl.filter(_ >= 0)
    new Bm25Index(docs.sparkSession, docId, docIds, dl, all.length.toDouble,
      if (texts.isEmpty) 0.0 else texts.map(_.toLong).sum.toDouble / texts.length,
      postings.iterator.map { case (t, (rows, tfs)) => t -> (rows.result(), tfs.result()) }.toMap)
  }

  /** The top `topK` documents of `index` for `queryTerms`: the query
    * terms' postings scored term-at-a-time on the driver, then the top
    * k, numbered from 1 in a leading `rank` column. */
  def query(index: Bm25Index, queryTerms: Seq[String], topK: Int): DataFrame = {
    import index._
    val score = new Array[Double](dl.length)
    val matched = new Array[Long](dl.length)
    val hits = mutable.ArrayBuffer.empty[Int]
    // one pass per DISTINCT term; a term given m times multiplies its
    // tf by m, as bm25BatchDeltas' join on the raw term list does, so
    // the batch and streaming forms rank alike
    for (t <- queryTerms.distinct; (rows, tfs) <- postings.get(UTF8String.fromString(t))) {
      val m = queryTerms.count(_ == t)
      val df = rows.length.toDouble
      val idf = StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0)
      rows.indices.foreach { j =>
        val i = rows(j)
        val tf = (tfs(j) * m).toDouble
        if (matched(i) == 0) hits += i
        matched(i) += 1
        // termScore's arithmetic, with its literals
        score(i) += idf * (tf * 2.2) / (tf + K1 * (0.25 + B * dl(i) / avgdl))
      }
    }
    hits.foreach(i => score(i) = java.math.BigDecimal.valueOf(score(i))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    val byDocId = TypeUtils.getInterpretedOrdering(docId.dataType)
    val top = hits.toArray.sortWith { (a, b) =>
      if (score(a) != score(b)) score(a) > score(b)
      else {
        val c = byDocId.compare(docIds(a), docIds(b))
        if (c != 0) c < 0 else a < b
      }
    }.take(topK)
    val schema = StructType(Seq(StructField("rank", LongType, nullable = false), docId,
      StructField("score", DoubleType), StructField("n_terms_matched", LongType)))
    new classic.Dataset[Row](spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), top.toSeq.zipWithIndex.map {
        case (i, r) => InternalRow(r + 1L, docIds(i), score(i), matched(i))
      }), Encoders.row(schema))
  }

  /** Built indexes, one per `documents` path and session, keyed by its
    * contents. Driver-held, so eviction releases nothing. */
  private[graft] val indexes = new graft.SessionMemo[String, Bm25Index](_ => ())

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
    * Scale shape: the sparse side is scored on the driver from the
    * memoized BM25 index of `dir`, with no Spark job once the index is
    * built; the dense side is one tokenize pass into skinny
    * per-doc aggregates, and the query's ≤|Q| bucket profile
    * broadcasts into its postings join (never a corpus-side
    * shuffle keyed by the query); each side's candidate cut is
    * orderBy().limit() → TakeOrderedAndProject (distributed partial
    * top-k); the fusion join touches 2×candK rows. At 100 TB the
    * corpus-proportional parts are the two skinny per-doc aggregates and
    * the BM25 index, which is driver state. */
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
