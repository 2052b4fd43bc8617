package graft.text

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-family) SEGMENTATION — the score-based
  * tokenizer family that complements the engine's merge-based BPE
  * (qd27–qd29): induce a piece vocabulary from corpus substring
  * statistics, then Viterbi-segment every document against it with an
  * exact integer objective. (Reference scope: the corpus/tokenization
  * layer a training-data pipeline runs ahead of the reference's
  * document store — `lambda/s3Posts-to-ES-lambda/s3-to-es_aws.py`
  * stores raw text; SURVEY §2.9/§6 extend it with tokenizer ops.)
  *
  * Vocabulary: every substring of length 2–4 whose corpus occurrence
  * count (all positions, overlapping) reaches [[MinPieceCount]],
  * ranked by (count DESC, piece ASC) and capped at [[VocabCap]] — the
  * cap is the scale contract: the trained vocabulary is a bounded
  * driver-held relation (≤ 4096 × 4 chars) broadcast to executors,
  * never a corpus-proportional structure. Single characters are
  * implicit vocabulary with score 1, so every document is segmentable.
  *
  * Objective: maximize Σ len(piece)² (the MDL-ish longest-piece
  * preference), ties broken by FEWEST pieces — made total by the
  * packed integer dp = 2²⁰·score − pieces, the exact DP both the
  * Scala kernel and the oracle's recursive CTE run (positions step
  * one character per recursion round carrying a 4-slot dp window, so
  * the oracle replays the entire lattice, not a summary).
  *
  * Plan shape: one explode-free flatMap → groupBy(piece) count with
  * map-side combine (one skinny shuffle over ≤ alphabet⁴ keys), a
  * TakeOrderedAndProject top-K for the cap (driver-held, bounded),
  * then ONE narrow per-partition DP pass over the documents. At
  * 100 TB: the piece count is the only corpus-wide aggregate, its key
  * space is alphabet-bounded (Heaps'-law plateau), and the DP is
  * per-row linear with an O(1) broadcast probe per position. */
object Unigram {

  /** Driver/broadcast bound on the induced vocabulary. */
  val VocabCap = 4096

  /** Corpus-occurrence gate for a multi-char piece. */
  val MinPieceCount = 50

  /** Piece lengths considered beyond the implicit single chars. */
  val MinLen = 2
  val MaxLen = 4

  /** dp packing: dp = (ScoreShift · score) − pieces. pieces ≤ doc
    * length < ScoreShift keeps the lexicographic order exact. */
  val ScoreShift = 1048576L

  /** Both kernels index text by UTF-16 unit (`length`/`substring`),
    * which equals code-point indexing only on the BMP: a supplementary
    * character (surrogate pair) counts 2 here but 1 under the oracle's
    * code-point semantics, silently shifting every piece boundary after
    * it. Fail loudly instead (the qs11 budget rule) — BMP-only is the
    * operator's documented contract; pre-filter or transcode wider
    * corpora upstream. */
  private def requireBmp(where: => String, t: String): Unit = {
    var i = 0
    while (i < t.length) {
      require(!Character.isSurrogate(t.charAt(i)),
        s"$where has a non-BMP character at UTF-16 index $i: unigram " +
          "segmentation indexes by UTF-16 unit and matches the code-point " +
          "oracle only on BMP text")
      i += 1
    }
  }

  /** Sanctioned upstream pre-filter for non-BMP corpora: TRUE iff `text`
    * contains no supplementary code point and no stray surrogate — i.e.
    * exactly the rows `requireBmp` accepts. The kernels still fail loudly
    * on non-BMP input (BMP-only is the documented contract); this is the
    * remediation path for operators of real-world corpora (emoji, CJK
    * extensions) so they can gate rows EXPLICITLY instead of aborting the
    * run, keeping the exclusion auditable:
    * {{{
    *   val ok  = docs.filter(Unigram.isBmp(col("text")))
    *   val out = docs.filter(!Unigram.isBmp(col("text")))  // report these
    * }}}
    * Implemented as a codegen'd rlike, not a UDF: supplementary code
    * points match the first alternative (Java regex matches by code
    * point), unpaired surrogates — representable in Spark strings even
    * though invalid UTF-8 — match the second.
    *
    * NULL text is FALSE, not NULL: rlike null-propagates, and a
    * three-valued result would drop null-text rows from BOTH filters of
    * the split above (filter discards non-TRUE), silently shrinking the
    * audit. The kernels cannot tokenize a null either, so null rows
    * belong with the reported-out partition. */
  def isBmp(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.coalesce(
      !text.rlike("[\\x{10000}-\\x{10FFFF}]|[\\x{D800}-\\x{DFFF}]"),
      org.apache.spark.sql.functions.lit(false))

  /** The induced vocabulary: (piece, cnt), gated and capped with the
    * deterministic (cnt DESC, piece ASC) order. Spread by cores first —
    * counting is partitioning-insensitive and a small corpus otherwise
    * arrives as one file split. */
  def vocab(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.plans.ScaleTechniques
      .spreadByCores(docs.filter(col("n_chars") >= 1))
      .select(col("text")).as[String]
      .mapPartitions { texts =>
        // partition-local pre-aggregation: the shuffle carries one row
        // per DISTINCT piece per partition (alphabet-bounded, Heaps'
        // plateau), not one per corpus position
        val acc = new java.util.HashMap[String, Long]()
        texts.foreach { t =>
          requireBmp("corpus text", t)
          var len = MinLen
          while (len <= MaxLen) {
            var i = 0
            val last = t.length - len
            while (i <= last) {
              acc.merge(t.substring(i, i + len), 1L, (a, b) => a + b)
              i += 1
            }
            len += 1
          }
        }
        val it = acc.entrySet().iterator()
        new Iterator[(String, Long)] {
          def hasNext: Boolean = it.hasNext
          def next(): (String, Long) = {
            val e = it.next(); (e.getKey, e.getValue)
          }
        }
      }
      .toDF("piece", "partial")
      .groupBy("piece").agg(sum(col("partial")).as("cnt"))
      .filter(col("cnt") >= MinPieceCount)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(VocabCap)
  }

  /** qd43: per-document Viterbi segmentation against the induced
    * vocabulary — exact integer features of the optimal lattice path
    * plus the path-independent vocabulary hit count. */
  def qd43UnigramSegment(spark: SparkSession, dir: String): DataFrame =
    segmentFrame(Tables(spark, dir, "documents"),
      Some(SessionMemo.of(s"$dir/documents.parquet"))).orderBy("doc_id")

  private val pieces = new SessionMemo[String, Set[String]](_ => ())

  /** The induced vocabulary collected to a driver set — bounded by
    * VocabCap, the qe8-codebook genus. A pure function of the corpus
    * (order-independent counts, binary-collation ties), so the
    * streaming twin (qs36) freezes exactly this — and the same
    * document SET under any path/partitioning induces the same set,
    * which is what lets qs36's staged lake share qd43's memo entry.
    *
    * `memoKey` (the corpus's memo address) memoizes the collected set
    * per session — the MinHash-signature policy: trained once per
    * corpus, billed to the first consumer in a bench pass, cleared at
    * every pass boundary. */
  private[graft] def inducedPieces(docs: DataFrame,
      memoKey: Option[SessionMemo.Address[String]] = None): Set[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    def induce(): Set[String] = vocab(docs).select("piece").as[String].collect().toSet
    memoKey.fold(induce())(at => pieces.getOrBuild(spark, at)(induce()))
  }

  /** The vocab-induce + broadcast + per-partition DP kernel. */
  private[graft] def segmentFrame(docsDf: DataFrame,
      memoKey: Option[SessionMemo.Address[String]] = None): DataFrame =
    segmentWith(docsDf, inducedPieces(docsDf, memoKey))

  /** Segment against an EXPLICIT vocabulary — the frozen-model entry
    * the streaming form uses per micro-batch (O(batch) cost, model
    * trained once from the staged corpus). */
  private[graft] def segmentWith(docsDf: DataFrame,
                                 pieces: Set[String]): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pieces)
    graft.plans.ScaleTechniques
      .spreadByCores(docsDf.filter(col("n_chars") >= 1))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { batch =>
        val v = bc.value
        batch.map { case (id, t) =>
          requireBmp(s"doc $id", t)
          val n = t.length
          // the packing is lexicographic only while pieces < ScoreShift;
          // a corpus with longer documents needs a larger shift — fail
          // loudly rather than silently mis-rank (the qs11 budget rule)
          require(n < ScoreShift,
            s"doc $id has $n chars >= ScoreShift $ScoreShift")
          // one pass: Viterbi over dp = ScoreShift·score − pieces (single
          // chars are the always-available score-1 fallback) and the
          // path-independent hit count share the same (end, len)
          // membership probes — every piece ending at j is also the
          // piece starting at j−len, so one probe serves both
          var hits = 0L
          val dp = new Array[Long](n + 1)
          var j = 1
          while (j <= n) {
            var best = dp(j - 1) + ScoreShift - 1
            var len = MinLen
            while (len <= MaxLen) {
              if (j >= len && v.contains(t.substring(j - len, j))) {
                hits += 1
                val cand = dp(j - len) + len.toLong * len * ScoreShift - 1
                if (cand > best) best = cand
              }
              len += 1
            }
            dp(j) = best
            j += 1
          }
          val packed = dp(n)
          val score = packed / ScoreShift + 1
          val nPieces = score * ScoreShift - packed
          (id, n.toLong, hits, score, nPieces)
        }
      }
      .toDF("doc_id", "n_chars", "vocab_hits", "best_score", "best_pieces")
  }
}
