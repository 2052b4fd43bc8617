package graft.operators

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (dedup, token counting, quality scoring, language ID,
  * fingerprinting, n-gram Jaccard near-dup). These extend the reference's
  * delegated full-text capability (SURVEY §2.7 F13) into first-class
  * engine operators.
  *
  * Scale notes: the per-document operators are narrow per-row maps plus
  * at most one shuffle (groupBy text-hash for dedup). Exact near-dup
  * candidates (qd6) come from the AllPairs prefix-filter posting join —
  * a df aggregation, a per-doc rarest-first ranking window, and an
  * equi-join on prefix tokens (all skinny-row shuffles), replacing the
  * r4 in-band cross product that was quadratic in band occupancy;
  * graft.dedup.MinHashLSH remains the approximate at-scale variant.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** doc_id → exploded whitespace terms — THE tokenization contract every
    * `string_split_regex('\s+')` oracle mirrors; keep it in one place so
    * a tokenizer change cannot diverge Spark vs DuckDB for only some
    * queries. */
  private def terms(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))

  /** Exact dedup: group identical texts, keep the smallest doc_id as the
    * canonical representative (hash-groupBy — one shuffle on the text key;
    * at 100 TB, group on md5(text) rather than raw text to keep shuffle
    * rows small — here text is the key for oracle clarity). */
  def qd1DedupExact(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(
        min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish token count (runs of
    * letters | runs of digits | single non-alnum-non-space). The token
    * count is the native one-pass DFA (graft.functions.BpeTokenCount),
    * bit-equal to `regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')` but
    * ~25× cheaper — the regex engine re-ran its alternation machinery at
    * every position (6.1 s at sf10 vs 0.25 s for the byte scan). */
  def qd2TokenCount(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        graft.functions.TextCounts.bpeTokenCount(spark, col("text"))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
      // size-gated sort: a plain orderBy re-executes the scan subtree
      // for range-partition sampling — materialize the skinny result
      // once instead (the qd6/qs4 treatment)
      .transform(df =>
        graft.plans.ScaleTechniques.sortedOutput(df, Seq("doc_id")))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length — the standard cheap pretraining-corpus filters. */
  def qd3QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val words = split(trim(col("text")), "\\s+")
    val stopHits = size(filter(words, w => w.isInCollection(stop)))
    docs(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        size(words).cast("long").as("n_words"),
        // native byte-scan count (bit-equal to
        // regexp_count(text, '[^a-zA-Z0-9\s]'), ~100× cheaper at sf10:
        // a never-matching negated class costs the regex engine its
        // full per-position machinery — 23 s vs 0.25 s on 500k docs)
        round(graft.functions.TextCounts.punctCount(spark, col("text"))
          .cast("double") / length(col("text")), 6).as("punct_ratio"),
        round(stopHits.cast("double") / size(words), 6).as("stopword_ratio"),
        round(length(regexp_replace(col("text"), "\\s+", ""))
          .cast("double") / size(words), 6).as("mean_word_len"))
      // size-gated sort, not orderBy: range sampling would run the
      // split/regexp subtree a second time (see qd2)
      .transform(df =>
        graft.plans.ScaleTechniques.sortedOutput(df, Seq("doc_id")))
  }

  /** Language ID by marker-token profile: count hits against tiny per-language
    * marker lexicons, predict the argmax (deterministic tie order en > es >
    * de > fr > zh). A real lexicon would be bigger; the operator shape —
    * one narrow per-row pass, no shuffle — is the point.
    *
    * Typed kernel, not a filter/size expression per lexicon: the five
    * hit counts plus the greatest/when argmax referenced the `words`
    * split 11 times, and CASE WHEN branches evaluate lazily, which
    * EXCLUDES them from codegen common-subexpression elimination — the
    * split ran per reference (the qd14/qd23 trap in its conditional
    * form; 7.3 → 2.5 s at sf1). The kernel tokenizes once and takes
    * one pass over the tokens for all five lexicons. */
  def qd4LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // marker lexicons over the synthetic corpus vocabulary
    val en = Set("the", "a", "fast", "slow", "big", "small")
    val es = Set("order", "data", "part", "value")
    val de = Set("stream", "batch", "spark", "hash")
    val fr = Set("table", "column", "row", "line")
    val zh = Set("query", "join", "merge", "sort")
    docs(spark, dir).select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        // same tokenization as the expression form the oracle mirrors:
        // lower(trim(text)) then split on runs of whitespace
        val words = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        var hEn = 0L; var hEs = 0L; var hDe = 0L; var hFr = 0L; var hZh = 0L
        var i = 0
        while (i < words.length) {
          val w = words(i)
          if (en(w)) hEn += 1
          if (es(w)) hEs += 1
          if (de(w)) hDe += 1
          if (fr(w)) hFr += 1
          if (zh(w)) hZh += 1
          i += 1
        }
        val best = Seq(hEn, hEs, hDe, hFr, hZh).max
        val predicted =
          if (hEn == best) "en" else if (hEs == best) "es"
          else if (hDe == best) "de" else if (hFr == best) "fr" else "zh"
        (id, lang, hEn, hEs, hDe, hFr, hZh, predicted)
      }
      .toDF("doc_id", "labeled_lang", "h_en", "h_es", "h_de", "h_fr", "h_zh",
        "predicted_lang")
      .orderBy("doc_id")
  }

  /** Document fingerprinting: md5 over whitespace-normalized lowercase text
    * (the canonical-form fingerprint; the rolling-hash variant lives in
    * graft.text.Fingerprint for streaming shingles). */
  def qd5Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(
        col("doc_id"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
          .as("fingerprint"))
      .orderBy("doc_id")
  }

  /** N-gram (token-set) Jaccard near-dup: exact pairs at J ≥ 0.5 within
    * (lang, source, |Δn_chars| ≤ 16) blocks.
    *
    * Candidate generation is the AllPairs PREFIX FILTER (Bayardo et al.,
    * WWW'07 — the standard exact set-similarity join), not an
    * all-pairs-within-band self-join: order every document's distinct
    * tokens rarest-first (global df, token tie-break — any consistent
    * total order is correct; rarest-first keeps posting lists short), and
    * keep only each document's first ⌊(1−t)·|A|⌋ + 1 tokens as its
    * prefix. For any pair with J(A,B) ≥ t, the MINIMAL shared token lies
    * in BOTH prefixes (tokens before it in either doc are outside the
    * intersection, and |A∖B| ≤ |A| − t·|A|), so an equi-join on prefix
    * tokens finds every qualifying pair. Band predicates ride the same
    * join; verification is exact. The r4 band join was all-pairs within
    * each band cell — quadratic in cell occupancy (21.7 s at sf1);
    * posting-list candidates scale with shared-rare-token co-occurrence
    * instead.
    *
    * Token sets are sorted once per document so the per-pair Jaccard is a
    * single allocation-free merge (graft.functions.SortedOverlapCount):
    * |A∩B| = overlap, |A∪B| = |A|+|B|−overlap. Integer-count ratio →
    * bit-exact vs the set-function form and the DuckDB oracle. */
  def qd6NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    // size-gated sort: single-partition only while the result is actually
    // tiny; a grown near-dup set range-sorts instead of funnelling
    graft.plans.ScaleTechniques.sortedOutput(qd6Pairs(spark, dir), Seq("doc_a", "doc_b"))

  /** The qd6 join itself, pre-sink — exposed so the plan-shape spec can
    * assert the band is an equi key (the sink's checkpoint hides the join
    * stage from post-hoc plan inspection).
    *
    * SCALING ADJUDICATION (r16 sf10 finding, r17 root-caused + closed):
    * the suite's one >10× sf1→sf10 reading (11.0× in-suite, 54× on
    * isolated medians) was NOT this operator — it was a scale-corpus
    * artifact. make_sf's old every-3rd-token mutation left copies of one
    * base doc sharing exactly 2/3 of their tokens: token-set Jaccard
    * exactly 0.5, ON this operator's threshold, planting C(F,2)
    * cross-copy pairs per base doc (at factor 10: 34,002 of 116,377
    * output pairs were artifacts; quadratic in F). With the generator
    * fixed to per-copy token RENAMING (cross-copy share zero, within-copy
    * structure isomorphic — its documented intent), the isolated 3-pass
    * medians are 2.89 s at sf1 → 12.57 s at sf10: 4.3× for 10× rows.
    *
    * Plan-shape note, verified in the executed plan: the prefix rank is
    * a `row_number` window whose filter bound `⌊(1−t)·|A|⌋ + 1` is
    * PER-DOC (non-foldable), so InferWindowGroupLimit cannot pre-prune
    * it — the window pays a full per-partition sort on (doc_id, df,
    * tok). That is linear per partition at fixed partition size (a real
    * cluster scales partition COUNT with data); no foldable-limit
    * rewrite preserves the per-doc prefix semantics, and a collect_list
    * + selection aggregate would shave only the log factor at the same
    * memory footprint. Evidence in BENCH_scale.md round 17. */
  private[graft] def qd6Pairs(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.5
    // consumed by the postings explode, the prefix-length meta join, and
    // both verification joins — materialize the tokenized corpus once
    val d = docs(spark, dir).select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        array_sort(array_distinct(split(trim(col("text")), "\\s+"))).as("toks"))
      .localCheckpoint(true)
    val posts = d.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dfreq = posts.groupBy("tok").agg(count(lit(1)).as("df"))
    // rarest-first rank within each doc; prefix = first ⌊(1−t)·|A|⌋ + 1
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = posts.join(dfreq, "tok")
      .withColumn("rk", row_number().over(w))
      .join(d.select(col("doc_id"), size(col("toks")).as("sz"),
        col("lang"), col("source"), col("n_chars")), "doc_id")
      .filter(col("rk") <= floor((lit(1.0) - lit(t)) * col("sz")) + 1)
      .select(col("doc_id"), col("tok"), col("lang"), col("source"), col("n_chars"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
        col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= 16)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val tk = d.select(col("doc_id"), col("toks"))
    val overlap = graft.functions.SetFunctions
      .sortedOverlap(col("toks_a"), col("toks_b"))
    cand
      .join(tk.toDF("doc_a", "toks_a"), "doc_a")
      .join(tk.toDF("doc_b", "toks_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (overlap.cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - overlap).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** The composed training-corpus curation pipeline — the end-to-end
    * flow the individual operators exist for:
    *   1. quality gate: ≥ 30 words and ≥ 200 chars (qd3's signals);
    *   2. exact dedup: keep the smallest doc_id per md5(text) (qd1);
    *   3. near-dup pruning: drop every cluster member except its
    *      representative (q33's connected components over MinHash-LSH).
    * Output: the surviving doc_ids with their stats — what a pretraining
    * data job would hand to tokenization. */
  def qd10CorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val quality = d.filter(
      size(split(trim(col("text")), "\\s+")) >= 30 && length(col("text")) >= 200)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exactKept = quality
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val dropNearDups = graft.dedup.Clusters.q33DedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select("doc_id")
    exactKept.join(dropNearDups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars_actual"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary statistics: top-20 terms by total occurrences with
    * document frequency — the classic word-count shape (explode → one
    * shuffle on the term key → distributed top-K). */
  def qd9TermStats(spark: SparkSession, dir: String): DataFrame = {
    terms(spark, dir)
      .groupBy("term")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct("doc_id").as("doc_freq"))
      .orderBy(desc("occurrences"), col("term"))
      .limit(20)
  }

  /** Training-chunk builder: fixed-size token windows with overlap
    * (chunk 64, stride 48 → 16-token overlap) — the document→sample step
    * every pretraining pipeline runs before tokenization. Emits the chunk
    * content hash rather than the text so the output stays skinny; the
    * chunks themselves are reproducible from (doc_id, chunk_idx). Narrow
    * per-row expansion, no shuffle until the presentation sort. */
  def qd11Chunking(spark: SparkSession, dir: String,
                   chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    import spark.implicits._
    // typed kernel: the slice-per-chunk expression form re-tokenizes the
    // document under every chunk row (projection collapse), i.e.
    // O(len²/stride) on long documents; the kernel tokenizes once and
    // emits all chunks in one O(len) pass
    docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+")
        val nChunks = (toks.length + stride - 1) / stride
        (0 until nChunks).iterator.map { i =>
          val chunk = toks.slice(i * stride, i * stride + chunkSize)
          (id, i.toLong, chunk.length.toLong, chunk.mkString(" "))
        }
      }
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Repetition-based quality signals (the Gopher-rule family): duplicate
    * token fraction and the share of the most frequent bigram — cheap
    * detectors for degenerate/boilerplate documents.
    *
    * The per-doc counts run in a typed map kernel, NOT as a
    * transform/element_at expression tree: Catalyst's projection collapse
    * re-inlines the tokenizer split under every lambda element access,
    * turning the bigram walk O(tokens²) per document (the same trap that
    * made pure-expression MinHash 40× slower). The kernel is one O(tokens)
    * pass and the query needs no shuffle at all before the final sort. */
  def qd12Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.trim.split("\\s+")
        val n = toks.length
        val nd = toks.distinct.length
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        var i = 0
        while (i < n - 1) {
          val bg = toks(i) + " " + toks(i + 1)
          counts.update(bg, counts.getOrElse(bg, 0) + 1)
          i += 1
        }
        (id, n.toLong, nd.toLong,
          if (counts.isEmpty) 0L else counts.values.max.toLong)
      }
      .toDF("doc_id", "n_tokens", "n_distinct", "top_bigram_n")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double")
          / col("n_tokens").cast("double"), 6).as("dup_token_ratio"),
        col("top_bigram_n"),
        // single-token docs have no bigrams: ratio pinned to 0, not 0/0
        when(col("n_tokens") > 1,
          round(col("top_bigram_n").cast("double")
            / (col("n_tokens") - 1).cast("double"), 6))
          .otherwise(lit(0.0)).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** PII redaction: email/phone patterns → placeholder tokens, with
    * per-document redaction counts and a hash of the redacted text. The
    * synthetic corpus contains no PII, so the query PLANTS deterministic
    * contacts on a doc_id schedule (same planted-ground-truth idea as
    * qs9) — the oracle rebuilds the identical input, making the counts
    * non-vacuous and the full redaction output hash-checked. */
  def qd13PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]+"
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" call 555-01"), col("doc_id").cast("string")))
        .otherwise(lit("")))
    docs(spark, dir)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("redacted_hash"))
      .orderBy("doc_id")
  }

  /** Benchmark-contamination screen: count each document's distinct
    * 3-shingles that also appear in a benchmark set (here: the shingles
    * of doc_id < 5 — at production scale, the eval suites). The benchmark
    * side is small by construction → broadcast; the corpus explodes its
    * shingles once and aggregates per doc. Documents owning the benchmark
    * rows flag themselves — exactly what a decontamination pass wants. */
  def qd14Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // typed kernel (MinHashLSH.shingleSet), not a transform/element_at
    // expression: projection collapse re-inlines split() under every
    // element access and goes O(tokens²) per doc — measured 46s vs <2s
    // at sf0.1 for this query
    def shingled(base: DataFrame) = base.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, graft.dedup.MinHashLSH.shingleSet(t)) }
      .toDF("doc_id", "sh")
    // benchmark side as its OWN plan: the doc_id < 5 predicate reaches
    // the parquet scan, so its kernel runs over 5 docs. (Filtering the
    // shared shingled corpus instead cannot push through the opaque
    // typed map — the kernel would run over the whole corpus once per
    // branch.) Corpus side: ONE kernel pass; explode_outer keeps
    // zero-shingle docs so the rollup needs no second pass for them.
    val bench = shingled(docs(spark, dir).filter(col("doc_id") < 5))
      .select(explode(col("sh")).as("shingle")).distinct()
      .withColumn("hit", lit(1L))
    shingled(docs(spark, dir))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("shingle"))
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(first("n_shingles").as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated") >= 1L).as("flagged"))
      .orderBy("doc_id")
  }

  /** Unigram log-probability scoring — the perplexity-filter stand-in
    * (a real pipeline swaps the corpus unigram model for KenLM): each
    * document scores the mean negative log-probability of its tokens
    * under the corpus unigram distribution. Degenerate/boilerplate text
    * scores low (common tokens), lorem-ipsum-like noise scores high.
    * Plan: one explode pass builds corpus counts, the total is a
    * broadcast scalar (BM25's stats pattern), and the per-doc average
    * joins tokens to the (vocab-sized) count table. */
  def qd18UnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = terms(spark, dir)
    val counts = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").cast("double").as("n_total"))
    toks
      .join(counts, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c").cast("double") / col("n_total"))), 6)
          .as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction: the top-3 most characteristic terms per
    * document (tf × ln(N/df), ties broken lexically) — the per-document
    * counterpart of the corpus-level qd9 term stats and the ranked qd8
    * retrieval. One explode pass; tf and df come from the same postings
    * aggregate; ranking is a per-doc window over the scored postings.
    *
    * The postings aggregate and the df join key on the term's 128-bit
    * digest (the qd21/qd23 key shape) so the full-stream shuffle and
    * the join move 16-byte keys; the term STRING — which the output
    * needs — survives through first() in the aggregation buffer. A
    * string buffer demotes the aggregate from HashAggregate to
    * ObjectHashAggregate, and the skinny keys still win: 5.0 vs 6.0 s
    * five-pass A/B at sf1 against the string-keyed form. (Two earlier
    * runs of this comparison read 14–36 s — host-side load; never trust
    * a single window on this box.) */
  def qd19TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val postings = terms(spark, dir)
      .select(col("doc_id"), col("term"),
        xxhash64(lit(1), col("term")).as("t1"),
        xxhash64(lit(2), col("term")).as("t2"))
      .groupBy("doc_id", "t1", "t2")
      .agg(count(lit(1)).as("tf"), first("term").as("term"))
    val df = postings.groupBy("t1", "t2")
      .agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs(spark, dir).select(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    postings
      .join(df, Seq("t1", "t2"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") * log(col("n_docs") / col("df")), 6)
          .as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Edit-distance verification of the MinHash near-dup pairs: exact
    * Levenshtein distance and a length-normalized similarity for every
    * verified pair — the character-level confirmation layer a dedup
    * pipeline runs on its (tiny) candidate output before dropping
    * documents. Reuses the memoized pair graph; the quadratic DP runs
    * only on |pairs| rows, never the corpus. */
  def qd17EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val pairs = graft.dedup.MinHashLSH.nearDups(spark, dir)
      .select("doc_a", "doc_b")
    pairs
      .join(d.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("text", "text_a"), "doc_a")
      .join(d.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("text", "text_b"), "doc_b")
      // evaluate the quadratic DP once per pair and derive the
      // similarity from the resulting column (subexpression elimination
      // usually catches the duplicate, but one evaluation is free
      // certainty)
      .select(col("doc_a"), col("doc_b"),
        // byte-equality short-circuit: near-dup pair graphs at scale are
        // dominated by EXACT duplicates (boilerplate clusters), and the
        // quadratic DP on two identical ~500-char texts costs ~250k cell
        // ops to compute 0 — the O(n) equality probe answers it first
        when(col("text_a") === col("text_b"), lit(0L))
          .otherwise(levenshtein(col("text_a"), col("text_b")).cast("long"))
          .as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b")))
          .cast("double").as("max_len"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        round(lit(1.0) - col("edit_dist").cast("double") / col("max_len"), 6)
          .as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Deterministic stratified (systematic) sampling: within each lang
    * stratum, order by a content-hash key and keep every k-th document —
    * the reproducible corpus-subsampling step (Bernoulli sampling is
    * seeded-RNG and engine-specific; systematic sampling over a hash
    * order gives the same statistical spread with an exact SQL mirror).
    * One window shuffle on the stratum key. */
  def qd15StratifiedSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        row_number().over(w).as("rn"))
      .filter(pmod(col("rn"), lit(k)) === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("rn").cast("long").as("stratum_rank"))
      .orderBy("doc_id")
  }

  /** Domain-mixture construction (data mixing): build a training mix with
    * per-source quotas — each source contributes `weight × total_budget`
    * documents, chosen deterministically by content-hash order (so the
    * mix is reproducible run-to-run and engine-to-engine). The classic
    * pretraining "domain weights" step, as one windowed query. */
  def qd16DomainMixture(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-source document quotas (the 40/25/20/10/5% mixture over a
    // 50-doc budget, pre-resolved to integers so both engines share the
    // exact numbers; sources outside the mix contribute nothing)
    val quota = Seq("src0" -> 20, "src1" -> 13, "src2" -> 10,
      "src3" -> 5, "src4" -> 3)
    val quotaCol = quota.foldLeft(lit(0)) { case (acc, (s, n)) =>
      when(col("source") === s, lit(n)).otherwise(acc)
    }
    val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        row_number().over(w).as("rn"), quotaCol.as("quota"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("rn").cast("long").as("mix_rank"))
      .orderBy("doc_id")
  }

  /** qd34: temperature-scaled mixture sampling — the multilingual
    * pretraining α-sampling (XLM-R, Conneau et al. 2020: sample
    * probability ∝ p_l^α with α < 1 upsamples low-resource strata so
    * the head language cannot drown the tail). Here α = 0.5 over the
    * LANG strata (en is 3.4× fr in this lake): quotas derive from the
    * observed counts instead of qd16's fixed percentages —
    * quota_l = (N × w_l) div Σw, with w_l = round(√n_l × 1e6) integer
    * micro-weights, so the whole budget computation is integer
    * arithmetic after one correctly-rounded sqrt (sqrt IS correctly
    * rounded in IEEE — both engines agree bit-for-bit, where a pow(x,
    * 0.3) would be library-dependent). Strata fill deterministically in
    * (md5(text), doc_id) order like qd16/qd15.
    *
    * Scale shape: one count aggregate (strata-bounded), quotas as a
    * broadcast map, one rank window per stratum — the qd16 plan with a
    * data-derived quota column. */
  def qd34TemperatureMixture(spark: SparkSession, dir: String,
                             budget: Int = DefaultMixtureBudget): DataFrame = {
    val counts = docs(spark, dir).groupBy("lang")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val weights = counts.map { case (l, n) =>
      l -> BigDecimal(math.sqrt(n.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val totalW = weights.map(_._2).sum
    val quotas = weights.map { case (l, w) =>
      l -> budget.toLong * w / totalW
    }
    val quotaCol = quotas.foldLeft(lit(0L)) { case (acc, (l, q)) =>
      when(col("lang") === l, lit(q)).otherwise(acc)
    }
    val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        row_number().over(w).cast("long").as("rn"), quotaCol.as("quota"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rn").as("mix_rank"),
        col("quota"))
      .orderBy("doc_id")
  }

  /** F13: keyword / token search — tokenize + explode + equi-filter, the
    * engine-native form of the reference's delegated ES full-text search. */
  def qd7KeywordSearch(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") === "spark")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Corpus-level sequence-packing planner — the concat-and-chunk layout
    * pretraining pipelines use: documents are concatenated in doc_id
    * order and cut into fixed `budget`-token training sequences
    * (documents may straddle a boundary; qd11 is the per-document
    * chunker, this is the corpus-level packer). Emits each document's
    * placement: global token offset, first chunk and offset within it,
    * and how many chunks it spans. Token counts use qd2's whitespace
    * tokenizer, so the two operators agree on what a token is.
    *
    * Integer arithmetic end to end, so the layout is deterministic and
    * fully SQL-oracle-able. The corpus-order running total runs as a
    * SHARDED two-phase cumsum (`shardedCumsum`): per-doc_id-range-shard
    * hash-partitioned windows plus one broadcast base-offset frame —
    * no corpus-proportional single-partition window anywhere in the
    * plan, with per-document math (and the oracle) unchanged. */
  def qd20SequencePack(spark: SparkSession, dir: String,
                       budget: Int = DefaultPackBudget): DataFrame = {
    val counted = docs(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tok_cnt"))
    shardedCumsum(counted, "tok_cnt", Seq("doc_id"))
      .withColumn("tok_offset", col("cum") - col("tok_cnt"))
      .select(
        col("doc_id"), col("tok_cnt"), col("tok_offset"),
        expr(s"tok_offset div $budget").as("start_chunk"),
        (col("tok_offset") % budget).as("start_slot"),
        (expr(s"(cum - 1) div $budget") - expr(s"tok_offset div $budget") + 1L)
          .as("n_chunks"))
      .orderBy("doc_id")
  }

  /** Bigram-LM fluency scoring — the CCNet-style perplexity quality
    * filter next to qd18's unigram form: score each document by the
    * average negative log of the add-one-smoothed bigram conditional
    * p(b|a) = (c(a,b) + 1) / (c(a) + V), with c(·) corpus-wide counts
    * and V the unigram vocabulary size. Lower = more fluent under the
    * corpus's own bigram statistics; a perplexity cut on this score is
    * the classic LM-filter pass of a pretraining pipeline.
    *
    * Plan: two explode aggregates build the bigram and unigram count
    * tables (the counts ARE the model, maintained as derived tables at
    * warehouse scale), V is a broadcast scalar (qd18's stats pattern),
    * and the per-doc average is one more grouped pass. Every wide
    * stage is keyed on a 128-bit n-gram DIGEST (two independently-
    * seeded xxhash64s — the qd23/Collapse key shape; a count-merging
    * collision needs a simultaneous collision in both hashes): the
    * token and bigram streams shuffle and join on 16-byte keys, never
    * n-gram text. Documents with fewer than two tokens have no bigrams
    * and emit no row (the oracle mirrors the exclusion). */
  def qd21BigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toksArr = docs(spark, dir).select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val uniCounts = toksArr.select(explode(col("toks")).as("term"))
      .select(xxhash64(lit(1), col("term")).as("t1"),
        xxhash64(lit(2), col("term")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("ca"))
    val vocab = uniCounts.agg(count(lit(1)).cast("double").as("v"))
    // the transform lambda keeps the MINIMAL two element accesses (the
    // qd14/qd23 projection-collapse trap: split() re-inlines under every
    // toks[i] access); digests are computed AFTER the explode, once per
    // materialized row. No per-(doc, bigram) pre-aggregate: on natural
    // text most (doc, bigram) pairs are unique, so pre-grouping shrinks
    // nothing and just adds a full-stream shuffle (measured 2×)
    val bigrams = toksArr.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] AS a, concat(toks[i], ' ', toks[i+1]) AS bg))"))
        .as("p"))
      .select(col("doc_id"),
        xxhash64(lit(1), col("p.a")).as("t1"),
        xxhash64(lit(2), col("p.a")).as("t2"),
        xxhash64(lit(1), col("p.bg")).as("b1"),
        xxhash64(lit(2), col("p.bg")).as("b2"))
    // score each bigram TYPE once (the unigram context is a prefix of
    // the bigram, so the probability is a pure function of the type)
    // and join the position stream a single time on the bigram hash —
    // the qd37/knReport restructure applied at depth 2
    val typeCounts = bigrams.groupBy("b1", "b2", "t1", "t2")
      .agg(count(lit(1)).as("cab"))
    val typeVal = typeCounts
      .join(uniCounts, Seq("t1", "t2"))
      .crossJoin(broadcast(vocab))
      .select(col("b1"), col("b2"),
        (-log((col("cab") + 1).cast("double")
          / (col("ca").cast("double") + col("v")))).as("nlp"))
    bigrams.select(col("doc_id"), col("b1"), col("b2"))
      .join(typeVal, Seq("b1", "b2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(col("nlp")), 6).as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  /** qd37: interpolated trigram-LM fluency scoring — the LM family at
    * CCNet's working depth (unigram qd18 → bigram qd21 → trigram here):
    * each document's mean negative log-probability under a
    * Jelinek-Mercer-interpolated trigram model,
    * p = 0.6·p₃ + 0.3·p₂ + 0.1·p₁ with add-one smoothing per order
    * (p₃ = (c_abc+1)/(c_ab+V), p₂ = (c_bc+1)/(c_b+V),
    * p₁ = (c_c+1)/(N+V)) — the backoff mixture that keeps unseen
    * trigrams finite while long contexts dominate where they exist.
    *
    * Determinism follows qd21's proven contract: the interpolation
    * expression is the identical left-associated double tree in both
    * engines, counts are exact integers, the corpus scalars (V, N) are
    * broadcast one-row frames, and only the final per-doc avg is
    * rounded (6dp). Scale shape: n-gram count tables are vocab- /
    * Heaps-bounded aggregates; the per-position stream joins five
    * skinny hashed count tables (xxhash64 pair keys — strings never
    * shuffle) and partial-aggregates to one row per document. */
  def qd37TrigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toksArr = docs(spark, dir).select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    val uniCounts = toksArr.select(explode(col("toks")).as("term"))
      .select(xxhash64(lit(1), col("term")).as("u1"),
        xxhash64(lit(2), col("term")).as("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("cu"))
    val vocab = uniCounts.agg(count(lit(1)).cast("double").as("v"),
      sum("cu").cast("double").as("n"))
    val biCounts = toksArr.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
      .select(xxhash64(lit(1), col("bg")).as("b1"),
        xxhash64(lit(2), col("bg")).as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("cb"))
    // the per-position stream: trigram + its two context n-grams + the
    // two continuation unigrams, hashed once per materialized row
    val tris = toksArr.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3)," +
          " i -> struct(concat(toks[i], ' ', toks[i+1]) AS ab," +
          "            concat(toks[i+1], ' ', toks[i+2]) AS bc," +
          "            concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS tg," +
          "            toks[i+1] AS b, toks[i+2] AS c))"))
        .as("p"))
      .select(col("doc_id"),
        xxhash64(lit(1), col("p.tg")).as("t1"),
        xxhash64(lit(2), col("p.tg")).as("t2"),
        xxhash64(lit(1), col("p.ab")).as("ab1"),
        xxhash64(lit(2), col("p.ab")).as("ab2"),
        xxhash64(lit(1), col("p.bc")).as("bc1"),
        xxhash64(lit(2), col("p.bc")).as("bc2"),
        xxhash64(lit(1), col("p.b")).as("bu1"),
        xxhash64(lit(2), col("p.b")).as("bu2"),
        xxhash64(lit(1), col("p.c")).as("cu1"),
        xxhash64(lit(2), col("p.c")).as("cu2"))
    // the per-position probability is a pure function of the trigram
    // TYPE (ab/bc/b/c are substrings of tg), so score each TYPE once and
    // join the position stream a single time on the trigram hash — the
    // old shape shuffled the full 10-hash position stream through FIVE
    // sort-merge joins; now the four context joins run over the
    // Heaps'-bounded type table and the position stream crosses exactly
    // one exchange, projected to (doc_id, t1, t2) (guide §2.3/§2.4).
    // Type-grouping carries the context hashes in the key — they are
    // functions of the trigram, so the counts are unchanged.
    val typeCounts = tris
      .groupBy("t1", "t2", "ab1", "ab2", "bc1", "bc2",
        "bu1", "bu2", "cu1", "cu2")
      .agg(count(lit(1)).as("ct"))
    val p3 = (col("ct") + 1).cast("double") /
      (col("cab").cast("double") + col("v"))
    val p2 = (col("cbc") + 1).cast("double") /
      (col("cb_u").cast("double") + col("v"))
    val p1 = (col("cc_u") + 1).cast("double") / (col("n") + col("v"))
    val typeVal = typeCounts
      .join(biCounts.select(col("b1").as("ab1"), col("b2").as("ab2"),
        col("cb").as("cab")), Seq("ab1", "ab2"))
      .join(biCounts.select(col("b1").as("bc1"), col("b2").as("bc2"),
        col("cb").as("cbc")), Seq("bc1", "bc2"))
      .join(uniCounts.select(col("u1").as("bu1"), col("u2").as("bu2"),
        col("cu").as("cb_u")), Seq("bu1", "bu2"))
      .join(uniCounts.select(col("u1").as("cu1"), col("u2").as("cu2"),
        col("cu").as("cc_u")), Seq("cu1", "cu2"))
      .crossJoin(broadcast(vocab))
      .select(col("t1"), col("t2"),
        (-log(lit(0.6) * p3 + lit(0.3) * p2 + lit(0.1) * p1)).as("nlp"))
    tris.select(col("doc_id"), col("t1"), col("t2"))
      .join(typeVal, Seq("t1", "t2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("nlp")), 6).as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  /** qd42: KNESER-NEY smoothed bigram fluency — the LM family's
    * production smoother (Kneser & Ney 1995; the KenLM default), next
    * to the add-one/interpolated members (qd18/qd21/qd37):
    *
    *   P(w|u) = max(c(u,w) − D, 0)/c(u)
    *          + D·N₁₊(u,·)/c(u) · N₁₊(·,w)/T
    *
    * with absolute discount D = 0.75, continuation probability from the
    * count of DISTINCT left contexts of w (the "how novel is this word's
    * company" signal add-one smoothing cannot express), and T the
    * bigram-type total. All model quantities are integer aggregates of
    * ONE bigram-type table (Heaps'-bounded like the qd21/qd37 tables);
    * the per-position probability is a fixed arithmetic shape over those
    * integers, so determinism rides qd37's proven contract (identical
    * per-position doubles, per-doc avg, 6dp round). Trained on the
    * corpus itself, every position's c(u,w) ≥ 1, so the discounted term
    * is always positive — the greatest() guard still mirrors the
    * textbook form on both engines. N-grams shuffle as xxhash64 pairs
    * (the qd37 skinny-shuffle idiom; join keys only, strings never
    * leave the scan). */
  def qd42KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val pos = knPositions(docs(spark, dir))
    knReport(pos, pos.groupBy("hu1", "hu2", "hw1", "hw2")
      .agg(count(lit(1)).as("c")))
  }

  /** The per-position hashed bigram stream — shared by qd42 and its
    * streaming form (qs32, where each batch contributes its own
    * positions to the type-count monoid). */
  private[graft] def knPositions(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] AS u, toks[i+1] AS w))")).as("p"))
      .select(col("doc_id"),
        xxhash64(lit(1), col("p.u")).as("hu1"),
        xxhash64(lit(2), col("p.u")).as("hu2"),
        xxhash64(lit(1), col("p.w")).as("hw1"),
        xxhash64(lit(2), col("p.w")).as("hw2"))

  /** The KN scoring tail over a position stream and a (folded) bigram
    * type-count table — every model quantity derives from `types`. */
  private[graft] def knReport(pos: DataFrame, types: DataFrame): DataFrame = {
    val ctx = types.groupBy("hu1", "hu2")
      .agg(sum("c").as("cu"), count(lit(1)).as("nfw"))
    val back = types.groupBy("hw1", "hw2").agg(count(lit(1)).as("nbw"))
    val tt = types.agg(count(lit(1)).cast("double").as("t"))
    val p = greatest(col("c") - lit(0.75), lit(0.0)) / col("cu") +
      lit(0.75) * col("nfw") / col("cu") * (col("nbw") / col("t"))
    // per-position P(w|u) is a pure function of the bigram TYPE — score
    // each type once over the Heaps'-bounded type table and join the
    // position stream a single time (the qd37 restructure: the old shape
    // shuffled the full position stream through three joins)
    val typeVal = types
      .join(ctx, Seq("hu1", "hu2"))
      .join(back, Seq("hw1", "hw2"))
      .crossJoin(broadcast(tt))
      .select(col("hu1"), col("hu2"), col("hw1"), col("hw2"),
        (-log(p)).as("nlp"))
    pos
      .join(typeVal, Seq("hu1", "hu2", "hw1", "hw2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nlp")), 6).as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  /** Content-defined chunk dedup — blob-level duplicate detection whose
    * chunk boundaries move WITH the content (a one-character insertion
    * shifts every fixed-size chunk after it, but only the chunk it lands
    * in under CDC), the shape file/dataset dedup pipelines use for
    * partially-overlapping documents.
    *
    * STATELESS gear-hash CDC (the FastCDC/ddelta family, Xia et al.,
    * USENIX ATC'16) so both engines reproduce the boundaries exactly AND
    * the kernel pays O(1) per position: a 16-bit rolling state
    * `h = (h·2 + gear[cp mod 256]) mod 2¹⁶` over the document's code
    * points, a cut after 1-based position i (16 ≤ i < length) whenever
    * `h < 1024` (top-6-bits-zero gate → expected chunk ≈ 64 chars; the
    * HIGH bits, because a power-of-2 modulus makes low bits depend on
    * only the last lg₂ characters). Because gear values shifted ≥ 16
    * positions vanish mod 2¹⁶, the rolling state at i equals the 16-term
    * window sum `Σⱼ gear[cp(i−j)]·2ʲ mod 2¹⁶` — which is how the DuckDB
    * oracle computes the SAME boundary as a pure per-position
    * `list_filter` predicate, no recursion. The 256-entry gear table is
    * derived identically in both engines:
    * `md5_number_lower('gear-' || b) mod 2¹⁶` (kernel:
    * `md5Lower64String & 0xffff` — bit-equal, pinned by SimHash specs).
    * (Rounds ≤ 6 MD5-hashed the full 16-char window per position — ~32
    * bytes hashed per input byte, 7.1 s isolated at sf1; the gear
    * rewrite replaces the per-position digest with one table lookup.)
    *
    * Output: one row per chunk VALUE seen more than once — its MD5,
    * copy/document counts, the lexicographically first (doc, chunk idx)
    * holder (encoded min over doc_id·10⁶ + idx; texts are far below 10⁶
    * chunks), and the chunk length. One narrow per-doc pass builds the
    * chunks; ONE shuffle groups by chunk hash. */
  def qd22CdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(spark, dir)
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * 1000000L + col("chunk_idx")).as("enc"),
        min(length(col("chunk"))).cast("long").as("chunk_len"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("n_copies"), col("n_docs"),
        expr("enc div 1000000").as("keep_doc_id"),
        (col("enc") % 1000000L).as("keep_chunk_idx"),
        col("chunk_len"))
      .orderBy("chunk_md5")

  /** The 256-entry gear table, derived from MD5 so DuckDB rebuilds it
    * bit-identically (`md5_number_lower('gear-' || b) % 65536`). */
  private[graft] val cdcGear: Array[Long] =
    Array.tabulate(256)(b =>
      graft.dedup.SimHash.md5Lower64String(s"gear-$b") & 0xffffL)

  /** The CDC chunk table (doc_id, chunk_idx, chunk): one typed
    * mapPartitions-style kernel per document — O(1) table-lookup rolling
    * hash per position off one code-point array. CODE POINTS, not UTF-16
    * units, mirror how both engines' `substring`/`length`/`ord` count
    * characters; CurationOpsSpec pins the rolling form against an
    * independent 16-term window-sum reference (the oracle's per-position
    * formula). */
  private[graft] def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val cp = text.codePoints().toArray
        val n = cp.length
        val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
        var h = 0L
        var k = 0
        while (k < n) {
          h = ((h << 1) + cdcGear(cp(k) & 255)) & 0xffffL
          // 1-based position k+1; cuts allowed after positions 16..n-1
          if (k + 1 >= 16 && k + 1 <= n - 1 && h < 1024L) cuts += (k + 1)
          k += 1
        }
        cuts += n
        (0 until cuts.length - 1).map { j =>
          (id, j.toLong, new String(cp, cuts(j), cuts(j + 1) - cuts(j)))
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk")
  }

  /** Duplicated-span detection — substring-level exact dedup in the shape
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", EXACTSUBSTR): any K-token window occurring ≥ 2 times
    * corpus-wide (any doc, including the same one) marks its positions;
    * per document, overlapping or back-to-back marked windows merge into
    * MAXIMAL duplicated spans — the unit a span-removal pass would cut.
    * This is the missing dedup granularity between whole-document exact
    * dedup (qd1) and chunk-value dedup (qd22): it finds the duplicated
    * REGION inside otherwise-distinct documents. (The paper builds a
    * suffix array; the distributed equivalent of its "duplicated
    * substring ≥ threshold" output at a fixed window size is this
    * shingle-count + interval-merge, which is all keyed shuffles.)
    *
    * Plan shape, scan → result:
    *   1. ONE typed kernel pass emits (doc, 1-based pos, K-token window)
    *      — a kernel, not `transform`/`element_at` expressions, for the
    *      same projection-collapse reason as qd14 (split() re-inlines
    *      under every element access);
    *   2. positions whose window text repeats are kept via a count
    *      aggregate over the shingle's 128-bit digest (two independent
    *      xxhash64s — the Collapse.groups key shape) plus a
    *      SHUFFLE_HASH join back to the positional stream: two
    *      digest-keyed shuffles of 16-byte keys (never window text),
    *      and no sort — a count WINDOW computes the same mark set but
    *      sorts the whole stream by digest inside each partition
    *      (measured 9.4 → 7.3 s at sf1). The digest is internal — the
    *      oracle checks the reconstructed span TEXT, and a cross-text
    *      collision needs a simultaneous 64-bit collision in two
    *      independently-seeded hashes (~n²/2¹²⁸ over the corpus
    *      shingle count);
    *   3. per-doc gaps-and-islands (lag + running sum over the doc_id
    *      window, one skinny shuffle) merges marked windows ≤ K apart,
    *      then min/max per island yields the span;
    *   4. spans join back to the token arrays (keyed on doc_id; span
    *      count ≪ corpus) to reconstruct the span text.
    * Every stage is a keyed shuffle over skinny rows — no all-pairs, no
    * driver-side state; the duplicated-shingle set rides the shuffle, it
    * is never collected or broadcast. */
  def qd23DupSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val sh = docs(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        positionalShingles(text, k).map { case (p, s) => (id, p, s) } }
      .toDF("doc_id", "pos", "shingle")
      .select(col("doc_id"), col("pos"),
        xxhash64(lit(1), col("shingle")).as("k1"),
        xxhash64(lit(2), col("shingle")).as("k2"))
    // repeated digests via aggregate + SHUFFLE_HASH join, not a count
    // window: the window form sorts the whole shingle stream by digest
    // inside each partition; the hash join moves the same two shuffles
    // but sorts nothing
    val dupKeys = sh.groupBy("k1", "k2").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val marked = sh.join(dupKeys.hint("shuffle_hash"), Seq("k1", "k2"))
      .select("doc_id", "pos")
    spansFromMarks(marked, tokenArrays(spark, dir), k)
  }

  /** 1-based positional K-token windows of one document — the kernel
    * contract shared by qd23 and its streaming form (qs16), kept in one
    * place so the two cannot diverge on tokenization or positions. */
  private[graft] def positionalShingles(text: String, k: Int): IndexedSeq[(Long, String)] = {
    val t = text.trim.split("\\s+")
    if (t.length >= k)
      (0 to t.length - k).map(i => ((i + 1).toLong, t.slice(i, i + k).mkString(" ")))
    else IndexedSeq.empty
  }

  /** The shared qd23/qs16 resolution: merge marked (duplicated-window)
    * positions `(doc_id, pos)` into maximal spans via gaps-and-islands
    * windows, then reconstruct span text from the token arrays (span
    * rows ≪ corpus → the join broadcasts the spans side). */
  private[graft] def spansFromMarks(marked: DataFrame, tokArr: DataFrame, k: Int): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = marked
      .withColumn("prev", lag("pos", 1).over(wDoc))
      // a window at pos and one at prev overlap or touch iff
      // pos <= prev + k (equal spans can't happen: pos strictly grows)
      .withColumn("brk", when(col("prev").isNull || col("pos") > col("prev") + k, 1L)
        .otherwise(0L))
      .withColumn("island", sum("brk").over(wDoc))
      .groupBy("doc_id", "island")
      .agg(
        min("pos").as("span_start"),
        (max("pos") + k - min("pos")).as("span_len"),
        count(lit(1)).as("n_dup_shingles"))
    spans.join(tokArr, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"), col("n_dup_shingles"),
        array_join(
          slice(col("toks"), col("span_start").cast("int"), col("span_len").cast("int")),
          " ").as("span_text"))
      .orderBy("doc_id", "span_start")
  }

  /** (doc_id, token array) projection of the lake — split() appears ONCE
    * and is consumed by a single slice per row downstream, so expression
    * inlining is safe here (contrast the positional-shingle kernel). */
  private[graft] def tokenArrays(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))

  /** Deterministic hash-based train/val/test split — the standard
    * at-scale split: no RNG state, no shuffle, no sampling pass;
    * membership is a pure function of the document id, so it is stable
    * across runs, engines, partitionings, and corpus growth (adding
    * documents never moves an existing one between splits — the
    * property a random split lacks and the reason hash splits are the
    * production default).
    *
    * bucket = (lower 64 bits of md5("split:" || doc_id), unsigned)
    * mod 100 — the same md5-lower-64 contract the SimHash/winnowing/CDC
    * family already reproduces in DuckDB (`md5_number_lower`); the
    * "split:" salt domain-separates this hash from every other md5 use
    * of the id. train < 90, val < 95, test otherwise. Fully
    * declarative (conv/substring/pmod — codegen'd, no kernel): ONE
    * narrow pass, the only exchange is the presentation sort. */
  def qd25HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(md5Lower64Decimal(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100)).cast("int")
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** qd35: LEAKAGE-SAFE train/val/test split — qd25 keyed by the
    * near-duplicate CLUSTER instead of the document. A plain per-doc
    * hash split scatters near-identical documents across sides, so the
    * test set silently contains paraphrases of training documents —
    * the dup-leakage contamination Lee et al. 2021 measured in real
    * pretraining sets. Here every document inherits its q33 cluster
    * representative (its own id when unclustered), and the qd25 bucket
    * hash is applied to the REP — so a whole near-dup cluster lands on
    * one side by construction, and unclustered documents get exactly
    * their qd25 assignment (spec-asserted), making this a drop-in
    * upgrade, not a reshuffle.
    *
    * Scale shape: the cluster map rides the session-memoized MinHash
    * signature/pair graph (shared with q33/qs1/qd10 — no new corpus
    * pass), the join is two skinny long columns, and the split itself
    * is the same codegen'd conv/substring hash as qd25. */
  def qd35LeakSafeSplit(spark: SparkSession, dir: String): DataFrame =
    leakSafeSplitFrom(docs(spark, dir),
      graft.dedup.Clusters.q33DedupClusters(spark, dir))

  /** The qd35 tail over an explicit (doc_id, cluster_rep) map —
    * factored so the streaming form (qs25) applies the SAME rep-keyed
    * bucket hash to clusters resolved from its accumulated pair
    * state. */
  private[graft] def leakSafeSplitFrom(docsDf: DataFrame,
                                       clusters: DataFrame): DataFrame = {
    val bucket = pmod(md5Lower64Decimal(
      concat(lit("split:"), col("rep").cast("string"))), lit(100)).cast("int")
    docsDf.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** qd36: PageRank over the shared-distinctive-phrase graph — the
    * graph-centrality quality signal corpus pipelines compute over
    * link/similarity graphs (CommonCrawl-derived sets rank hosts by
    * harmonic/PageRank centrality). Two documents are linked when they
    * share a RARE 3-gram shingle (document frequency 2..5): rare
    * phrases are the citation/plagiarism signal — common trigrams say
    * nothing, near-dup cliques (jaccard ≥ 0.8 here is all near-exact
    * copies) give degree-REGULAR components where PageRank is provably
    * uniform and vacuous, while the rare-phrase graph's degrees span
    * 5..93 at the gate. The df ≤ 5 cap also IS the scale story: each
    * rare shingle contributes ≤ C(5,2) = 10 pairs, so the posting join
    * has bounded fanout — the classic drop-hub-keys trick that keeps
    * the edge build linear where a raw shingle self-join is quadratic
    * in the hottest posting.
    *
    * The iteration is ENGINE-DETERMINISTIC integer PageRank:
    * r₀ = 1e6 per node; each step a node emits
    * (r × 85) div (deg × 100) along every edge (damping 0.85 and the
    * 1/deg split in one exact floor division) and collects the
    * 0.15 × 1e6 teleport plus the order-free integer inflow sum. Floor
    * losses mean mass is not exactly conserved — the documented price
    * of bit-exact cross-engine iteration (the ADC/nano-nat trade
    * applied to graph propagation).
    *
    * Scale shape: shingle inverted index → df-bounded rare postings →
    * one bounded-fanout self-join for edges; then K Pregel-style
    * iterations, each one shuffle of skinny (dst, contribution) longs.
    * The edge-build subtree (tokenize → shingle → rare-df → posting
    * self-join) is localCheckpointed ONCE into a skinny
    * (src, dst, deg) relation, and each iteration's rank frame is
    * localCheckpointed before the rebind — without both truncations
    * every iteration's plan re-embeds the whole edge subtree and the
    * logical tree grows with K (the iterative-algorithm trap
    * `Clusters.connectedComponents` already guards against). With
    * them, iteration depth is a constant-size plan per step and K=10+
    * centrality runs pay ~K skinny shuffles, not K re-derivations. */
  def qd36PageRank(spark: SparkSession, dir: String,
                   iters: Int = DefaultPageRankIters,
                   localEdgeGate: Long = PageRankLocalEdgeGate): DataFrame = {
    val toksArr = docs(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
    val sh = toksArr.select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3)," +
          " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
        .as("s"))
    // rare-posting extraction as ONE pass over the shingle stream: a
    // count window over s (single shuffle+sort) replaces the old
    // groupBy(df) + join-back, whose probe side re-derived the whole
    // tokenize→shingle lineage a second time (the qs16 count-window
    // precedent). The surviving postings are df-bounded (≤ 5 rows per
    // rare shingle), so materializing them is O(rare), not O(corpus) —
    // checkpoint post and pairs once and every downstream consumer
    // (self-join, deg, edgesDeg, iterations) reads skinny blocks
    // instead of re-deriving the corpus subtree (profiled at sf0.1:
    // the old shape paid the full lineage twice more for deg/edgesDeg,
    // ~3.4 s warm; this shape pays it once, ~1.4 s).
    val wS = org.apache.spark.sql.expressions.Window.partitionBy("s")
    val post = graft.plans.ScaleTechniques.iterCheckpoint(
      sh.withColumn("df", count(lit(1)).over(wS))
        .filter(col("df").between(2, 5))
        .select(col("s"), col("doc_id")))
    val pairs = graft.plans.ScaleTechniques.iterCheckpoint(
      post.as("a")
        .join(post.as("b"), Seq("s"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val degPlan = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDegPlan = edges.join(degPlan, "src")
      .select(col("src"), col("dst"), col("deg"))
    // size gate (the localCC/bpeTrainLocal/MMR-greedy precedent): the
    // rare-shingle graph is df-BOUNDED (≤ C(5,2) pairs per rare
    // shingle), never corpus-shaped, so up to the gate the whole
    // 10-step integer Pregel runs driver-local over ONE bounded collect
    // — zero jobs per iteration where the distributed loop paid a
    // 2-step materialization (join + aggregate exchanges) every second
    // step. The arithmetic is identical integer math ((r*85) div
    // (deg*100), order-free integer sums), so the ranks are
    // bit-identical — spec-asserted against the distributed loop.
    // limit(gate+1) makes the gate probe and the gated collect one job.
    val probe = edgesDegPlan.limit(
      math.min(localEdgeGate + 1, Int.MaxValue.toLong).toInt).collect()
    if (probe.length <= localEdgeGate)
      return pageRankLocal(spark, probe, iters)
    val deg = graft.plans.ScaleTechniques.iterCheckpoint(degPlan)
    val edgesDeg = graft.plans.ScaleTechniques.iterCheckpoint(
      edges.join(deg, "src")
        .select(col("src"), col("dst"), col("deg")))
    // the rank frame keeps the JOIN KEY NAME (`src`) through the whole
    // loop: each groupBy("src") leaves the checkpointed rank frame
    // hash-partitioned by the SAME attribute the next iteration joins
    // on (LogicalRDD preserves the physical partitioning), so the
    // per-step join needs NO exchange on either side — the old
    // node→src rename minted a fresh attribute every step and
    // re-shuffled the rank frame each iteration. One skinny exchange
    // per step remains: the (dst → inflow) aggregation, the
    // irreducible Pregel shuffle.
    var r = deg.select(col("src"), lit(1000000L).as("r"))
    val chain = new graft.plans.ScaleTechniques.CheckpointChain
    (1 to iters).foreach { it =>
      val inflow = edgesDeg
        .join(r, "src")
        .select(col("dst").as("src"),
          expr("(r * 85) div (deg * 100)").as("c"))
        .groupBy("src").agg(sum("c").as("inflow"))
      // every node of the undirected graph has degree >= 1, so inflow
      // covers all nodes — an inner join loses nobody. The checkpoint
      // truncates the rank lineage every SECOND step (plan depth stays
      // bounded at two fused steps, halving the per-iteration job
      // launches that dominate the loop on small-diameter graphs);
      // superseded generations' blocks are reclaimed by the
      // ContextCleaner once the rebind drops the last reference.
      val next = inflow.select(col("src"),
        (lit(150000L) + col("inflow")).as("r"))
      r = if (it % 2 == 0 || it == iters) chain.next(next) else next
    }
    r.join(deg, "src")
      .select(col("src").as("doc_id"), col("deg").cast("long").as("degree"),
        col("r").as("rank_units"))
      .orderBy(col("rank_units").desc, col("doc_id"))
  }

  /** Default PageRank iteration depth for qd36 — shared with the
    * DuckDB oracle's generated iteration CTEs so code and oracle can
    * never silently desync on K. 10 steps is a real centrality run
    * (rank mass within integer-floor noise of fixpoint on the small-
    * diameter rare-shingle graph), not the 3-step smoke the operator
    * first shipped with. */
  val DefaultPageRankIters = 10

  /** Edge-count gate for the driver-local PageRank loop (the
    * connectedComponents localThreshold convention): ≤ 1M (src, dst,
    * deg) rows is ~24 MB on the driver. */
  private[graft] val PageRankLocalEdgeGate = 1000000L

  /** Driver kernel for the gated fast path: the SAME 10-step integer
    * Pregel — inflow(dst) = Σ over incoming edges of
    * (r(src) * 85) div (deg(src) * 100), next r = 150000 + inflow —
    * over the collected (src, dst, deg) edge list, with zero
    * per-iteration job launches. Every node of the undirected graph
    * has an incoming edge, so inflow covers all nodes, exactly like
    * the distributed loop's inner join. Integer divisions and
    * order-free integer sums make the ranks bit-identical to the
    * distributed loop (spec-asserted). */
  private def pageRankLocal(spark: SparkSession,
                            edges: Array[org.apache.spark.sql.Row],
                            iters: Int): DataFrame = {
    import spark.implicits._
    val src = new Array[Long](edges.length)
    val dst = new Array[Long](edges.length)
    val deg = new Array[Long](edges.length)
    var i = 0
    while (i < edges.length) {
      val e = edges(i)
      src(i) = e.getLong(0); dst(i) = e.getLong(1); deg(i) = e.getLong(2)
      i += 1
    }
    var r = scala.collection.mutable.HashMap.empty[Long, Long]
    i = 0
    while (i < edges.length) { r(src(i)) = 1000000L; i += 1 }
    var it = 1
    while (it <= iters) {
      val inflow = scala.collection.mutable.HashMap.empty[Long, Long]
      i = 0
      while (i < edges.length) {
        val c = (r(src(i)) * 85L) / (deg(i) * 100L)
        inflow(dst(i)) = inflow.getOrElse(dst(i), 0L) + c
        i += 1
      }
      r = inflow.map { case (k, v) => k -> (150000L + v) }
      it += 1
    }
    val nodeDeg = scala.collection.mutable.HashMap.empty[Long, Long]
    i = 0
    while (i < edges.length) { nodeDeg(src(i)) = deg(i); i += 1 }
    r.toSeq.map { case (id, ru) => (id, nodeDeg(id), ru) }
      .toDF("doc_id", "degree", "rank_units")
      .orderBy(col("rank_units").desc, col("doc_id"))
  }

  /** Shared operator defaults, interpolated into the DuckDB oracle SQL
    * (SparkEntry) from the SAME values the operators default to — a
    * changed default now desyncs nothing; both sides move together. */
  val DefaultCmsWidth = 16
  val DefaultCmsDepth = 4
  val DefaultMixtureBudget = 100
  val DefaultBpeMerges = 32
  val DefaultPackBudget = 512

  /** doc_ids per cumsum shard (shardedCumsum): small enough that the
    * gate corpora exercise ≥2 shards (sf0.01 = 500 docs → 4 shards),
    * large enough that the per-shard-totals frame is negligible. At
    * 100 TB this is the knob: span ~2^20 docs keeps the totals frame
    * at ~corpus/2^20 skinny rows while each shard's window stays a
    * single executor's work. */
  val DefaultCumsumShardSpan = 128L

  /** Two-phase sharded cumulative running sum — the 100-TB form of a
    * global-order cumsum, replacing the engine's last
    * corpus-proportional single-partition window (qd20/qd38/qd39).
    * Phase 1 cuts the stream into contiguous doc_id-range shards
    * (`shard = orderCols.head div span` — contiguity is what lets
    * shard order stand in for global order) and runs the running sum
    * WITHIN each shard under a hash-partitioned window. Phase 2
    * aggregates ONE skinny (shard, total) row per shard, prefix-sums
    * that corpus/span-sized frame (the only remaining ordered window —
    * ~10^4 rows at 10^10 docs with span 2^20), and broadcast-joins
    * each shard's exclusive base offset back. `cum` = base + local
    * running sum is exact integer math, so the result is byte-identical
    * to the single-window form — proven by the unchanged qd20/qd38/qd39
    * oracles (DuckDB computes the naive global window). */
  private[graft] def shardedCumsum(df: DataFrame, valueCol: String,
                                   orderCols: Seq[String],
                                   span: Long = DefaultCumsumShardSpan): DataFrame = {
    val sharded = df.withColumn("__shard", expr(s"${orderCols.head} div $span"))
    val local = Window.partitionBy("__shard")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val shardW = Window.orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = sharded.groupBy("__shard")
      .agg(sum(valueCol).as("__tot"))
      .withColumn("__base", sum("__tot").over(shardW) - col("__tot"))
      .select("__shard", "__base")
    sharded
      .join(broadcast(bases), "__shard")
      .withColumn("cum", col("__base") + sum(valueCol).over(local))
      .drop("__shard", "__base")
  }

  /** Lower 64 bits of md5(input) as an UNSIGNED decimal(20,0) — the
    * declarative (conv/substring, fully codegen'd) form of
    * `SimHash.md5Lower64String`, bit-equal to DuckDB's
    * `md5_number_lower`. md5_number_lower reads digest bytes 8..15
    * LITTLE-endian, so the hex byte pairs are reversed before conv's
    * big-endian parse; conv yields the unsigned decimal string, exact
    * through decimal(20,0). Shared by qd25 (split buckets), qd26
    * (feature-hash buckets + target membership) and qd40 (hashed-TF
    * retrieval buckets). */
  private[graft] def md5Lower64Decimal(input: Column): Column = {
    val hex = md5(input)
    val leHex = concat((7 to 0 by -1).map(i => substring(hex, 17 + 2 * i, 2)): _*)
    conv(leHex, 16, 10).cast("decimal(20,0)")
  }

  /** Hashed-bigram importance weights for data selection — the DSIR
    * scheme (Xie et al., "Data Selection for Language Models via
    * Importance Resampling", NeurIPS 2023): score every RAW-pool
    * document by how much more likely its features are under a TARGET
    * distribution than under the raw pool itself, using hashed n-gram
    * bag-of-words models whose parameter count is FIXED (B buckets)
    * regardless of corpus size — the property that makes the method a
    * 100 TB staple where a full vocabulary LM would not fit a broadcast.
    *
    * Concretely: word bigrams hash into B = 1024 buckets
    * (`md5_number_lower("dsir:" || bigram) mod B` — the qd25 hash
    * contract, domain-separated by the salt); the TARGET sample is the
    * deterministic ~5% of documents with
    * `md5_number_lower("dsir:" || doc_id) mod 20 = 0` (standing in for
    * the curated target corpus — Wikipedia/books in the paper — so the
    * operator stays self-contained on the lake, the qd24 eval-set
    * convention); both distributions are add-one smoothed over the B
    * buckets; a raw document's score is the MEAN per-occurrence log
    * ratio `ln p_target(b) − ln p_raw(b)` (the paper's log importance
    * weight, length-normalized like qd18/qd21, rounded 6dp inside the
    * avg's operand like every float oracle here).
    *
    * Scale shape: the bigram stream is ONE typed kernel pass (the qd23
    * kernel rule — a `transform`/`element_at` lambda re-inlines `split()`
    * under every element access after CollapseProject) whose skinny
    * (doc, is_target, bucket) output is eagerly localCheckpointed: the
    * plan reads it THREE times (target/raw counts feeding the totals and
    * the log-ratio table, plus the per-doc scoring join), and without the
    * materialization each consumer re-tokenized and re-hashed the corpus
    * (measured 3× the whole operator, 64.6 → ~8 s at sf1 with the int
    * bucket below). The bucket itself is plain int arithmetic on the two
    * LEAST-significant little-endian md5 digest bytes (hex chars 17-20):
    * with B | 2¹⁶, 2¹⁶ ≡ 0 (mod B), so those two bytes determine
    * `md5_number_lower mod B` exactly and the decimal(20,0) conv+pmod
    * form (measured 3× the per-row cost of the md5 itself) is never
    * built. The two count tables partial-aggregate map-side down to ≤ B
    * rows each, so the only full-width exchange is the per-doc groupBy,
    * and the bucket→log-ratio table joins as a B-row BROADCAST: feature
    * statistics never shuffle with the corpus. No per-(doc, bucket)
    * pre-aggregate for the same measured reason as qd21 — short docs
    * rarely repeat a bucket, so pre-grouping shrinks nothing and costs
    * a second full shuffle. Docs with < 2 tokens have no features and
    * are absent, as in qd21. At 100 TB the checkpoint trades ~16 bytes ×
    * bigram-count of local disk per pass for two re-tokenizations of the
    * corpus — the right side of that trade at every scale; a cluster
    * deployment would persist the same skinny table instead. */
  def qd26DsirWeights(spark: SparkSession, dir: String, buckets: Int = 1024): DataFrame = {
    val bi = dsirBucketed(docs(spark, dir), buckets).localCheckpoint(true)
    dsirScore(bi, dsirLogRatios(bi, buckets)).orderBy("doc_id")
  }

  /** DSIR target-sample membership of a `doc_id` column — the
    * deterministic ~5% (`md5_number_lower("dsir:" || id) mod 20 = 0`)
    * standing in for the curated target corpus. A pure function of the
    * id, so the streaming form (qs17) can SPLIT a micro-batch into its
    * target/raw sides BEFORE tokenizing (the target side's model delta
    * needs no per-doc rows, so 95% of the batch skips that kernel
    * pass), guaranteed consistent with the `is_t` the kernel emits. */
  private[graft] def dsirIsTarget(docId: Column): Column =
    pmod(md5Lower64Decimal(
      concat(lit("dsir:"), docId.cast("string"))), lit(20)) === 0

  /** The DSIR hashed-bigram stream of a documents frame: (doc_id,
    * is_target, bucket), one typed kernel pass (see qd26's scaladoc for
    * the kernel + int-bucket rationale). Shared by qd26 (which
    * checkpoints it — its plan reads the stream three times) and the
    * per-batch deltas of the streaming form (qs17 — each micro-batch
    * is its own stream, consumed once). */
  private[graft] def dsirBucketed(docsDf: DataFrame, buckets: Int): DataFrame = {
    require(65536 % buckets == 0,
      s"buckets ($buckets) must divide 2^16: the bucket is computed from the"
        + " two low little-endian md5 bytes, exact only when 2^16 = 0 mod B")
    val spark = docsDf.sparkSession
    import spark.implicits._
    val isTarget = dsirIsTarget(col("doc_id"))
    val bg = docsDf
      .select(col("doc_id"), isTarget.as("is_t"), col("text"))
      .as[(Long, Boolean, String)]
      .flatMap { case (id, isT, text) =>
        val t = text.trim.split("\\s+")
        (0 until t.length - 1).iterator.map(i => (id, isT, t(i) + " " + t(i + 1)))
      }
      .toDF("doc_id", "is_t", "bg")
    val hex = md5(concat(lit("dsir:"), col("bg")))
    val bucketCol = (conv(substring(hex, 17, 2), 16, 10).cast("int")
      + conv(substring(hex, 19, 2), 16, 10).cast("int") * 256) % buckets
    bg.select(col("doc_id"), col("is_t"), bucketCol.cast("int").as("bucket"))
  }

  /** The add-one-smoothed per-bucket log importance ratio table (≤ B
    * rows) of a (doc_id, is_t, bucket) stream — the DSIR model. */
  private[graft] def dsirLogRatios(bi: DataFrame, buckets: Int): DataFrame =
    dsirModel(bi.groupBy("bucket").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cr")), buckets)

  /** The DSIR model from its sufficient statistics: a (bucket, ct, cr)
    * count table (≤ B rows — target / raw feature counts) to the
    * add-one-smoothed log importance ratio per bucket. Split from
    * `dsirLogRatios` so the streaming form (qs17) can fold its
    * accumulated per-batch count DELTAS — ct/cr are order-insensitive
    * sum monoids — into the identical model at read time. */
  private[graft] def dsirModel(cnt: DataFrame, buckets: Int): DataFrame = {
    val tot = cnt.agg(sum("ct").cast("double").as("nt"),
      sum("cr").cast("double").as("nr"))
    cnt.crossJoin(broadcast(tot)).select(col("bucket"),
      (log((col("ct") + 1).cast("double") / (col("nt") + buckets))
        - log((col("cr") + 1).cast("double") / (col("nr") + buckets)))
        .as("logratio"))
  }

  /** Per-raw-document mean log importance ratio of a bucketed bigram
    * stream under a (broadcast) model table — qd26's scoring tail,
    * unordered so the streaming form can apply it per micro-batch. */
  private[graft] def dsirScore(bi: DataFrame, logRatio: DataFrame): DataFrame =
    bi.filter(!col("is_t"))
      .join(broadcast(logRatio), Seq("bucket"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(col("logratio")), 6).as("dsir_logratio"))

  /** `dsirScore` over PRE-AGGREGATED (doc_id, bucket, n) feature rows —
    * the shape the streaming state stores (each doc's bucket histogram,
    * appended once in the batch where the doc arrives). The weighted
    * mean Σ n·logratio / Σ n is the same real number as the instance
    * mean; in doubles the two summation orders can differ in the last
    * bits, well inside the 6-dp rounding that the whole qd18/qd21/qd26
    * family already relies on for cross-engine (Spark vs DuckDB) hash
    * equality. */
  private[graft] def dsirScoreWeighted(feat: DataFrame, logRatio: DataFrame): DataFrame =
    feat
      .join(broadcast(logRatio), Seq("bucket"))
      .groupBy("doc_id")
      .agg(
        sum("n").as("n_bigrams"),
        round(sum(col("n") * col("logratio")) / sum(col("n")), 6)
          .as("dsir_logratio"))

  /** Tokenizer-vocabulary induction: the corpus-wide symbol-pair counts
    * that drive a BPE merge step (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016) — each
    * word is a character sequence closed by the `</w>` end-of-word
    * marker, every adjacent symbol pair is weighted by the word's corpus
    * frequency, and the top-K pairs are the merge candidates (the
    * argmax of iteration 1; the full training loop repeats this count
    * after applying the winning merge).
    *
    * Scale shape — the reason BPE training is feasible on a 100 TB
    * corpus at all: pair statistics are computed over the DISTINCT-WORD
    * vocabulary (Heaps'-law sublinear, millions of rows) weighted by
    * word counts, never over the token stream. The token-stream groupBy
    * that builds the vocabulary is the qd9/qd18 aggregate (one shuffle,
    * map-side partial); the char-pair explode then touches only vocab
    * rows, and the pair aggregate is bounded by the symbol alphabet
    * squared — tiny, so the final top-K window's single-partition sort
    * is over an alphabet²-sized frame, not data-sized. */
  def qd27BpePairs(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val vocab = terms(spark, dir).groupBy("term").agg(count(lit(1)).as("wc"))
    val pairs = vocab
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(term)), i -> struct(" +
          "substring(term, i, 1) AS a, " +
          "CASE WHEN i = length(term) THEN '</w>'" +
          " ELSE substring(term, i + 1, 1) END AS b))")).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum("wc").as("n_occ"))
    pairs
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("sym_a"), col("sym_b"))))
      .filter(col("rank") <= topK)
      .select(col("rank").cast("long").as("rank"),
        col("sym_a"), col("sym_b"), col("n_occ"))
      .orderBy("rank")
  }

  /** Iterative BPE training — qd27's merge step actually LOOPED: each
    * iteration counts adjacent symbol pairs over the weighted
    * vocabulary, takes the argmax (qd27's exact ordering — count desc,
    * then sym_a, sym_b), applies that merge to every word greedily
    * left-to-right non-overlapping (Sennrich et al. 2016's merge
    * semantics), and recounts. Output: one row per iteration — the
    * winning pair and its pre-merge occurrence count — i.e. the first
    * `nMerges` entries of the learned merge table, the artifact a BPE
    * tokenizer ships.
    *
    * Scale shape, inherited from qd27 and the reason the LOOP stays
    * feasible at 100 TB: the token stream is touched exactly once (the
    * vocabulary groupBy); every iteration after that is one kernel pass
    * over the DISTINCT-WORD vocabulary (Heaps'-law sublinear) plus an
    * alphabet²-bounded pair aggregate, so a production run's thousands
    * of merges cost thousands of vocab-sized passes, never corpus-sized
    * ones. The per-iteration argmax is a 1-ROW collect of that bounded
    * aggregate (driver-side by design — it parameterizes the next
    * plan); the evolving vocabulary is eagerly localCheckpointed per
    * iteration so iteration k re-reads materialized symbols, not a
    * k-deep merge lineage over the corpus.
    *
    * DEPTH (r9): a shipped tokenizer runs hundreds of merges, and at
    * N=32+ the per-iteration job-launch overhead of the distributed
    * loop dominates a small vocabulary. So the trainer is SIZE-GATED
    * like the union-find at `dedup/Clusters.scala`: a vocabulary within
    * `BpeDriverVocabGate` distinct terms (Heaps' law puts even 100 TB
    * corpora in the ~100M range; the gate is deliberately far below
    * driver heap) collects ONCE and runs all N merges in a driver
    * kernel — identical greedy/tie-break semantics, UTF-8-byte string
    * order matching Spark/DuckDB binary collation — while a vocabulary
    * over the gate runs the original one-job-per-iteration distributed
    * loop. Default depth is 32 (was 3), proving the vocab-bounded claim
    * at real depth. */
  def qd28BpeMerges(spark: SparkSession, dir: String,
                    nMerges: Int = DefaultBpeMerges): DataFrame =
    bpeTrainMemo(spark, dir, nMerges)._1

  // Trained BPE models (merge table + post-merge vocabulary), memoized
  // per (session, corpus contents, depth) — the MinHash-signature memo
  // policy: a tokenizer is trained ONCE per corpus and served to every
  // consumer (qd28/qd29/qd38/qd39 each paid the full terms-groupBy +
  // collect + train), the memo is billed to its first consumer within a
  // bench pass, and the bench clears it at every pass boundary so each
  // pass pays training exactly once. Values are driver-pure (collected
  // rows), so no Spark blocks can dangle on a failure; `None` marks a
  // corpus above the vocabulary gate.
  private val bpeModels = new SessionMemo[String, Option[(
    Array[(Long, String, String, Long)], Array[(String, Seq[String], Long)])]](_ => ())

  /** Corpus-trained BPE model via the session memo: (merge table,
    * post-merge vocabulary), both rebuilt as local relations from the
    * cached driver-held rows — every consumer reconstructs the identical
    * frames.
    *
    * The memo is GATED on the same vocabulary bound as the trainer
    * (`BpeDriverVocabGate`): within the gate `bpeTrain` took the driver
    * path, so its outputs are already driver-held local relations and
    * the collect is free. ABOVE the gate the trainer deliberately stays
    * distributed — collecting that vocabulary to memoize it would
    * re-import the driver-OOM risk the gate exists to prevent (ADVICE
    * r20), so the distributed frames are returned uncached and each
    * consumer re-derives them (the pre-memo behavior, correct at any
    * scale). */
  private[graft] def bpeTrainMemo(spark: SparkSession, dir: String,
                                  nMerges: Int)
      : (DataFrame, Dataset[(String, Seq[String], Long)]) = {
    import spark.implicits._
    def train() = bpeTrainCounted(bpeV0(spark, dir), nMerges)
    var distributed: Option[(DataFrame, Dataset[(String, Seq[String], Long)])] = None
    val model = bpeModels.getOrBuild(spark,
        SessionMemo.of(s"$dir/documents.parquet") / s"bpe|$nMerges") {
      val (mt, vocab, nTerms) = train()
      if (nTerms > BpeDriverVocabGate) { distributed = Some((mt, vocab)); None }
      else Some((mt.as[(Long, String, String, Long)].collect(), vocab.collect()))
    }
    model match {
      case Some((mt, vocab)) =>
        (spark.createDataset(mt.toSeq)
          .toDF("iter", "sym_a", "sym_b", "n_occ").orderBy("iter"),
          spark.createDataset(vocab.toSeq))
      case None =>
        distributed.getOrElse { val (mt, vocab, _) = train(); (mt, vocab) }
    }
  }

  /** The weighted character-level start vocabulary every BPE entry
    * trains from: (term, code-point symbols + '</w>', corpus count) —
    * factored so qd28/qd29/qd38 and the specs share ONE definition of
    * what symbol stream the merges see. */
  private[graft] def bpeV0(spark: SparkSession,
                           dir: String): Dataset[(String, Seq[String], Long)] = {
    import spark.implicits._
    terms(spark, dir)
      .groupBy("term").agg(count(lit(1)).as("wc"))
      .filter(col("term") =!= "") // DuckDB string_split('','') is []: no symbols
      .as[(String, Long)]
      .map { case (t, wc) => (t, codePointSyms(t) :+ "</w>", wc) }
  }

  /** Unicode-code-point split. `String.split("")` splits UTF-16 code
    * units, so a non-BMP character (emoji, rare CJK) would yield
    * surrogate-half symbols while the oracle's `string_split(term, '')`
    * splits code points — a latent Spark-vs-DuckDB parity break
    * (ADVICE r8). */
  private[graft] def codePointSyms(t: String): Seq[String] = {
    val b = Seq.newBuilder[String]
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b.result()
  }

  /** Unsigned UTF-8 byte-order comparison — the binary collation Spark's
    * UTF8String and DuckDB VARCHAR both sort by. Java's
    * `String.compareTo` (UTF-16 code units) disagrees for supplementary
    * characters, so the driver-side argmax must not use it. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Vocabularies within this many distinct terms train driver-side. */
  private[graft] val BpeDriverVocabGate = 1000000L

  /** The merge loop of qd28 over an explicit (symbols, weight)
    * vocabulary — factored so specs can drive planted vocabularies
    * through the exact greedy/tie-break semantics the oracle mirrors. */
  private[graft] def bpeMerges(v0: Dataset[(Seq[String], Long)],
                               nMerges: Int,
                               driverGate: Long = BpeDriverVocabGate): DataFrame = {
    val spark = v0.sparkSession
    import spark.implicits._
    bpeTrain(v0.map { case (syms, wc) => ("", syms, wc) }, nMerges, driverGate)._1
  }

  /** qd28/qd29 shared trainer: runs the merge loop over a (term,
    * symbols, weight) vocabulary and returns BOTH the merge table and
    * the post-merge vocabulary (the term column rides along untouched
    * so qd29 can join the encoded symbol counts back onto the token
    * stream). */
  private[graft] def bpeTrain(v0In: Dataset[(String, Seq[String], Long)],
                              nMerges: Int,
                              driverGate: Long = BpeDriverVocabGate): (DataFrame, Dataset[(String, Seq[String], Long)]) = {
    val (mt, vocab, _) = bpeTrainCounted(v0In, nMerges, driverGate)
    (mt, vocab)
  }

  /** As `bpeTrain`, additionally returning the start-vocabulary term
    * count — the gate decision the memo (`bpeTrainMemo`) needs to know
    * whether the returned frames are driver-held (safe to collect) or
    * deliberately distributed. */
  private[graft] def bpeTrainCounted(v0In: Dataset[(String, Seq[String], Long)],
                                     nMerges: Int,
                                     driverGate: Long = BpeDriverVocabGate): (DataFrame, Dataset[(String, Seq[String], Long)], Long) = {
    val spark = v0In.sparkSession
    import spark.implicits._
    // generation-bounded iterative checkpointing (the CC/PageRank/MMR
    // discipline): each merge supersedes the previous vocabulary, so the
    // chain reclaims it as soon as the next generation materializes —
    // and under spark.graft.checkpointDir the generations are RELIABLE,
    // surviving executor loss mid-training on a real cluster
    val chain = new graft.plans.ScaleTechniques.CheckpointChain
    def gen(ds: Dataset[(String, Seq[String], Long)]) =
      chain.next(ds.toDF("term", "syms", "wc"))
        .as[(String, Seq[String], Long)]
    var vocab = gen(v0In)
    val nTerms = vocab.count()
    if (nTerms <= driverGate) {
      val (mt, v) = bpeTrainLocal(spark, vocab.collect(), nMerges)
      return (mt, v, nTerms)
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= nMerges && !exhausted) {
      val pairs = vocab
        .flatMap { case (_, syms, wc) =>
          syms.iterator.sliding(2).withPartial(false)
            .map(p => (p(0), p(1), wc))
        }
        .toDF("sym_a", "sym_b", "wc")
        .groupBy("sym_a", "sym_b").agg(sum("wc").as("n_occ"))
      // 1-row collect of the alphabet²-bounded aggregate: the winning
      // pair parameterizes the next iteration's plan
      val win = pairs
        .orderBy(col("n_occ").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (win.isEmpty) {
        // vocabulary degenerated to single-symbol words: nothing to merge
        exhausted = true
      } else {
        val (a, b, n) = (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        merges += ((it.toLong, a, b, n))
        vocab = gen(vocab.map { case (t, syms, wc) =>
          val out = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2 // greedy, non-overlapping, left-to-right
            } else { out += syms(i); i += 1 }
          }
          (t, out.result(), wc)
        })
        it += 1
      }
    }
    (merges.result().toDF("iter", "sym_a", "sym_b", "n_occ").orderBy("iter"),
      vocab, nTerms)
  }

  /** Driver kernel for the gated fast path: the SAME merge loop —
    * weighted adjacent-pair counts, argmax by (count desc, sym_a,
    * sym_b) in UTF-8 byte order, greedy left-to-right non-overlapping
    * application, graceful stop on exhaustion — over the collected
    * vocabulary, with zero per-iteration job launches. N=32 merges over
    * a 50k-term vocabulary run in milliseconds here where the
    * distributed loop paid 64 scheduler round-trips. */
  private def bpeTrainLocal(spark: SparkSession,
                            v0: Array[(String, Seq[String], Long)],
                            nMerges: Int): (DataFrame, Dataset[(String, Seq[String], Long)]) = {
    import spark.implicits._
    val termArr = v0.map(_._1)
    val weights = v0.map(_._3)
    val syms: Array[Array[String]] = v0.map(_._2.toArray)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= nMerges && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < syms.length) {
        val s = syms(w); val wc = weights(w)
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + wc)
          i += 1
        }
        w += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        pc.foreach { case (k, n) =>
          if (best == null || n > best._2 ||
              (n == best._2 && (utf8Lt(k._1, best._1._1) ||
                (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
            best = (k, n)
        }
        val ((a, b), n) = best
        merges += ((it.toLong, a, b, n))
        w = 0
        while (w < syms.length) {
          val s = syms(w)
          var hit = false
          var i = 0
          while (!hit && i + 1 < s.length) {
            hit = s(i) == a && s(i + 1) == b; i += 1
          }
          if (hit) {
            val out = Array.newBuilder[String]
            i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += a + b; i += 2
              } else { out += s(i); i += 1 }
            }
            syms(w) = out.result()
          }
          w += 1
        }
        it += 1
      }
    }
    val outVocab = termArr.indices.map(i => (termArr(i), syms(i).toSeq, weights(i)))
    (merges.result().toDF("iter", "sym_a", "sym_b", "n_occ").orderBy("iter"),
      spark.createDataset(outVocab))
  }

  /** BPE corpus ENCODING under the induced vocabulary — the second half
    * of the tokenizer story qd27/qd28 begin: train the first `nMerges`
    * merges (qd28's exact loop), then tokenize every document with the
    * resulting subword vocabulary and report per-document token counts
    * and the compression the merges bought (tokens per word shrinks as
    * merges land; a 1.0 ratio to character count would mean no merge
    * ever applied).
    *
    * Scale shape: encoding is a JOIN of the token stream against the
    * BROADCAST post-merge vocabulary (term → symbol count) — the
    * corpus-sized side never carries symbol arrays, only its existing
    * terms, and the vocabulary is the Heaps'-law distinct-word table
    * the trainer already owns. One corpus-wide aggregate (per-doc sum)
    * closes it. A production encoder ships the merge TABLE (qd28's
    * output) and applies it in a per-row kernel instead; the join form
    * here keeps the whole operator's arithmetic in one place and its
    * cost profile identical (one broadcast + one groupBy). */
  def qd29BpeEncode(spark: SparkSession, dir: String,
                    nMerges: Int = DefaultBpeMerges): DataFrame = {
    import spark.implicits._
    val vocab = bpeTrainMemo(spark, dir, nMerges)._2
      .map { case (t, syms, _) => (t, syms.length.toLong) }
      .toDF("term", "n_syms")
    terms(spark, dir)
      .join(broadcast(vocab), Seq("term"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_syms").as("n_tokens"),
        round(sum("n_syms") / count(lit(1)).cast("double"), 6)
          .as("tokens_per_word"))
      .orderBy("doc_id")
  }

  /** qd38: PACKED TOKEN-ID SEQUENCES — the artifact a training loader
    * actually consumes, closing the induce→encode→pack loop qd27/qd28
    * (induce), qd29 (encode to counts) and qd20 (pack by counts) each
    * walk part of: train the `nMerges` BPE merges, assign every
    * post-merge SUBWORD a dense integer id (rank in binary-collation
    * sort order — engine-agnostic), encode the whole corpus (docs in
    * doc_id order, words in order, subwords in order) into one global
    * token-id stream, and cut it into gapless fixed-`budget` training
    * rows. Each output row is one training sequence: its id, its token
    * count (= budget except the final remainder), and the
    * space-joined ids — documents straddle boundaries exactly as in
    * qd20, and a detokenize round-trip (spec) reconstructs the corpus
    * byte-for-byte, so nothing is lost between the tokenizer and the
    * loader.
    *
    * Scale shape: the subword id table is TINY (alphabet + ≤ nMerges
    * entries — collected and broadcast); term→ids is the Heaps'-law
    * vocabulary table broadcast exactly like qd29's encode join; the
    * corpus pays one posexplode + one SHARDED two-phase cumsum
    * (`shardedCumsum` — per-shard hash-partitioned windows plus a
    * broadcast base-offset frame, no global-order task) + ONE
    * groupBy(seq_id) whose groups are budget-bounded, aggregated with
    * a sort-on-finish list (≤ budget elements per group, never a
    * corpus-wide sort). */
  def qd38PackedSequences(spark: SparkSession, dir: String,
                          nMerges: Int = DefaultBpeMerges,
                          budget: Int = DefaultPackBudget): DataFrame =
    packedTokenStream(spark, dir, nMerges)
      .select(expr(s"pos div $budget").as("seq_id"),
        (col("pos") % budget).as("slot"), col("tid"))
      .groupBy("seq_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        // slot is unique within a sequence, so the struct sort is total
        // and the join order deterministic; groups are budget-bounded
        expr("array_join(transform(array_sort(collect_list(struct(slot, tid)))," +
          " x -> cast(x.tid as string)), ' ')").as("token_ids"))
      .orderBy("seq_id")

  /** qd39: PER-SEQUENCE DOCUMENT SPANS — the attention-mask metadata a
    * training loader consumes NEXT TO qd38's packed ids: when documents
    * are concatenated and cut at budget boundaries, the loader must
    * mask cross-document attention, which takes exactly "which doc
    * occupies which slot range of each sequence". For every training
    * sequence: how many documents touch it and the ordered
    * `doc:start:len` span list (start = first slot, len = tokens of
    * that doc inside this sequence — a boundary-straddling doc appears
    * in several sequences with complementary spans).
    *
    * Same positioned token stream as qd38 (one shared plan), one
    * groupBy((seq, doc)) for spans + one budget-bounded groupBy(seq)
    * for the report — spans per sequence are bounded by the docs that
    * can fit in `budget` tokens, so the final groups stay tiny. */
  def qd39PackedDocSpans(spark: SparkSession, dir: String,
                         nMerges: Int = DefaultBpeMerges,
                         budget: Int = DefaultPackBudget): DataFrame =
    packedTokenStream(spark, dir, nMerges)
      .select(expr(s"pos div $budget").as("seq_id"),
        (col("pos") % budget).as("slot"), col("doc_id"))
      .groupBy("seq_id", "doc_id")
      .agg(min("slot").as("start_slot"), count(lit(1)).as("len"))
      .groupBy("seq_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("len").cast("long").as("n_tokens"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(start_slot, doc_id, len)))," +
          " x -> concat(cast(x.doc_id as string), ':'," +
          " cast(x.start_slot as string), ':', cast(x.len as string))), ' ')")
          .as("doc_spans"))
      .orderBy("seq_id")

  /** The (doc_id, pos, tid) global token-id stream qd38/qd39 pack:
    * BPE-encode every word under the depth-`nMerges` merge table, id
    * subwords by binary-collation rank, and position tokens by the
    * corpus-order cumulative word offset — computed with the SHARDED
    * two-phase cumsum (`shardedCumsum`), so even the per-word
    * positioned stream never funnels through one global-order task. */
  private def packedTokenStream(spark: SparkSession, dir: String,
                                nMerges: Int): DataFrame = {
    import spark.implicits._
    val vocab = bpeTrainMemo(spark, dir, nMerges)._2
    val bcSym = spark.sparkContext.broadcast(bpeSymbolIds(vocab))
    val termIds = vocab.map { case (t, syms, _) =>
      (t, syms.map(bcSym.value), syms.length.toLong)
    }.toDF("term", "ids", "n_syms")
    val stream = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("widx", "term")))
      .filter(col("term") =!= "")
    shardedCumsum(stream.join(broadcast(termIds), Seq("term")),
        "n_syms", Seq("doc_id", "widx"))
      .withColumn("woff", col("cum") - col("n_syms"))
      .select(col("doc_id"), col("woff"),
        posexplode(col("ids")).as(Seq("sidx", "tid")))
      .select(col("doc_id"), (col("woff") + col("sidx")).as("pos"), col("tid"))
  }

  /** Dense ids for the post-merge subword vocabulary: rank in plain
    * byte order (ASCII corpus: Java, Spark UTF8String, and DuckDB
    * binary collation all agree). The table is alphabet + ≤ nMerges
    * entries — driver-held and broadcast by design. */
  private[graft] def bpeSymbolIds(
      vocab: Dataset[(String, Seq[String], Long)]): Map[String, Long] = {
    import vocab.sparkSession.implicits._
    vocab.flatMap(_._2).distinct().collect().sorted
      .zipWithIndex.map { case (sym, i) => sym -> (i + 1L) }.toMap
  }

  /** Per-domain distribution-drift report — the monitoring signal a
    * continuous training-data pipeline runs on every snapshot: for each
    * source, the Jensen-Shannon divergence between that source's hashed
    * unigram distribution and the rest of the corpus — "which domain is
    * most atypical", the input to mixture re-weighting (qd16) and
    * drift alarms. Hashed B-bucket features (the qd26 DSIR convention,
    * "drift:" salt) keep the parameter space FIXED regardless of
    * vocabulary size; add-one smoothing over the B buckets keeps every
    * present bucket's contribution finite on both sides.
    *
    * Determinism: each (source, bucket) contribution is a pure per-row
    * function of exact integer counts; the per-source total accumulates
    * contributions as INTEGER nano-nats (`round(js × 1e9)` per bucket —
    * the qe8 integer-micro trick), so the sum is order-free and needs
    * no summation-order guard; the reported double derives from that
    * exact long.
    *
    * Scale shape: ONE corpus-width groupBy((source, bucket)) — skinny
    * rows, map-side partial, output bounded by B × n_sources; the
    * bucket/source margins and the contribution grid are aggregates OF
    * that bounded frame, so everything after the first shuffle is
    * fixed-size no matter the corpus. */
  def qd30DomainDrift(spark: SparkSession, dir: String, buckets: Int = 1024): DataFrame =
    driftReport(driftBucketed(docs(spark, dir), buckets), buckets)

  /** qd31: per-arrival-window drift ALARMS — the form a monitor
    * actually pages on. qd30 answers "which source is atypical over
    * the corpus lifetime"; a monitor needs "did source S's content
    * SHIFT in the latest arrival window". For each (source, window) —
    * window = doc_id div `span`, the arrival proxy on the
    * doc_id-ranged lake, deterministic under replay where a wall-clock
    * window would not be — report the JS divergence between that
    * window's hashed unigram distribution and the SOURCE'S LIFETIME
    * distribution (add-one smoothing over the B buckets on both
    * sides). A window whose content matches its source's history
    * scores near 0; a shifted window scores high — the alarm
    * threshold is the consumer's choice.
    *
    * Determinism and scale shape inherited from qd30: integer
    * nano-nat contributions (order-free sums), ONE corpus-width
    * groupBy((source, window, bucket)), everything downstream bounded
    * by B × n_sources × n_windows. */
  def qd31WindowedDrift(spark: SparkSession, dir: String, buckets: Int = 1024,
                        span: Long = 250L): DataFrame =
    windowedDriftReport(
      windowedDriftBucketed(docs(spark, dir), buckets, span), buckets)

  /** The (source, w, bucket, c) counts — qd31's only corpus-width
    * stage, shared with the streaming form (qs21: sum monoid). */
  private[graft] def windowedDriftBucketed(docsDf: DataFrame, buckets: Int,
                                           span: Long): DataFrame = {
    require(65536 % buckets == 0,
      s"buckets ($buckets) must divide 2^16: the bucket is computed from the"
        + " two low little-endian md5 bytes, exact only when 2^16 = 0 mod B")
    val hex = md5(concat(lit("drift:"), col("term")))
    val bucketCol = (conv(substring(hex, 17, 2), 16, 10).cast("int")
      + conv(substring(hex, 19, 2), 16, 10).cast("int") * 256) % buckets
    docsDf
      .select(col("source"), expr(s"doc_id div $span").as("w"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), col("w"), bucketCol.cast("int").as("bucket"))
      .groupBy("source", "w", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The windowed JS report over a (source, w, bucket, c) count table —
    * bounded by B × n_sources × n_windows after the first shuffle. */
  private[graft] def windowedDriftReport(swb: DataFrame, buckets: Int): DataFrame = {
    val bySB = swb.groupBy("source", "bucket").agg(sum("c").as("cs"))
    val byS = swb.groupBy("source").agg(sum("c").as("ns"))
    val bySW = swb.groupBy("source", "w").agg(sum("c").as("nsw"))
    val grid = bySB.join(bySW, Seq("source"))
      .join(swb, Seq("source", "w", "bucket"), "left")
      .join(byS, Seq("source"))
      .select(col("source"), col("w"), col("cs"), col("nsw"), col("ns"),
        coalesce(col("c"), lit(0L)).as("c"))
    val p = (col("c") + 1).cast("double") / (col("nsw") + buckets)
    val q = (col("cs") + 1).cast("double") / (col("ns") + buckets)
    val mid = (p + q) / 2.0
    val contrib = lit(0.5) * p * log(p / mid) + lit(0.5) * q * log(q / mid)
    grid
      .select(col("source"), col("w"), col("nsw"),
        round(contrib * 1e9).cast("long").as("js_nanos"))
      .groupBy("source", "w", "nsw")
      .agg(sum("js_nanos").as("js_nanos"))
      .select(col("source"), col("w"), col("nsw").as("n_tokens"),
        col("js_nanos"), round(col("js_nanos") / 1e9, 6).as("js"))
      .orderBy("source", "w")
  }

  /** The (source, bucket, c) hashed-unigram counts of a documents frame
    * — qd30's only corpus-width stage, shared with the streaming form
    * (qs19: counts are sum monoids, so per-batch deltas fold to the
    * identical table). */
  private[graft] def driftBucketed(docsDf: DataFrame, buckets: Int): DataFrame = {
    require(65536 % buckets == 0,
      s"buckets ($buckets) must divide 2^16: the bucket is computed from the"
        + " two low little-endian md5 bytes, exact only when 2^16 = 0 mod B")
    val hex = md5(concat(lit("drift:"), col("term")))
    val bucketCol = (conv(substring(hex, 17, 2), 16, 10).cast("int")
      + conv(substring(hex, 19, 2), 16, 10).cast("int") * 256) % buckets
    docsDf
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), bucketCol.cast("int").as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The JS-divergence report over a (source, bucket, c) count table —
    * everything here is bounded by B × n_sources (see qd30's scaladoc
    * for the smoothing/integer-nanos contract). */
  private[graft] def driftReport(sb: DataFrame, buckets: Int): DataFrame = {
    val byB = sb.groupBy("bucket").agg(sum("c").as("cb"))
    val byS = sb.groupBy("source").agg(sum("c").as("ns"))
    val tot = sb.agg(sum("c").cast("double").as("n"))
    val grid = byB.crossJoin(byS)
      .join(sb, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"), col("cb"), col("ns"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(tot))
    val p = (col("c") + 1).cast("double") / (col("ns") + buckets)
    val q = (col("cb") - col("c") + 1).cast("double") /
      (col("n") - col("ns") + buckets)
    val mid = (p + q) / 2.0
    val contrib = lit(0.5) * p * log(p / mid) + lit(0.5) * q * log(q / mid)
    grid
      .select(col("source"), col("ns"),
        round(contrib * 1e9).cast("long").as("js_nanos"))
      .groupBy("source")
      .agg(first(col("ns")).as("n_tokens"),
        sum("js_nanos").as("js_nanos"))
      .select(col("source"), col("n_tokens"), col("js_nanos"),
        round(col("js_nanos") / 1e9, 6).as("js"))
      .orderBy("source")
  }

  /** Candidate-row count of the most recent qd24 run — spec
    * instrumentation proving the Bloom prefilter PRUNES (candidates ≪
    * corpus windows) while staying a SUPERSET of the true hits. OFF by
    * default (an extra count job); the spec flips `recordCandidates`. */
  private[graft] val lastCandidateRows = new java.util.concurrent.atomic.AtomicLong(-1L)
  @volatile private[graft] var recordCandidates = false

  /** Bloom-prefiltered eval-set decontamination — the 100 TB form of the
    * benchmark-contamination screen (qd14): drop any TRAIN document that
    * shares a K-token window with the EVAL set (the GPT-3 appendix-C /
    * Lee et al. n-gram overlap rule). K = 4 here: one token stricter
    * than qd14's 3-gram hit COUNTING, half qd23's 8-token span windows
    * — on this corpus the size where overlap flags a selective minority
    * of the train docs at every SF (9 / 11 / 77 at sf0.001/0.01/0.1)
    * instead of a third of it (K=3) or nothing (K=8).
    *
    * The scale problem with the exact screen is the corpus side: qd14
    * explodes EVERY corpus shingle into a join+groupBy — a full shuffle
    * of the shingle stream, ~tokens × 16 bytes of network per document,
    * which at 100 TB is the bottleneck. But the eval set is tiny and
    * FIXED (a benchmark suite, not the crawl), so membership is a
    * broadcast-filter problem, not a join problem:
    *
    *   1. eval windows (doc_id < 5, the qd14 benchmark convention) are
    *      collected into a driver-side `BloomFilter`
    *      (`DataFrameStatFunctions.bloomFilter`, fpp 1%) and broadcast —
    *      ~10 bits per eval window regardless of corpus size;
    *   2. ONE typed kernel pass over the train corpus (the qd23
    *      positional-shingle kernel + per-doc distinct) emits ONLY the
    *      windows the filter might contain: the corpus shingle stream is
    *      pruned MAP-SIDE — nothing wide ever carries it;
    *   3. the surviving candidates (true hits + ~1% false positives of
    *      the candidate stream) are verified with an exact broadcast
    *      join against the eval windows, so the RESULT is exact — the
    *      Bloom parameters tune cost, never the answer — and the oracle
    *      is plain SQL with no filter in sight.
    *
    * Per-doc output over the train corpus (doc_id ≥ 5): distinct eval
    * windows found, and keep = no overlap — every train doc appears, so
    * the frame IS the decontamination keep-list. */
  def qd24BloomDecontam(spark: SparkSession, dir: String, k: Int = 4,
                        fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    val evalSh = docs(spark, dir).filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (_, t) => positionalShingles(t, k).map(_._2) }
      .toDF("shingle").distinct().persist()
    val bf = try
        evalSh.stat.bloomFilter("shingle", math.max(evalSh.count(), 1L), fpp)
      finally { evalSh.unpersist(blocking = false); () }
    val bcBf = spark.sparkContext.broadcast(bf)
    val train = docs(spark, dir).filter(col("doc_id") >= 5)
    val candidates = train.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        positionalShingles(t, k).map(_._2).distinct.iterator
          .filter(s => bcBf.value.mightContainString(s)).map(id -> _) }
      .toDF("doc_id", "shingle")
    if (recordCandidates) lastCandidateRows.set(candidates.count())
    val hits = candidates.join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_hits"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        (coalesce(col("n_eval_hits"), lit(0L)) === 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** qd33: count-min-sketch heavy-hitter report (Cormode & Muthukrishnan
    * 2005) — the SUBLINEAR-STATE frequency monitor: a depth × width grid
    * of counters (here 4 × 16 so collisions actually occur on the gate
    * vocabulary), each token counted into one bucket per row under an
    * independent seeded hash; a term's estimate is the MIN over its
    * depth buckets, which can only OVERCOUNT (collisions add, never
    * subtract). The report follows the repo's sketch pattern (q25 HLL,
    * q36 GK): every estimate next to its exact count with the signed
    * overcount, so the driver hash-checks the sketch's exact collision
    * behavior, not a tolerance. Candidate terms are the Heaps'-law
    * vocabulary (the batch form has it anyway); what the sketch buys at
    * 100 TB is the STATE bound — the streaming form (qs22) keeps the
    * production D × W counter grid whose size never depends on corpus
    * or vocabulary, folded as a pure sum monoid.
    *
    * Determinism: bucket = md5 low-two-LE-bytes of "cms<j>:<term>" mod
    * width (the drift-family hash — exact in both engines when width
    * divides 2^16); counts and mins are integers. Ranking by
    * (est DESC, term). */
  def qd33CmsHeavyHitters(spark: SparkSession, dir: String,
                          width: Int = DefaultCmsWidth,
                          depth: Int = DefaultCmsDepth): DataFrame = {
    val tc = cmsTermCounts(docs(spark, dir))
    cmsReport(cmsSketch(tc, width, depth), tc, width, depth)
  }

  /** (term, c) exact counts — the one corpus-width stage of the CMS
    * family (vocab-bounded after the shuffle); per-batch deltas are sum
    * monoids, shared with qs22. */
  private[graft] def cmsTermCounts(docsDf: DataFrame): DataFrame =
    docsDf.select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))

  /** Seeded CMS bucket of the `term` column for hash row `j` — the
    * drift-family md5 low-two-LE-bytes trick, exact when width | 2^16. */
  private def cmsBucket(width: Int): Column = {
    val hex = md5(concat(lit("cms"), col("j").cast("string"), lit(":"),
      col("term")))
    ((conv(substring(hex, 17, 2), 16, 10).cast("int")
      + conv(substring(hex, 19, 2), 16, 10).cast("int") * 256) % width)
      .cast("int")
  }

  /** The depth × width counter grid from a (term, c) count table —
    * everything here is vocab-bounded in, D × W-bounded out. */
  private[graft] def cmsSketch(tc: DataFrame, width: Int,
                               depth: Int): DataFrame = {
    require(65536 % width == 0,
      s"width ($width) must divide 2^16: the bucket is computed from the"
        + " two low little-endian md5 bytes, exact only when 2^16 = 0 mod W")
    tc.select(col("term"), col("c"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("bucket", cmsBucket(width))
      .groupBy("j", "bucket").agg(sum("c").as("c"))
  }

  /** Estimate-vs-exact report over a sketch grid and a term count table
    * — D × vocab probe rows (bucketed with the SAME seeded hash the
    * sketch builder used), vocab-bounded output. */
  private[graft] def cmsReport(sketch: DataFrame, tc: DataFrame,
                               width: Int, depth: Int): DataFrame = {
    val probes = tc.select(col("term"), col("c").as("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("bucket", cmsBucket(width))
    probes
      .join(sketch, Seq("j", "bucket"))
      .groupBy("term", "exact")
      .agg(min(col("c")).as("est"))
      .select(col("term"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overcount"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("est").desc, col("term"))).cast("long"))
      .orderBy("rank")
  }

  /** qd41: Unicode cleaning — the C4/CCNet normalize stage every text
    * pipeline runs before hashing/dedup: NFC canonical composition
    * (the native codegen'd `graft_nfc` expression), control/format
    * character strip (\\p{Cc}\\p{Cf}), whitespace-run collapse, trim —
    * in that order on both engines.
    *
    * The testdata corpus is pure ASCII (already NFC, no controls), so
    * a direct oracle would pass vacuously; instead the operator runs
    * over a deterministically-DIRTIED derived corpus (the qs9
    * derived-union idiom): every document gains a decomposed accent
    * pair (e + U+0301 — composes to one é under NFC), a BEL control, a
    * TAB run and trailing blanks, and even ids a pre-composed é + BEL
    * tail — so every rule fires on every row and the per-doc stripped
    * counts differ by parity. Per-row string work, no shuffle before
    * the presentation sort; the whole expression chain stays inside
    * one whole-stage-codegen span. */
  def qd41UnicodeClean(spark: SparkSession, dir: String): DataFrame = {
    val marker = "e\u0301\u0007 " // decomposed accent + BEL + space
    val evenTail = "\u00e9\u0007" // pre-composed e-acute + BEL
    val dirty = concat(lit(marker), col("text"), lit("\t  "),
      when(col("doc_id") % 2 === 0, lit(evenTail)).otherwise(lit("")))
    val nfc = graft.functions.TextNormalize.nfc(dirty)
    val stripped = regexp_replace(nfc, "[\\p{Cc}\\p{Cf}]", "")
    val collapsed = regexp_replace(stripped, "[ \\t\\n\\r\\f\\x0B]+", " ")
    docs(spark, dir).select(
        col("doc_id"),
        length(dirty).cast("long").as("n_raw"),
        trim(collapsed).as("clean_text"))
      .withColumn("n_clean", length(col("clean_text")).cast("long"))
      .withColumn("n_stripped", col("n_raw") - col("n_clean"))
      .orderBy("doc_id")
  }

}
