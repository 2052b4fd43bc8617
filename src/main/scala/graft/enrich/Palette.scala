package graft.enrich

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-group dominant-color palette — the reference's flagship custom
  * operator (per-user KMeans(k=6) over concatenated image pixels,
  * spark/spark_image.py:14-165), re-expressed as
  * `groupByKey(...).mapGroups` with a JVM Lloyd's-KMeans kernel: no
  * Python/Arrow boundary, single shuffle on the group key (SURVEY §3.3).
  *
  * Image decoding is STUBBED (`FakeDecoder`): the container has no image
  * codecs, so a deterministic byte→BGR expansion stands in for JPEG decode.
  * Everything around it — binary column handling, group shuffle, resize,
  * BGR→HSV→cluster→HSV→RGB→hex — is the real production path; swapping the
  * decoder for a codec is a one-function change.
  */
object Palette {

  /** Deterministic fake decode: expand opaque bytes into a 24×24 BGR
    * image by cycling the payload. Stub for payloads that are not real
    * encoded images (e.g. the documents corpus used as stand-in media).
    * Real image files go through `Palette.paletteFromImages` instead,
    * which uses Spark's built-in image source (JDK ImageIO decode). */
  object FakeDecoder {
    val H = 24; val W = 24
    def decode(payload: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](H * W * 3)
      if (payload.isEmpty) return out
      var i = 0
      while (i < out.length) { out(i) = payload(i % payload.length); i += 1 }
      out
    }
  }

  case class ColorBucket(percentage: Double, red: Int, green: Int, blue: Int, hex: String)

  /** Lloyd's KMeans over (n,3) float rows, deterministic: farthest-point
    * initialization (first point, then repeatedly the point farthest from
    * all chosen centers, ties to the lowest index). No random restarts —
    * SURVEY §7 risk 2: pin determinism, assert on quality not centers.
    * Evenly-spaced init degenerates on sorted input (duplicate centers);
    * farthest-point provably separates well-separated clusters. */
  def kmeans(points: Array[Float], k: Int, maxIter: Int = 25): (Array[Array[Double]], Array[Int]) = {
    // points is a packed (n,3) row-major buffer: one flat primitive array,
    // zero per-pixel allocation (the boxed Array-per-point layout caused a
    // GC storm with many concurrent groups on one JVM).
    val n = points.length / 3
    val kk = math.min(k, n)
    val centers = new Array[Array[Double]](kk)
    centers(0) = Array(points(0), points(1), points(2))
    val minD = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < kk) {
      val c = centers(ci - 1)
      var bestI = 0; var bestD = -1.0
      var i = 0
      while (i < n) {
        val base = i * 3
        val d0 = points(base) - c(0); val d1 = points(base + 1) - c(1); val d2 = points(base + 2) - c(2)
        val d = d0 * d0 + d1 * d1 + d2 * d2
        if (d < minD(i)) minD(i) = d
        if (minD(i) > bestD) { bestD = minD(i); bestI = i }
        i += 1
      }
      centers(ci) = Array(points(bestI * 3), points(bestI * 3 + 1), points(bestI * 3 + 2))
      ci += 1
    }
    val labels = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        val base = i * 3
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val cc = centers(c)
          val d0 = points(base) - cc(0); val d1 = points(base + 1) - cc(1); val d2 = points(base + 2) - cc(2)
          val d = d0 * d0 + d1 * d1 + d2 * d2
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (labels(i) != best) { labels(i) = best; moved = true }
        i += 1
      }
      val sums = Array.ofDim[Double](kk, 3)
      val counts = new Array[Int](kk)
      var i2 = 0
      while (i2 < n) {
        val c = labels(i2); counts(c) += 1
        val base = i2 * 3
        sums(c)(0) += points(base); sums(c)(1) += points(base + 1); sums(c)(2) += points(base + 2)
        i2 += 1
      }
      var c2 = 0
      while (c2 < kk) {
        if (counts(c2) > 0) { var j = 0; while (j < 3) { centers(c2)(j) = sums(c2)(j) / counts(c2); j += 1 } }
        c2 += 1
      }
      iter += 1
    }
    (centers, labels)
  }

  /** Palette of up to 6 buckets over the concatenated pixels of a group of
    * images, ranked by pixel share (spark_image.py:75-118 semantics):
    * decode → resize 75×75 INTER_AREA → BGR→HSV → KMeans(6) → top clusters
    * → HSV center → RGB + hex. */
  def palette(images: Iterator[Array[Byte]]): Seq[ColorBucket] =
    paletteOfDecoded(images.map(raw =>
      (FakeDecoder.H, FakeDecoder.W, FakeDecoder.decode(raw))))

  /** Resolve the per-group pixel budget ON THE DRIVER, where the query is
    * planned: Spark conf `spark.graft.palette.maxTriples` first (the
    * resolved Int is captured in the task closure, so it PROPAGATES to
    * executors — an executor JVM does not see driver env vars), then the
    * env var via `DefaultMaxTriples` (single-JVM local runs), then 4Mi. */
  def pixelBudget(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.palette.maxTriples")
      .map(_.toInt).getOrElse(FloatPixelBuffer.DefaultMaxTriples)

  /** Pixel ingestion for already-decoded BGR buffers (the Spark image
    * source's layout: 8-bit BGR interleaved, mode 16 = CV_8UC3) —
    * resize 75×75 INTER_AREA → HSV, appended to `buf`. */
  private def appendPixels(buf: PixelSink, bgr: Array[Byte], h: Int, w: Int): Unit = {
    val resized = ColorSpace.resizeArea(bgr, h, w, 75, 75)
    var p = 0
    while (p < resized.length) {
      val (hh, ss, vv) = ColorSpace.bgrToHsv(
        resized(p) & 0xFF, resized(p + 1) & 0xFF, resized(p + 2) & 0xFF)
      buf.append(hh.toFloat, ss.toFloat, vv.toFloat)
      p += 3
    }
  }

  /** Palette over decoded images (height, width, BGR bytes). Resident
    * memory is bounded by the `FloatPixelBuffer` pixel budget: groups
    * under ~4M resized pixels are processed exactly; larger groups are
    * systematically decimated (see the buffer's contract). */
  def paletteOfDecoded(images: Iterator[(Int, Int, Array[Byte])],
                       maxTriples: Int = FloatPixelBuffer.DefaultMaxTriples): Seq[ColorBucket] = {
    val hsv = new FloatPixelBuffer(maxTriples)
    images.foreach { case (h, w, bgr) => appendPixels(hsv, bgr, h, w) }
    if (hsv.isEmpty) return Seq.empty
    bucketize(hsv.result())
  }

  /** EXACT-mode palette: like `paletteOfDecoded`, but NEVER decimates.
    * For paths checked against an exact oracle (qs11): the oracle is a
    * plain histogram and cannot model sampling, so silently crossing the
    * budget would be a parity break that no one notices.
    *
    * Memory is SELF-CONFIGURING against group size, not env-tuned: the
    * sink keeps a running ≤6-distinct-color tally beside the raw buffer,
    * and when a group outgrows the pixel budget while still within 6
    * distinct colors (every constant-color corpus — qs11's separable
    * construction at ANY scale factor) it drops the raw buffer and
    * finishes on the O(1) tally, whose palette is bit-identical to the
    * buffered path (the small-palette fast path depends only on
    * first-occurrence order + counts, both of which the tally preserves;
    * spec-asserted). Only a group that BOTH exceeds the budget AND has
    * more than 6 distinct colors fails — loudly, with the config knobs
    * named — because neither the tally nor the buffer can then represent
    * it exactly; that case must surface as an error, not a skew. */
  def paletteOfDecodedExact(images: Iterator[(Int, Int, Array[Byte])],
                            maxTriples: Int = FloatPixelBuffer.DefaultMaxTriples): Seq[ColorBucket] = {
    val sink = new ExactPixelSink(maxTriples)
    images.foreach { case (h, w, bgr) => appendPixels(sink, bgr, h, w) }
    sink.palette()
  }

  /** Streaming group-boundary iterator over a KEY-SORTED partition: one
    * palette row per contiguous key run. Only the CURRENT group's resized
    * HSV buffer is ever resident — never the partition. (The earlier
    * `rows.toSeq.groupBy` buffered every group's raw payloads on the heap
    * at once; with real images at 100× scale that is an executor OOM, not
    * a slowdown. Requires the partition to be sorted by key, which the
    * callers establish with sortWithinPartitions — Spark's sort is
    * spillable, so the sort itself is also memory-safe.) */
  private[enrich] def groupPalettes[R](rows: Iterator[R],
      maxTriples: Int = FloatPixelBuffer.DefaultMaxTriples)(
      key: R => String, decoded: R => (Int, Int, Array[Byte])): Iterator[(String, String, Long, Double)] = {
    val it = rows.buffered
    new Iterator[(String, String, Long, Double)] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, String, Long, Double) = {
        val k = key(it.head)
        val group = new Iterator[(Int, Int, Array[Byte])] {
          def hasNext: Boolean = it.hasNext && key(it.head) == k
          def next(): (Int, Int, Array[Byte]) = decoded(it.next())
        }
        val buckets = paletteOfDecoded(group, maxTriples)
        (k, paletteJson(buckets), buckets.length.toLong,
          buckets.headOption.map(_.percentage).getOrElse(0.0))
      }
    }
  }

  /** The REAL image pipeline — SURVEY §3.3 / §2.1 S3, exactly the
    * reference job's shape (spark/spark_image.py:168-209): Spark's
    * built-in image source (`dropInvalid` skips undecodable files, P12),
    * mode-16 filter (P11), flatten (P4), igId derived from the directory
    * path (P7: `.../<igId>/<file>`), one explicit shuffle on igId, then
    * the per-group KMeans palette. Decoding is JDK ImageIO (PNG/BMP/GIF
    * built into the JVM — no native deps), via Spark's own image source.
    */
  def paletteFromImages(spark: SparkSession, imageDir: String): DataFrame = {
    import spark.implicits._
    val n = math.max(spark.sparkContext.defaultParallelism, 2)
    val budget = pixelBudget(spark) // resolved on the driver, closure-captured
    spark.read.format("image").option("dropInvalid", "true")
      .load(Tables.globbed(spark, imageDir): _*)
      .select(col("image.*"))
      .filter(col("mode") === 16) // CV_8UC3: 8-bit BGR
      .withColumn("igId", element_at(split(col("origin"), "/"), -2))
      .select(col("igId"), col("height"), col("width"), col("data"))
      .repartition(n, col("igId"))
      // key-sorted partitions + deterministic within-group order (length,
      // then content hash) so replay produces identical palettes; the
      // group iterator below then streams one group at a time
      .sortWithinPartitions(col("igId"), length(col("data")), hash(col("data")))
      .as[(String, Int, Int, Array[Byte])]
      .mapPartitions(rows =>
        groupPalettes(rows, budget)(_._1, r => (r._2, r._3, r._4)))
      .toDF("igId", "colors", "n_buckets", "top_share")
      .transform(df =>
        // size-gated: one output row per user — NOT one-partition small
        // at real corpus scale
        graft.plans.ScaleTechniques.sortedOutput(df, Seq("igId")))
  }

  /** A4/A5 with a HARD driver oracle — the *separable* palette
    * configuration (VERDICT r2 "Next round" #1): every document is turned
    * into a constant-color image (payload = one byte, cycled by
    * `FakeDecoder`), with at most 5 distinct colors per group. In that
    * configuration the full production kernel — decode → resize 75×75
    * INTER_AREA → BGR→HSV → farthest-point-init KMeans(6) → HSV→RGB →
    * hex — converges to the EXACT color histogram:
    *
    *  - a constant image stays constant through `resizeArea` (the area
    *    average of equal bytes is that byte; FP error is ≤ 1 ulp of the
    *    weighted mean, crushed by round-to-int);
    *  - gray BGR (v,v,v) maps to HSV (0,0,v) and back to RGB (v,v,v)
    *    exactly;
    *  - KMeans over ≤ 5 distinct points with k = 6: farthest-point init
    *    picks every distinct value as a center (any surplus centers
    *    duplicate the first point and win no ties, since assignment
    *    tie-breaks to the lowest cluster index), so converged clusters
    *    are the distinct colors with exact pixel counts;
    *  - each image contributes exactly 75×75 pixels, so the pixel share
    *    equals the document-count share: both engines divide the same
    *    two exact integers, and IEEE division is correctly rounded —
    *    bit-equal doubles.
    *
    * The oracle is therefore a plain GROUP BY + count ratio in DuckDB,
    * while the engine side exercises `kmeans`/`bucketize`/`ColorSpace`
    * end-to-end (spark/spark_image.py:75-118 semantics). qs3 remains the
    * non-separable compute-shape benchmark.
    *
    * Memory: this path uses `paletteOfDecodedExact`, which never
    * decimates — groups that outgrow the pixel budget finish on the
    * sink's ≤6-distinct-color tally (every group here is 5-color by
    * construction), so the query is exact at ANY scale factor with
    * bounded memory and the DEFAULT budget; only an over-budget group
    * with >6 distinct colors — impossible in this construction — would
    * fail loudly rather than silently diverge (spec-asserted). */
  def qs11PaletteExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = math.max(spark.sparkContext.defaultParallelism, 2)
    val budget = pixelBudget(spark) // resolved on the driver, closure-captured
    Tables(spark, dir, "documents")
      .select(col("source"),
        // doc_id round-robins over sources, so doc_id % 5 is CONSTANT per
        // source (degenerate 1-cluster groups); (doc_id div 20) % 5 yields
        // all five colors in every group — the configuration the
        // separability argument above is actually about.
        (pmod(expr("doc_id div 20"), lit(5)) * lit(40) + lit(20))
          .cast("int").as("cval"))
      .repartitionByRange(n, col("source"))
      .sortWithinPartitions(col("source"), col("cval"))
      .as[(String, Int)]
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Seq[(String, Long, Long, Long, String, Double)]] {
          def hasNext: Boolean = it.hasNext
          def next(): Seq[(String, Long, Long, Long, String, Double)] = {
            val k = it.head._1
            val group = new Iterator[(Int, Int, Array[Byte])] {
              def hasNext: Boolean = it.hasNext && it.head._1 == k
              def next(): (Int, Int, Array[Byte]) = {
                val cv = it.next()._2
                (FakeDecoder.H, FakeDecoder.W, FakeDecoder.decode(Array(cv.toByte)))
              }
            }
            paletteOfDecodedExact(group, budget).map(b =>
              (k, b.red.toLong, b.green.toLong, b.blue.toLong, b.hex, b.percentage))
          }
        }
      }
      .flatMap(identity)
      .toDF("source", "red", "green", "blue", "hex", "pct")
      .transform(df =>
        graft.plans.ScaleTechniques.sortedOutput(df, Seq("source", "red")))
  }

  /** Shared cluster-and-rank step over a packed HSV buffer. */
  private def bucketize(pts: Array[Float]): Seq[ColorBucket] = {
    val nPts = pts.length / 3
    smallPalette(pts) match {
      case Some((cs, ns)) =>
        renderBuckets(cs, ns.zipWithIndex.map { case (n, c) => (c, n) }, nPts.toLong)
      case None =>
        val (cs, labels) = kmeans(pts, 6)
        renderBuckets(cs.toIndexedSeq,
          labels.groupBy(identity).view.mapValues(_.length.toLong).toSeq,
          nPts.toLong)
    }
  }

  /** Rank-and-render tail shared by every palette route: sort (count DESC,
    * center index), take 6, HSV→RGB + hex, pixel share = count / total —
    * one implementation so the buffered, small-fast-path, and tally
    * routes cannot diverge in ordering or share arithmetic. */
  private def renderBuckets(centers: IndexedSeq[Array[Double]],
      counts: Seq[(Int, Long)], total: Long): Seq[ColorBucket] =
    counts.sortBy { case (c, n) => (-n, c) }.take(6).map { case (c, n) =>
      val (r, g, b) = ColorSpace.hsvToRgb(
        math.round(centers(c)(0)).toInt, math.round(centers(c)(1)).toInt,
        math.round(centers(c)(2)).toInt)
      ColorBucket(n.toDouble / total, r, g, b, f"#$r%02x$g%02x$b%02x")
    }

  /** ≤6-distinct-color fast path: when a group has at most k = 6 distinct
    * HSV triples (every constant-color configuration — qs11's separable
    * oracle setup and boilerplate-heavy media), the converged Lloyd's
    * result is PROVABLY the distinct colors themselves: farthest-point
    * init picks every distinct value before duplicating (an unchosen
    * value has minD > 0 while chosen ones sit at 0), the first assignment
    * is exact (distance 0 to own color; surplus duplicate centers lose
    * every tie to the lower index), and the recomputed means reproduce
    * the colors bit-exactly (N·f is exact in double well below 2^53 and
    * (N·f)/N rounds back to f), so iteration 2 moves nothing. This
    * replicates that fixed point in ONE pass + O(d²) init ordering
    * instead of up to 25 full-buffer sweeps — identical output
    * (spec-asserted against the kmeans path), ~25× on separable groups.
    *
    * Returns centers in the exact order the full-buffer init would choose
    * them (ties at equal distance go to the earliest FIRST OCCURRENCE,
    * matching the buffer scan's strict `>` keeping the lowest index) with
    * per-center pixel counts; None when more than 6 distinct colors. */
  private[enrich] def smallPalette(pts: Array[Float]): Option[(IndexedSeq[Array[Double]], IndexedSeq[Long])] = {
    if (pts.isEmpty) return None
    // allocation-free distinct scan: parallel primitive arrays for the
    // ≤ 6 colors (a per-pixel boxed-tuple map would reintroduce exactly
    // the GC storm the flat-float buffer design exists to avoid)
    val ch = new Array[Float](6); val cs = new Array[Float](6)
    val cv = new Array[Float](6)
    val cnt = new Array[Long](6)
    var d = 0
    var i = 0
    while (i < pts.length) {
      val h = pts(i); val s = pts(i + 1); val v = pts(i + 2)
      var j = 0
      while (j < d && !(ch(j) == h && cs(j) == s && cv(j) == v)) j += 1
      if (j == d) {
        if (d == 6) return None
        ch(d) = h; cs(d) = s; cv(d) = v; cnt(d) = 1; d += 1
      } else cnt(j) += 1
      i += 3
    }
    Some(orderSmall(ch, cs, cv, cnt, d))
  }

  /** Farthest-point ordering + per-center counts over ≤6 distinct colors
    * given in FIRST-OCCURRENCE order — the shared kernel of the
    * small-palette fast path and the exact sink's tally route, kept in
    * one place so the two cannot diverge. Selection is tracked entirely
    * through minD (chosen colors sit at distance 0 and never win while
    * an unchosen one remains); strict > means the earliest first
    * occurrence wins ties, exactly like the full-buffer init scan. */
  private[enrich] def orderSmall(ch: Array[Float], cs: Array[Float], cv: Array[Float],
      cnt: Array[Long], d: Int): (IndexedSeq[Array[Double]], IndexedSeq[Long]) = {
    def dist(a: Int, b: Int): Double = {
      val d0 = ch(a).toDouble - ch(b); val d1 = cs(a).toDouble - cs(b)
      val d2 = cv(a).toDouble - cv(b)
      d0 * d0 + d1 * d1 + d2 * d2
    }
    val order = new Array[Int](d)
    order(0) = 0
    val minD = Array.fill(d)(Double.MaxValue)
    var ci = 1
    while (ci < d) {
      val last = order(ci - 1)
      var bestI = -1; var bestD = -1.0
      var j = 0
      while (j < d) {
        val dd = dist(j, last)
        if (dd < minD(j)) minD(j) = dd
        if (minD(j) > bestD) { bestD = minD(j); bestI = j }
        j += 1
      }
      order(ci) = bestI
      ci += 1
    }
    val centers = order.toIndexedSeq.map(j =>
      Array(ch(j).toDouble, cs(j).toDouble, cv(j).toDouble))
    val counts = order.toIndexedSeq.map(cnt)
    (centers, counts)
  }

  object FloatPixelBuffer {
    /** Default per-group pixel budget (triples): 4 Mi triples ≈ 48 MB of
      * float data. Chosen so every oracle/bench corpus stays EXACT (sf0.1
      * is ~1.4M pixels per group) while a group 10× larger cannot OOM the
      * executor — the 10× scale soak killed an 8 GB JVM precisely because
      * the unbounded buffer grew linearly with docs-per-group.
      *
      * Overridable as a plain integer triple count: Spark conf
      * `spark.graft.palette.maxTriples` (cluster-safe — resolved on the
      * driver via `pixelBudget` and closure-captured, since executors do
      * not see driver env vars) or env `SPARK_GRAFT_PALETTE_MAX_TRIPLES`
      * (single-JVM local runs). The budget is an executor-memory sizing
      * knob for the SAMPLING path's exactness window and for over-budget
      * >6-distinct groups on the exact path; constant-color exact groups
      * (qs11) no longer need it at any scale — ExactPixelSink's tally
      * overflow carries them in O(1) memory under the default. */
    val DefaultMaxTriples: Int =
      sys.env.get("SPARK_GRAFT_PALETTE_MAX_TRIPLES").map(_.toInt)
        .getOrElse(4 << 20)
  }

  /** Growable flat float buffer (packed x,y,z triples) — avoids the
    * Array-per-pixel boxing that thrashes GC under concurrent groups.
    *
    * Memory is BOUNDED at `maxTriples`: past the cap the buffer keeps a
    * deterministic systematic sample — every `stride`-th incoming triple,
    * with the stride doubling each time the buffer fills (a full buffer is
    * compacted in place by dropping every other kept triple, so resident
    * data never exceeds the cap and the kept set is always "global index
    * ≡ 0 (mod 2^m)"). Below the cap the sample is the whole input, so
    * small groups are bit-exact; above it, cluster SHARES converge to the
    * true shares at sampling error O(1/√n) — the same contract as pixel
    * subsampling in any palette extractor, and the only way per-group
    * KMeans survives groups of unbounded image count at 100 TB. Given one
    * arrival order the sample is deterministic (callers sort within
    * groups), so replay produces identical palettes. */
  /** Common sink for the resize→HSV pixel stream (appendPixels). */
  private[enrich] sealed trait PixelSink {
    def append(a: Float, b: Float, c: Float): Unit
  }

  /** Exact-path pixel sink: buffers raw triples like FloatPixelBuffer but
    * NEVER decimates. A running ≤6-distinct-color tally (first-occurrence
    * order + Long counts — the exact inputs `orderSmall` needs) is kept
    * beside the buffer; when the group outgrows the budget the buffer is
    * dropped and the group finishes on the O(1) tally, so constant-color
    * groups (qs11's separable construction) stay exact at ANY group size
    * with bounded memory. A group that exceeds the budget with >6 distinct
    * colors — now, or via a 7th color arriving after the buffer was
    * dropped — fails loudly with the config knobs named: neither
    * representation can hold it exactly, and the exact-oracle contract
    * forbids silently sampling it. */
  private[enrich] final class ExactPixelSink(maxTriples: Int) extends PixelSink {
    require(maxTriples >= 2 && maxTriples <= (Int.MaxValue - 16) / 3,
      s"pixel budget out of range: $maxTriples (the triple budget — " +
        "spark.graft.palette.maxTriples / SPARK_GRAFT_PALETTE_MAX_TRIPLES — " +
        s"must be in [2, ${(Int.MaxValue - 16) / 3}], within the JVM array bound)")
    private val capFloats = 3 * maxTriples
    private var buf: Array[Float] = new Array[Float](math.min(3 * 1024, capFloats))
    private var len = 0
    private var total = 0L
    private val th = new Array[Float](6); private val ts = new Array[Float](6)
    private val tv = new Array[Float](6); private val tc = new Array[Long](6)
    private var d = 0
    private var manyColors = false // a 7th distinct color exists somewhere
    private def overBudget(): Nothing = throw new IllegalArgumentException(
      s"palette group exceeded the exact pixel budget ($maxTriples triples) " +
        "with more than 6 distinct colors: the exact-oracle path streams " +
        "over-budget groups only when ≤6 distinct colors (constant-color " +
        "corpora) — raise spark.graft.palette.maxTriples / " +
        "SPARK_GRAFT_PALETTE_MAX_TRIPLES, or route the group through " +
        "paletteOfDecoded (sampling)")
    def append(a: Float, b: Float, c: Float): Unit = {
      total += 1
      var j = 0
      while (j < d && !(th(j) == a && ts(j) == b && tv(j) == c)) j += 1
      if (j == d) {
        if (d < 6) { th(d) = a; ts(d) = b; tv(d) = c; tc(d) = 1; d += 1 }
        else { manyColors = true; if (buf == null) overBudget() }
      } else tc(j) += 1
      if (buf != null) {
        if (len + 3 > buf.length) {
          if (buf.length < capFloats) {
            val next = new Array[Float](
              math.min(buf.length.toLong * 2, capFloats.toLong).toInt)
            System.arraycopy(buf, 0, next, 0, len)
            buf = next
          } else if (manyColors) overBudget()
          else { buf = null; len = 0 } // the tally carries the group from here
        }
        if (buf != null) { buf(len) = a; buf(len + 1) = b; buf(len + 2) = c; len += 3 }
      }
    }
    def palette(): Seq[ColorBucket] =
      if (total == 0) Seq.empty
      else if (buf == null) {
        val (centers, counts) = orderSmall(th, ts, tv, tc, d)
        renderBuckets(centers,
          counts.zipWithIndex.map { case (n, c) => (c, n) }, total)
      } else bucketize(java.util.Arrays.copyOf(buf, len))
  }

  final class FloatPixelBuffer(maxTriples: Int = FloatPixelBuffer.DefaultMaxTriples) extends PixelSink {
    require(maxTriples >= 2 && maxTriples <= (Int.MaxValue - 16) / 3,
      s"pixel budget out of range: $maxTriples (the triple budget — " +
        "spark.graft.palette.maxTriples / SPARK_GRAFT_PALETTE_MAX_TRIPLES — " +
        s"must be in [2, ${(Int.MaxValue - 16) / 3}], within the JVM array bound)")
    // even triple capacity so a full buffer halves exactly on compaction
    private val capFloats = 3 * (maxTriples & ~1)
    private var buf = new Array[Float](math.min(3 * 1024, capFloats))
    private var len = 0
    private var stride = 1L
    private var seen = 0L // triples offered since construction
    def append(a: Float, b: Float, c: Float): Unit = {
      if (seen % stride == 0) {
        if (len + 3 > buf.length) {
          if (buf.length < capFloats) {
            val next = new Array[Float](
              math.min(buf.length.toLong * 2, capFloats.toLong).toInt)
            System.arraycopy(buf, 0, next, 0, len)
            buf = next
          } else compact()
        }
        // compaction doubles the stride — the current triple may no longer
        // be selected under it
        if (seen % stride == 0) {
          buf(len) = a; buf(len + 1) = b; buf(len + 2) = c
          len += 3
        }
      }
      seen += 1
    }
    /** Keep stored triples at even positions (global index ≡ 0 mod the
      * doubled stride); resident count halves, stride doubles. */
    private def compact(): Unit = {
      var src = 0; var dst = 0
      while (src < len) {
        buf(dst) = buf(src); buf(dst + 1) = buf(src + 1); buf(dst + 2) = buf(src + 2)
        dst += 3; src += 6
      }
      len = dst
      stride *= 2
    }
    def isEmpty: Boolean = len == 0
    /** Current sampling stride (1 = exact, no decimation yet). */
    def currentStride: Long = stride
    def result(): Array[Float] = java.util.Arrays.copyOf(buf, len)
  }

  /** JSON render of a palette (strict JSON — divergence from the
    * reference's Python repr noted in FIXTURES.md §4). */
  def paletteJson(buckets: Seq[ColorBucket]): String =
    buckets.map(b =>
      s"""{"percentage":${b.percentage},"red":${b.red},"green":${b.green},"blue":${b.blue},"hex":"${b.hex}"}"""
    ).mkString("[", ",", "]")

  /** A4/A5 as a query: group documents by source, treat the text payload as
    * an opaque binary "image", emit one palette row per group. The plan is
    * scan → single *explicit* shuffle on the group key → per-partition
    * grouping (the same shape the real image corpus would use, keyed by
    * user).
    *
    * Why not groupByKey.mapGroups: this stage is compute-heavy on tiny
    * shuffle bytes, so AQE coalesces the exchange down to ONE partition and
    * serializes all groups onto one core (measured: no speedup over single
    * thread). An explicit repartition(n, key) is exempt from AQE
    * coalescing; rows of one key land in one partition, and grouping
    * happens locally in mapPartitions. */
  def paletteBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = math.max(spark.sparkContext.defaultParallelism, 2)
    val budget = pixelBudget(spark) // resolved on the driver, closure-captured
    Tables(spark, dir, "documents")
      .select(col("source"), encode(col("text"), "UTF-8").as("payload"))
      // range partitioning: with ~#groups ≈ n, each key gets its own
      // partition (hash partitioning collides ~1/e of them onto shared
      // partitions, doubling the straggler's load)
      .repartitionByRange(n, col("source"))
      // key-sorted partitions + deterministic within-group order so the
      // palette (and its KMeans init) is identical under replay
      // regardless of shuffle order; grouping then streams per key run
      .sortWithinPartitions(col("source"), length(col("payload")), hash(col("payload")))
      .as[(String, Array[Byte])]
      .mapPartitions(rows =>
        groupPalettes(rows, budget)(_._1,
          r => (FakeDecoder.H, FakeDecoder.W, FakeDecoder.decode(r._2))))
      .toDF("source", "colors", "n_buckets", "top_share")
      // size-gated sort: materializes once, single-partition only while
      // the group count is actually tiny (a range sort would re-execute
      // the whole palette kernel just to sample partition bounds)
      .transform(df =>
        graft.plans.ScaleTechniques.sortedOutput(df, Seq("source")))
  }
}
