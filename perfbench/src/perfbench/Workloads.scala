package perfbench

import graft.analytics.History
import graft.enrich.Palette
import graft.ingest.{MediaFetch, PostIngest, StatsIngest}
import graft.text.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A measured operation: its latency samples, the work it completed and
  * the seconds that work took, how many checked outcomes it produced, and
  * the check, run after the timing stops (one message per mismatch). */
final case class Op(samplesMs: Seq[Double], work: Double, workSec: Double, attempts: Int,
                    check: () => Seq[String])

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** One repeatable set-up. Reads every input byte once, so each run
    * starts from the same page-cache state. */
  def prepare(rep: Int): Unit = pretouch(new java.io.File(ctx.in))
  /** Operation `i`; `i` < 0 is a warm-up. */
  def op(i: Int): Op
  /** Warm-up operations before the window: enough for the operation time
    * to stop falling as the JIT compiles the hot paths. */
  def warmups: Int = 1
  /** True once the window holds every kind of sample the metrics need. */
  def enough: Boolean = true
  /** Counters only this workload's calls produce, for the per-layer metrics. */
  def counters: Map[String, Double] = Map.empty
  def batchMs: Seq[Double] = Nil
  def detail(): String = "{}"

  protected def inWindow: Boolean = ctx.trace.inWindow

  private def pretouch(f: java.io.File): Unit =
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(pretouch))
    else {
      val in = new java.io.FileInputStream(f)
      try { val buf = new Array[Byte](1 << 16); while (in.read(buf) >= 0) () } finally in.close()
    }

  /** Latest-wins snapshot of lake `lake`: unique-post count and the latest
    * like_count of every re-PUT id. */
  protected def checkSnapshot(snap: DataFrame, lake: String): Option[String] = {
    val rows = snap.select(col("id"), col("like_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ctx.metaLong(s"$lake.posts_unique")
    if (rows.size != want) Some(s"$lake snapshot has ${rows.size} posts, expected $want")
    else ctx.lines(s"truth/$lake.reput_likes.tsv").iterator.map(_.split('\t')).collectFirst {
      case Array(id, likes) if !rows.get(id).contains(likes.toLong) =>
        s"$lake post $id like_count ${rows.get(id)}, expected $likes"
    }
  }
}

/** history_daily: the weekly palette job (spark_image.py:168-209) and the
  * daily DAG (social_system_dag.py:37-106) that joins its output, over
  * the packed lake. Each step is materialized where the reference
  * materializes it: palette written, snapshot stored, users staged,
  * aggregations staged, fact written, warehouse render written, quality
  * gates run. */
final class HistoryDaily(c: Ctx) extends Workload(c) {
  import c.spark
  val name = "history_daily"
  private val posts = s"${c.in}/lake/posts/*.jsonl"
  private val stats = s"${c.in}/lake/stats/*.jsonl"
  private val now = lit(c.meta.getProperty("now")).cast("timestamp")
  private val records =
    (c.metaLong("lake.post_versions") + c.metaLong("stats_rows") + c.metaLong("images")).toDouble
  private lazy val truth = c.lines("truth/history.tsv").map(_.split('\t')).map {
    case Array(id, dc, f, i, r) => id -> (if (dc == "-") None else Some(dc.toLong), f.toInt, i.toInt, r.toInt)
  }.toMap
  private lazy val imageOwners = c.lines("truth/palette_users.txt").toSet
  private var firstHash: Option[String] = None
  private val pct = "\"percentage\":([0-9.Ee+-]+)".r

  private def run(dir: String): Boolean = {
    c.trace.span("enrich.palette") {
      Palette.paletteFromImages(spark, s"${c.in}/images/*").write.parquet(s"$dir/colors") }
    c.trace.span("ingest.snapshot") {
      PostIngest.snapshot(spark, posts).write.parquet(s"$dir/snapshot") }
    c.trace.span("ingest.stage") {
      StatsIngest.stage(StatsIngest.readStats(spark, stats)).write.parquet(s"$dir/staging_users") }
    c.trace.span("analytics.rollup") {
      History.engagementRollup(spark.read.parquet(s"$dir/snapshot"), now)
        .write.parquet(s"$dir/staging_aggregations") }
    c.trace.span("analytics.history") {
      History.build(spark.read.parquet(s"$dir/staging_users"),
        spark.read.parquet(s"$dir/staging_aggregations"), spark.read.parquet(s"$dir/colors"))
        .write.parquet(s"$dir/history") }
    c.trace.span("analytics.render") {
      History.renderForWarehouse(spark.read.parquet(s"$dir/history"))
        .write.parquet(s"$dir/history_warehouse") }
    c.trace.span("analytics.gates") {
      val fact = spark.read.parquet(s"$dir/history_warehouse")
      History.checkRowCount(fact) && History.checkNoNulls(fact, "id") }
  }

  /** Palette: one row per owner with a decodable image, 1 to 6 buckets
    * whose shares sum to 1, and the same bytes on every operation. */
  private def checkPalette(dir: String): Option[String] = {
    val rows = spark.read.parquet(dir).select("igId", "colors", "n_buckets").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.map(r => s"${r._1}|${r._2}").mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (firstHash.isEmpty) firstHash = Some(hash)
    if (rows.map(_._1).toSet != imageOwners || rows.length != imageOwners.size)
      Some(s"palette has ${rows.length} owners, expected ${imageOwners.size}")
    else rows.collectFirst {
      case (u, _, n) if n < 1 || n > 6 => s"palette of $u has $n buckets"
      case (u, colors, _) if math.abs(pct.findAllMatchIn(colors).map(_.group(1).toDouble).sum - 1.0) > 1e-6 =>
        s"palette shares of $u do not sum to 1: $colors"
    }.orElse(if (firstHash.contains(hash)) None else Some(s"palette hash $hash differs from ${firstHash.get}"))
  }

  /** Fact: per-user doc_count and series lengths, and colors exactly for
    * the owners the palette covers. */
  private def checkHistory(dir: String): Option[String] = {
    val got = spark.read.parquet(dir)
      .select(col("id"), col("doc_count"), size(col("followers")), size(col("impressions")),
        size(col("reach")), col("colors").isNotNull)
      .collect().map(r => (r.getString(0),
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2), r.getInt(3), r.getInt(4)),
        r.getBoolean(5)))
    if (got.length != truth.size) Some(s"history has ${got.length} users, expected ${truth.size}")
    else got.collectFirst {
      case (id, v, _) if !truth.get(id).contains(v) => s"history row $id = $v, expected ${truth.get(id)}"
      case (id, _, hasColors) if hasColors != imageOwners.contains(id) =>
        s"history row $id has colors = $hasColors"
    }
  }

  private var measured = 0
  /** A window holds three operations (see `Runner` for its limits). */
  override def enough: Boolean = measured >= 3
  override def warmups: Int = 2

  def op(i: Int): Op = {
    val dir = s"${c.work}/op$i"
    val clk = new Host.Clock
    val gates = run(dir)
    val s = clk.sec
    if (inWindow) measured += 1
    Op(Seq(s * 1000), records, s, 1, () =>
      try {
        (if (gates) None else Some("quality gates failed"))
          .orElse(checkPalette(s"$dir/colors"))
          .orElse(checkSnapshot(spark.read.parquet(s"$dir/snapshot"), "lake"))
          .orElse(checkHistory(s"$dir/history")).toSeq
      } finally c.delete(dir))
  }

  override def detail(): String = s"""{"palette_hash":${firstHash.fold("null")(Main.q)}}"""
}

/** stream_serve: the per-PUT Lambda chain (s3-to-es_aws.py:131-205) as a
  * replay of a landed backlog through `streamSnapshot` in small
  * micro-batches, media mirroring twice (the first pass fetches every
  * candidate, the replay must fetch nothing), and between replays one
  * closed-loop client querying the search index built in set-up: keyword,
  * hashtag and mention `searchPosts` and BM25 top-10, each collecting its
  * result. Operations are single queries and single replays; only queries
  * give latency samples, only replays give work. */
final class StreamServe(c: Ctx) extends Workload(c) {
  import c.spark
  val name = "stream_serve"
  private val queries = c.lines("queries.tsv").map(_.split("\t", -1)).toIndexedSeq
  private var nextQuery = 0
  private var index: DataFrame = _
  private var docsDir: String = _
  private val batches = mutable.ArrayBuffer.empty[BatchLog.Batch]
  private var fetched = 0L
  private var hits = 0L
  private var replays = 0
  private var queried = 0

  /** The search index: the snapshot of the search lake and its captions
    * as the `documents` table BM25 reads. */
  override def prepare(rep: Int): Unit = {
    super.prepare(rep)
    val dir = s"${c.work}/index$rep"
    c.trace.span("ingest.snapshot") {
      PostIngest.snapshot(spark, s"${c.in}/search/posts/*.jsonl").write.parquet(s"$dir/snapshot") }
    index = spark.read.parquet(s"$dir/snapshot")
    docsDir = s"$dir/docs"
    index.select(col("id").cast("long").as("doc_id"), col("caption").as("text"))
      .write.parquet(s"$docsDir/documents.parquet")
  }

  /** One query, collecting its result. */
  private def query(q: Array[String]): Op = {
    val Array(kind, arg, expected) = q
    val clk = new Host.Clock
    val got: Seq[String] = kind match {
      case "bm25" => c.trace.span("text.bm25") {
        Search.bm25(spark, docsDir, arg.split(",").toSeq, 10).collect()
          .map(_.getAs[Long]("doc_id").toString).toSeq }
      case k =>
        val rows = c.trace.span(s"analytics.search.$k") {
          History.searchPosts(index,
            keyword = Some(arg).filter(_ => k == "keyword"),
            hashtag = Some(arg).filter(_ => k == "hashtag"),
            mention = Some(arg).filter(_ => k == "mention")).collect() }
        Seq(rows.length.toString)
    }
    val ms = clk.sec * 1000
    if (inWindow) { queried += 1; if (kind != "bm25") hits += got.head.toLong }
    val want = if (kind == "bm25") expected.split(",").filter(_.nonEmpty).toSeq else Seq(expected)
    Op(Seq(ms), 0, 0, 1, () =>
      if (got == want) Nil else Seq(s"$kind '$arg' returned ${got.mkString(",")}, expected $expected"))
  }

  /** Backlog replay into a fresh snapshot, then media mirroring twice.
    * Its work is the documents ingested over the stream's wall time.
    * `part` is "stream", the whole backlog, or "warmup", the owners of
    * `Gen.WarmupGlob`. */
  private def replay(dir: String, part: String): Op = {
    val glob = s"${c.in}/stream/posts/${if (part == "warmup") Gen.WarmupGlob else "*"}"
    val docs = c.metaLong(s"$part.post_versions").toDouble
    val candidates = c.metaLong(s"$part.candidates")
    c.batches.take()
    val clk = new Host.Clock
    val snap = c.trace.span("ingest.stream") {
      PostIngest.streamSnapshot(spark, glob, c.sz.maxFilesPerTrigger) }
    val streamSec = clk.sec
    val cands = MediaFetch.candidatesFromPosts(snap)
    val first = c.trace.span("ingest.media") {
      MediaFetch.fetchMissing(cands, s"$dir/media", (u: String) => Gen.payload(u)).count() }
    val again = c.trace.span("ingest.media.replay") {
      MediaFetch.fetchMissing(cands, s"$dir/media", (u: String) => Gen.payload(u)).count() }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val bs = c.batches.take()
    if (inWindow) { batches ++= bs; fetched += first; replays += 1 }
    Op(Nil, docs, streamSec, 1, () =>
      try {
        checkSnapshot(snap, part).orElse {
          if (first != candidates) Some(s"media pass fetched $first, expected $candidates")
          else if (again != 0) Some(s"media replay fetched $again rows, expected 0")
          else None
        }.toSeq
      } finally c.delete(dir))
  }

  /** A cycle is one replay and then `queriesPerCycle` queries; the
    * warm-up is one replay of part of the backlog (about 40 % of it) and
    * one query of each kind. */
  def op(i: Int): Op =
    if (i < 0) {
      val r = replay(s"${c.work}/warmup", "warmup")
      val qs = queries.groupBy(_(0)).values.map(_.head).toSeq.map(query)
      Op(Nil, 0, 0, 1 + qs.length, () => r.check() ++ qs.flatMap(_.check()))
    } else if (i % (c.sz.queriesPerCycle + 1) == 0) replay(s"${c.work}/op$i", "stream")
    else {
      val q = queries(nextQuery % queries.length)
      nextQuery += 1
      query(q)
    }

  /** A window holds one cycle (see `Runner` for its limits): a replay (work)
    * and its queries (latency samples). The traced run holds two, so
    * that its micro-batch tail has 40 samples at full size. */
  private val cycles = if (c.trace.enabled) 2 else 1
  override def enough: Boolean = replays >= cycles && queried >= cycles * c.sz.queriesPerCycle

  override def counters: Map[String, Double] = Map(
    "batches" -> batches.length.toDouble,
    "batch_rows" -> batches.map(_.inputRows).sum.toDouble,
    "fetched" -> fetched.toDouble,
    "candidates" -> c.metaLong("stream.candidates").toDouble,
    "hits" -> hits.toDouble)
  override def batchMs: Seq[Double] = batches.map(_.durationMs).toSeq
}
