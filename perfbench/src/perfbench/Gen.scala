package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator: one process, one workload, one seed.
  *
  *   Gen <workload> <seed> <size> <outDir>
  *
  * Writes the workload's input files under `outDir` and the ground truth
  * the benchmark checks the program's outputs against under
  * `outDir/truth`. The same (workload, seed, size) always writes the same
  * bytes; no file is downloaded and nothing is read. */
object Gen {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, sizeArg, out) = args
    val g = new Gen(seedArg.toLong, Sizes(sizeArg), new File(out))
    workload match {
      case "history_daily" => g.historyDaily()
      case "stream_serve"  => g.streamServe()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  private val isoTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'+0000'")

  /** Post timestamp in the reference's Graph-API form (README.md:76). */
  def timestamp(day: Int, secs: Int): String =
    isoTs.format(Epoch.plusDays(day.toLong).atStartOfDay()
      .plusSeconds(secs.toLong).atOffset(ZoneOffset.UTC))

  def date(day: Int): String = Epoch.plusDays(day.toLong).toString

  /** `now` of a daily run that follows `days` days of posts. */
  def nowAfter(days: Int): String =
    Instant.ofEpochSecond(Epoch.plusDays(days.toLong).toEpochDay * 86400L).toString

  def ownerId(a: Int): String = (17841400000000000L + a).toString
  /** stream_serve's warm-up replays the owners whose id ends in 0-3. */
  val WarmupGlob = "*[0-3]"
  def warmupOwner(a: Int): Boolean = a % 10 < 4
  def postId(k: Int): Long = 17900000000000000L + k

  /** Caption vocabulary: distinct pseudo-words from syllables, in a fixed
    * order (the seed picks words, not the vocabulary). */
  val words: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "su", "ra", "to", "vi", "pe", "zu",
      "bo", "da", "fi", "gu", "ha", "je", "ky", "wo")
    val all = for (a <- syl; b <- syl; c <- "" +: syl) yield a + b + c
    all.distinct.take(2000).toIndexedSeq
  }
  val tags: IndexedSeq[String] = (0 until 400).map(i => s"tag${words(i * 5 % words.length)}")

  /** Integer counts for `n` ranks summing to `total`, proportional to
    * 1/rank^s: the skew profile is fixed, only its assignment is seeded. */
  def zipfCounts(total: Int, n: Int, s: Double): Array[Int] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val sum = w.sum
    val c = w.map(x => math.floor(total * x / sum).toInt)
    var rest = total - c.sum
    var r = 0
    while (rest > 0) { c(r % n) += 1; rest -= 1; r += 1 }
    c
  }

  final case class Post(id: Long, owner: Int, day: Int, secs: Int, caption: String,
                        tags: Seq[String], mentions: Seq[String], mediaType: String,
                        likes: Long, comments: Long)

  /** The content-addressed payload the in-process media transport returns. */
  def payload(url: String): Array[Byte] = {
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(url.getBytes(UTF_8))
    Array.tabulate(512)(i => h(i % h.length))
  }
}

final class Gen(seed: Long, sz: Sizes, out: File) {
  import Gen._

  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  private val truth = new File(out, "truth")
  private val meta = new java.util.Properties()

  out.mkdirs(); truth.mkdirs()

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
  }
  private def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = writer(f)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
  private def saveMeta(): Unit = {
    val os = new FileOutputStream(new File(truth, "meta.properties"))
    try meta.store(os, null) finally os.close()
  }

  private def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(): Int = at(rnd.nextDouble())
    /** The rank at cumulative share `u`. */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  private val wordZipf = new Zipf(words.length, 1.0)
  private val tagZipf = new Zipf(tags.length, 1.0)

  private def distinctDraws(k: Int, z: Zipf): Seq[Int] = {
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += z.next()
    s.toSeq
  }

  private def newPost(k: Int, owner: Int, day: Int, handles: IndexedSeq[String],
                      handleZipf: Zipf): Post = {
    val caption = Seq.fill(4 + rnd.nextInt(9))(words(wordZipf.next())).mkString(" ")
    val tg = distinctDraws(rnd.nextInt(4), tagZipf).map(tags)
    val mn = distinctDraws(rnd.nextInt(3), handleZipf).map(handles)
    val u = rnd.nextDouble()
    val mediaType =
      if (u < 0.70) "IMAGE" else if (u < 0.83) "VIDEO"
      else if (u < 0.95) "CAROUSEL_ALBUM" else "STORY VIDEO"
    Post(postId(k), owner, day, rnd.nextInt(86400), caption, tg, mn, mediaType,
      rnd.nextInt(500).toLong, rnd.nextInt(40).toLong)
  }

  /** One post version as the Graph API delivers it (FIXTURES.md §1):
    * Business accounts carry follower counts and insights, Basic ones
    * neither; STORY VIDEO has no media_url. */
  private def postJson(p: Post, likes: Long, business: Boolean, followers: Long): String = {
    val id = p.id.toString
    val sb = new StringBuilder(640)
    sb ++= s"""{"caption":"${p.caption}","comments_count":${p.comments},"id":"$id","""
    sb ++= s""""ig_id":"${p.id % 1000000007L}","is_comment_enabled":true,"like_count":$likes,"""
    sb ++= s""""media_type":"${p.mediaType}","""
    val ext = if (p.mediaType == "VIDEO") "mp4" else "jpg"
    if (p.mediaType != "STORY VIDEO")
      sb ++= s""""media_url":"https://scontent.cdn.example/v/t51.2885-15/${id}_n.$ext?_nc_cat=10&oh=x","""
    if (p.mediaType == "VIDEO")
      sb ++= s""""thumbnail_url":"https://scontent.cdn.example/v/t51.2885-15/${id}_t.jpg?_nc_cat=10","""
    sb ++= s""""permalink":"https://www.instagram.com/p/B$id/","shortcode":"B$id","""
    sb ++= s""""timestamp":"${timestamp(p.day, p.secs)}","username":"u${p.owner}","""
    sb ++= s""""mentioned_users":"${p.mentions.mkString(", ")}","hashtags":"${p.tags.mkString(", ")}","""
    sb ++= s""""owner":{"id":"${ownerId(p.owner)}","username":"u${p.owner}""""
    if (business) sb ++= s""","followers_count":$followers"""
    sb ++= "}"
    if (p.mediaType == "CAROUSEL_ALBUM")
      sb ++= s""","children":{"data":[{"id":"${id}1","media_type":"IMAGE","media_url":"https://scontent.cdn.example/c/${id}1.jpg?x=1"},{"id":"${id}2","media_type":"IMAGE","media_url":"https://scontent.cdn.example/c/${id}2.jpg?x=1"}]}"""
    if (business)
      sb ++= s""","impressions":${likes * 11 + 7},"reach":${likes * 9 + 3},"engagement":${likes + p.comments},"saved":${p.comments / 2}"""
    sb ++= "}"
    sb.toString
  }

  private val corruptLine = """{"id": "broken", "caption": "unterminated"""

  /** Account tiers and follower bases, fixed per account for the run. */
  private final class Accounts(n: Int) {
    val business: Array[Boolean] = Array.fill(n)(rnd.nextDouble() < 0.7)
    val followers: Array[Long] = Array.fill(n)(100L + rnd.nextInt(50000))
    val handles: IndexedSeq[String] = (0 until n).map(a => s"u$a")
    val handleZipf = new Zipf(n, 1.0)
  }

  /** Posts created over `days` days, owners skewed by a fixed profile,
    * plus exactly `rePutShare` of them PUT again on a later day with more
    * likes. Returns (posts, re-PUT day and likes by post index). */
  private def postsAndRePuts(n: Int, owners: Int, days: Int, acc: Accounts)
      : (IndexedSeq[Post], Map[Int, (Int, Long)]) = {
    val perOwner = zipfCounts(n, owners, 0.8)
    val rankToOwner = shuffled(0 until owners)
    val ownerOfPost = shuffled(perOwner.indices.flatMap(r => Seq.fill(perOwner(r))(rankToOwner(r))))
    val posts = ownerOfPost.indices.map(k =>
      newPost(k, ownerOfPost(k), rnd.nextInt(days), acc.handles, acc.handleZipf))
    val eligible = posts.indices.filter(k => posts(k).day < days - 1)
    val nRe = math.min(eligible.length, math.round(sz.rePutShare * n).toInt)
    val rePuts = shuffled(eligible).take(nRe).map { k =>
      val p = posts(k)
      k -> (p.day + 1 + rnd.nextInt(days - 1 - p.day), p.likes + 1 + rnd.nextInt(50))
    }.toMap
    (posts, rePuts)
  }

  /** Expected latest-wins snapshot of lake `name`: unique posts, versions,
    * media candidates, and the final like_count of every re-PUT id. */
  private def snapshotTruth(name: String, posts: IndexedSeq[Post], rePuts: Map[Int, (Int, Long)]): Unit = {
    meta.setProperty(s"$name.posts_unique", posts.length.toString)
    meta.setProperty(s"$name.post_versions", (posts.length + rePuts.size).toString)
    meta.setProperty(s"$name.candidates", posts.count(_.mediaType != "STORY VIDEO").toString)
    writeLines(new File(truth, s"$name.reput_likes.tsv"),
      rePuts.toSeq.sortBy(_._1).map { case (k, (_, likes)) => s"${posts(k).id}\t$likes" })
  }

  /** history_daily: packed lake, one JSONL object per day for posts and
    * for stats, the image store of the weekly palette job, and the
    * expected fact. */
  def historyDaily(): Unit = {
    val n = sz.postDays * sz.postsPerDay
    val acc = new Accounts(sz.accounts)
    val (posts, rePuts) = postsAndRePuts(n, sz.accounts, sz.postDays, acc)
    val byDay = Array.fill(sz.postDays)(mutable.ArrayBuffer.empty[String])
    posts.indices.foreach { k =>
      val p = posts(k)
      byDay(p.day) += postJson(p, p.likes, acc.business(p.owner), acc.followers(p.owner))
      rePuts.get(k).foreach { case (d, likes) =>
        byDay(d) += postJson(p, likes, acc.business(p.owner), acc.followers(p.owner) + 5)
      }
    }
    byDay.indices.foreach { d =>
      writeLines(new File(out, s"lake/posts/${date(d)}.jsonl"), byDay(d) :+ corruptLine)
    }
    snapshotTruth("lake", posts, rePuts)

    // stats: one row per account per day over the last statsDays days;
    // a fifth of the accounts join part-way, so series lengths differ
    val firstStatsDay = sz.postDays - sz.statsDays
    val start = Array.fill(sz.accounts)(
      if (rnd.nextDouble() < 0.8) 0 else rnd.nextInt(sz.statsDays))
    (0 until sz.statsDays).foreach { s =>
      val rows = (0 until sz.accounts).filter(a => start(a) <= s).map { a =>
        val f = acc.followers(a) + s * 3
        val biz = if (acc.business(a))
          s""","impressions":${f * 4 + s},"reach":${f * 2 + s},"follower_count":${s % 7},"website_clicks":${s % 3}"""
        else ""
        s"""{"created_at":"${date(firstStatsDay + s)}","biography":"bio $a","id":"${ownerId(a)}",""" +
          s""""ig_id":$a,"followers_count":$f,"follows_count":${a % 300},"media_count":${a % 900},""" +
          s""""name":"Name $a","profile_picture_url":"https://scontent.cdn.example/p/$a.jpg",""" +
          s""""username":"u$a","website":""$biz}"""
      }
      writeLines(new File(out, s"lake/stats/${date(firstStatsDay + s)}.jsonl"), rows :+ corruptLine)
    }
    meta.setProperty("stats_rows", start.map(sz.statsDays - _).sum.toString)
    meta.setProperty("now", nowAfter(sz.postDays))

    // images for the weekly palette job, owned by a seeded set of accounts
    val imageOwners = shuffled(0 until sz.accounts).take(sz.paletteUsers).map(ownerId)
    images(imageOwners, ownerId(sz.accounts))

    // expected fact: per staged user, doc_count over the 60-day window
    // (null when no post falls in it) and the three series lengths
    val inWindow = new Array[Int](sz.accounts)
    posts.foreach(p => if (p.day >= sz.postDays - Sizes.WindowDays) inWindow(p.owner) += 1)
    writeLines(new File(truth, "history.tsv"), (0 until sz.accounts).map { a =>
      val len = sz.statsDays - start(a)
      val biz = if (acc.business(a)) len else 0
      val dc = if (inWindow(a) > 0) inWindow(a).toString else "-"
      s"${ownerId(a)}\t$dc\t$len\t$biz\t$biz"
    })
    saveMeta()
  }

  /** stream_serve: the per-PUT backlog the stream replays, and the
    * packed lake and query list of the search index. */
  def streamServe(): Unit = {
    postStream()
    searchLake()
    saveMeta()
  }

  /** The per-PUT layout: one JSON object per post version under
    * posts/<owner>/, re-PUTs as later versions of the same id. */
  private def postStream(): Unit = {
    val acc = new Accounts(sz.streamOwners)
    val (posts, rePuts) = postsAndRePuts(sz.streamPosts, sz.streamOwners, 30, acc)
    posts.indices.foreach { k =>
      val p = posts(k)
      val dir = s"stream/posts/${ownerId(p.owner)}"
      writeLines(new File(out, s"$dir/${p.id}-v01.json"),
        Seq(postJson(p, p.likes, acc.business(p.owner), acc.followers(p.owner))))
      rePuts.get(k).foreach { case (_, likes) =>
        writeLines(new File(out, s"$dir/${p.id}-v02.json"),
          Seq(postJson(p, likes, acc.business(p.owner), acc.followers(p.owner) + 5)))
      }
    }
    writeLines(new File(out, s"stream/posts/${ownerId(0)}/broken.json"), Seq(corruptLine))
    snapshotTruth("stream", posts, rePuts)
    val warm = posts.indices.filter(k => Gen.warmupOwner(posts(k).owner))
    snapshotTruth("warmup", warm.map(posts),
      warm.zipWithIndex.flatMap { case (k, j) => rePuts.get(k).map(j -> _) }.toMap)
  }

  /** A packed post lake for the search index built in set-up, and the
    * query list with each query's expected answer. */
  private def searchLake(): Unit = {
    val acc = new Accounts(math.max(sz.searchPosts / 10, 4))
    val (posts, rePuts) = postsAndRePuts(sz.searchPosts, acc.business.length, 8, acc)
    val files = Array.fill(8)(mutable.ArrayBuffer.empty[String])
    posts.indices.foreach { k =>
      val p = posts(k)
      files(p.day) += postJson(p, p.likes, acc.business(p.owner), acc.followers(p.owner))
      rePuts.get(k).foreach { case (d, likes) =>
        files(d) += postJson(p, likes, acc.business(p.owner), acc.followers(p.owner))
      }
    }
    files.indices.foreach(f => writeLines(new File(out, s"search/posts/part-$f.jsonl"), files(f)))
    snapshotTruth("search", posts, rePuts)

    // ground truth, computed the way the program defines each query:
    // keyword = substring of the lower-cased caption, hashtag/mention =
    // element of the ", "-split list, bm25 = Okapi BM25 top-10 over the
    // whitespace-split captions, score rounded half-up to 6 places, ties
    // broken by doc_id
    val toks = posts.map(_.caption.trim.split("\\s+"))
    val nDocs = posts.length.toDouble
    val avgdl = toks.map(_.length.toLong).sum.toDouble / nDocs
    def bm25(terms: Seq[String]): Seq[Long] = {
      val df = terms.map(t => t -> toks.count(_.contains(t)).toDouble).toMap
      val idf = df.map { case (t, d) => t -> math.log((nDocs - d + 0.5) / (d + 0.5) + 1.0) }
      posts.indices.flatMap { i =>
        val dl = toks(i).length.toDouble
        val parts = terms.flatMap { t =>
          val tf = toks(i).count(_ == t).toDouble
          if (tf == 0) None
          else Some(idf(t) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        }
        if (parts.isEmpty) None
        else Some((BigDecimal(parts.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          posts(i).id))
      }.sortBy { case (s, id) => (-s, id) }.take(10).map(_._2)
    }
    // Every seed serves the same mix: the kinds take turns (one ranked
    // query in three, the slow tail), and query i takes its terms at fixed
    // points u of the Zipf popularity curve (golden-ratio steps), so
    // selectivity varies along the list but not from seed to seed; the
    // seed decides the lake and so every answer.
    def u(i: Int, k: Int): Double = ((i + 1) * 0.6180339887498949 + k * 0.5) % 1.0
    val kinds = Seq(0, 1, 3, 2, 0, 3, 1, 2, 3)
    val lines = (0 until sz.queries).map { i =>
      val kind = kinds(i % kinds.length)
      if (kind == 0) {
        val k = words(wordZipf.at(u(i, 0)))
        s"keyword\t$k\t${posts.count(_.caption.toLowerCase.contains(k))}"
      } else if (kind == 1) {
        val t = tags(tagZipf.at(u(i, 0)))
        s"hashtag\t$t\t${posts.count(_.tags.contains(t))}"
      } else if (kind == 2) {
        val m = acc.handles(acc.handleZipf.at(u(i, 0)))
        s"mention\t$m\t${posts.count(_.mentions.contains(m))}"
      } else {
        val terms = (0 to (i / kinds.length) % 2).map(k => words(wordZipf.at(u(i, k)))).distinct
        s"bm25\t${terms.mkString(",")}\t${bm25(terms).mkString(",")}"
      }
    }
    writeLines(new File(out, "queries.tsv"), lines)
  }

  /** Noisy PNG and JPEG images under images/<igId>/ for `owners`, image
    * counts per owner on a fixed Zipf(2) profile (the top owner holds
    * almost half the images: the straggler group of the per-owner KMeans
    * stage), plus undecodable files: one beside real images, and one
    * under `emptyOwner`, who has nothing else. */
  private def images(owners: IndexedSeq[String], emptyOwner: String): Unit = {
    import java.awt.image.BufferedImage
    val users = owners.length
    val perUser = zipfCounts(sz.paletteImages - users, users, 2.0).map(_ + 1)
    val rankToUser = shuffled(owners)
    var n = 0
    perUser.indices.foreach { r =>
      val u = rankToUser(r)
      val base = Array.fill(2 + rnd.nextInt(4))(rnd.nextInt(0xFFFFFF))
      (0 until perUser(r)).foreach { i =>
        val img = new BufferedImage(sz.imageW, sz.imageH, BufferedImage.TYPE_INT_RGB)
        var by = 0
        while (by < sz.imageH) {
          var bx = 0
          while (bx < sz.imageW) {
            val c = base(rnd.nextInt(base.length))
            var y = by
            while (y < math.min(by + 8, sz.imageH)) {
              var x = bx
              while (x < math.min(bx + 8, sz.imageW)) {
                def ch(v: Int): Int = math.max(0, math.min(255, v + rnd.nextInt(25) - 12))
                img.setRGB(x, y, (ch(c >> 16) << 16) | (ch((c >> 8) & 255) << 8) | ch(c & 255))
                x += 1
              }
              y += 1
            }
            bx += 8
          }
          by += 8
        }
        val fmt = if ((i + r) % 2 == 0) "png" else "jpg"
        val f = new File(out, s"images/$u/$i.$fmt")
        f.getParentFile.mkdirs()
        javax.imageio.ImageIO.write(img, fmt, f)
        n += 1
      }
    }
    def garbage(f: File): Unit = {
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, "not an image".getBytes(UTF_8))
    }
    garbage(new File(out, s"images/${rankToUser(0)}/broken.png"))
    garbage(new File(out, s"images/$emptyOwner/broken.png"))
    meta.setProperty("images", n.toString)
    writeLines(new File(truth, "palette_users.txt"), owners.sorted)
  }
}
