package graft.analytics

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.SparkTestSession.jobsOf
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `History.searchPosts` serves file-backed frames from a built-once
  * `PostIndex`; these cases hold it to the filter plan it replaced. */
class PostIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The filter plan `searchPosts` ran before the index: the reference. */
  private def filtered(posts: DataFrame, keyword: Option[String],
                       hashtag: Option[String], mention: Option[String]): DataFrame =
    Seq(
      keyword.map(k => lower(col("caption")).contains(k.toLowerCase)),
      hashtag.map(h => array_contains(split(col("hashtags"), ",\\s*"), h)),
      mention.map(m => array_contains(split(col("mentioned_users"), ",\\s*"), m)))
      .flatten.foldLeft(posts)((df, p) => df.filter(p))

  /** Hand-made posts covering what the bench snapshot lacks. */
  private def edgePosts: DataFrame = {
    import spark.implicits._
    Seq[(Long, Option[String], Option[String], Option[String], Option[Long])](
      (1L, Some("Sunset over the BAY"), Some("travel, sunset"), Some("bob, alice"), Some(10L)),
      (2L, None, None, None, None),
      (3L, Some(""), Some(""), Some(""), Some(0L)),
      (4L, Some("a trailing comma"), Some("a, b,"), Some("x,y,"), Some(4L)),
      (5L, Some("repeat repeat"), Some("dup, dup,dup"), Some("bob, bob"), Some(5L)),
      (6L, Some("ÉTÉ à Zürich"), Some("été, Zürich"), Some("zoë"), Some(6L)),
      (7L, Some("mixed Été case sunset"), Some("travel"), Some("alice"), None),
      (8L, Some("sunset again"), Some("travel,sunset"), Some("carol, bob"), Some(8L)),
      (9L, Some("SUNSET"), Some("Travel"), Some("Bob"), Some(9L)),
      (10L, Some("no tags"), None, Some("bob"), Some(10L))
    ).toDF("id", "caption", "hashtags", "mentioned_users", "likes")
      .withColumn("ts", timestamp_micros(col("id") * 3600000000L))
      .withColumn("children", array(struct(col("id"), col("caption"))))
  }

  private def withDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally {
      PostIndex.memo.clear()
      FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** `searchPosts` equals the filter plan row for row, in order and in
    * schema. */
  private def assertSame(posts: DataFrame, keyword: Option[String] = None,
                         hashtag: Option[String] = None,
                         mention: Option[String] = None): Unit = {
    val got = History.searchPosts(posts, keyword, hashtag, mention)
    val want = filtered(posts, keyword, hashtag, mention)
    val q = s"keyword $keyword, hashtag $hashtag, mention $mention"
    assert(got.schema == want.schema, q)
    assert(got.collect().toSeq == want.collect().toSeq, q)
  }

  test("the index equals the filter plan on an edge corpus, rows, order and schema") {
    withDir("graft_post_index") { dir =>
      // three files: the scan order is by file size, not by id
      edgePosts.repartition(3, col("id")).write.parquet(s"$dir/snapshot")
      val posts = spark.read.parquet(s"$dir/snapshot")
      val builds = PostIndex.memo.builds.get
      val keywords = Seq("sunset", "SUNSET", "", "été", "ÉTÉ", "zürich", "a", "zzz")
      val tags = Seq("travel", "sunset", "", "a", "b", "dup", "été", "Zürich", "zzz")
      val mentions = Seq("bob", "", "y", "zoë", "Bob", "zzz")
      keywords.foreach(k => assertSame(posts, keyword = Some(k)))
      tags.foreach(h => assertSame(posts, hashtag = Some(h)))
      mentions.foreach(m => assertSame(posts, mention = Some(m)))
      for (k <- Seq("sunset", ""); h <- Seq("travel", ""); m <- Seq("bob", "alice", ""))
        assertSame(posts, Some(k), Some(h), Some(m))
      assertSame(posts, keyword = Some("sunset"), mention = Some("bob"))
      assert(History.searchPosts(posts) eq posts)
      assert(PostIndex.memo.builds.get == builds + 1, "every query is served by one index")
    }
  }

  test("a warm query runs no Spark job") {
    withDir("graft_post_index_jobs") { dir =>
      edgePosts.repartition(3, col("id")).write.parquet(s"$dir/snapshot")
      val posts = spark.read.parquet(s"$dir/snapshot")
      def query(k: Option[String], h: Option[String], m: Option[String]): Int =
        jobsOf(History.searchPosts(posts, k, h, m).collect())
      val cold = query(Some("sunset"), None, None)
      assert(cold == 1, s"$cold jobs to build the index")
      val (builds, hits) = (PostIndex.memo.builds.get, PostIndex.memo.hits.get)
      val warm = Seq(
        query(Some("sunset"), None, None),
        query(None, Some("travel"), None),
        query(None, None, Some("bob")),
        query(Some("sunset"), Some("travel"), Some("bob")))
      assert(warm == Seq(0, 0, 0, 0), s"jobs per warm query: $warm")
      assert(PostIndex.memo.builds.get == builds)
      assert(PostIndex.memo.hits.get == hits + 4)
    }
  }

  test("a snapshot rewritten from outside the session rebuilds the index once") {
    import spark.implicits._
    withDir("graft_post_index_memo") { dir =>
      val snapshot = s"$dir/snapshot"
      // write aside, then swap the directory: Spark refreshes no cache
      // of the path itself
      def write(rows: Seq[(String, String, String, String)]): Unit = {
        val staged = s"$dir/staged-${System.nanoTime}"
        rows.toDF("id", "caption", "hashtags", "mentioned_users")
          .coalesce(1).write.parquet(staged)
        FileUtils.deleteDirectory(new java.io.File(snapshot))
        Files.move(Paths.get(staged), Paths.get(snapshot))
      }
      def ids(): Seq[String] = History.searchPosts(spark.read.parquet(snapshot),
        hashtag = Some("travel")).collect().map(_.getAs[String]("id")).toSeq
      write(Seq(("1", "a", "travel", "bob"), ("2", "b", "food", "bob")))
      val builds = PostIndex.memo.builds.get
      assert(ids() == Seq("1"))
      assert(ids() == Seq("1"))
      assert(PostIndex.memo.builds.get == builds + 1)
      write(Seq(("3", "c", "travel", "ann"), ("4", "d", "travel, food", "ann")))
      assert(ids() == Seq("3", "4"))
      assert(ids() == Seq("3", "4"))
      assert(PostIndex.memo.builds.get == builds + 2, "one rebuild after the rewrite")
    }
  }

  test("a frame that is not file-backed keeps the filter plan") {
    withDir("graft_post_index_mixed") { dir =>
      edgePosts.write.parquet(s"$dir/snapshot")
      // a toDF frame, and a file relation unioned with one
      val mixed = spark.read.parquet(s"$dir/snapshot").unionByName(edgePosts)
      val builds = PostIndex.memo.builds.get
      for (posts <- Seq(edgePosts, mixed)) {
        assertSame(posts, keyword = Some("sunset"))
        assertSame(posts, hashtag = Some("travel"), mention = Some("bob"))
      }
      assert(PostIndex.memo.builds.get == builds)
    }
  }
}
