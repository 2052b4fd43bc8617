package graft.analytics

import graft.SparkTestSession
import graft.ingest.{PostIngest, StatsIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end test of the reference's product pipeline (SURVEY §3.1
  * + §3.2): raw post/stats JSON fixtures → snapshot → engagement rollup →
  * `history` fact, asserted against hand-computed rows derived from the
  * reference's documented contracts (README.md:228-240,477-487). */
class DomainPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val fixtures = "src/test/resources/fixtures"

  lazy val snapshot = PostIngest.snapshot(spark, s"$fixtures/posts/*")
  lazy val staged = StatsIngest.stage(StatsIngest.readStats(spark, s"$fixtures/stats/*"))

  test("post ingest covers all 5 media variants, drops corrupt records") {
    val rows = snapshot.collect()
    assert(rows.length == 6, s"expected 6 unique posts, got ${rows.length}")
    val types = rows.map(r => r.getAs[String]("media_type")).toSet
    assert(types == Set("IMAGE", "VIDEO", "CAROUSEL_ALBUM", "STORY IMAGE", "STORY VIDEO"))
  }

  test("latest-wins upsert picks the replayed v2 metrics (K2)") {
    val p100 = snapshot.filter(col("id") === "100").collect().head
    assert(p100.getAs[Long]("like_count") == 75L) // v2, not 50
    assert(p100.getAs[Long]("followers") == 3450L)
    assert(p100.getAs[Long]("comments_count") == 6L)
  }

  test("flatten: sentinel, media-url rewrite, nested children survive") {
    val p200 = snapshot.filter(col("id") === "200").collect().head
    assert(p200.getAs[Long]("followers") == -1L) // P6: Basic tier sentinel
    val p100 = snapshot.filter(col("id") === "100").collect().head
    assert(p100.getAs[String]("media_url") == "s3://media-store/1/100/original.jpg") // P8+F1
    val p102 = snapshot.filter(col("id") === "102").collect().head
    val children = p102.getStruct(p102.fieldIndex("children"))
    assert(children.getSeq[org.apache.spark.sql.Row](0).length == 3)
    val p202 = snapshot.filter(col("id") === "202").collect().head
    assert(p202.getAs[String]("media_url") == null) // STORY VIDEO: no media_url
  }

  test("engagement rollup matches hand-computed golden (A1)") {
    val rollup = History.engagementRollup(snapshot,
        to_timestamp(lit("2024-01-20 00:00:00")), days = 60)
      .orderBy("id").collect()
    assert(rollup.length == 2)
    val u1 = rollup(0)
    assert(u1.getAs[String]("id") == "1")
    assert(u1.getAs[Long]("doc_count") == 3L)
    assert(math.abs(u1.getAs[Double]("fol_avg") - (3450 + 3444 + 3444) / 3.0) < 1e-9)
    assert(math.abs(u1.getAs[Double]("eng_avg") - 50.0) < 1e-9) // (60+40)/2, null skipped
    val u2 = rollup(1)
    assert(u2.getAs[String]("id") == "2")
    assert(u2.getAs[Long]("doc_count") == 3L)
    assert(math.abs(u2.getAs[Double]("fol_avg") - (-1.0)) < 1e-9)
    assert(u2.isNullAt(u2.fieldIndex("eng_avg"))) // Basic tier: no engagement
  }

  test("trailing window excludes old posts (P9)") {
    // posts are Jan 10-14; now=Feb 20 − 60d = Dec 22 → all included
    val rollup = History.engagementRollup(snapshot,
      to_timestamp(lit("2024-02-20 00:00:00")), days = 60).collect()
    assert(rollup.map(_.getAs[Long]("doc_count")).sum == 6L)
    // now=Mar 20 − 60d = Jan 20 → all excluded
    val none = History.engagementRollup(snapshot,
      to_timestamp(lit("2024-03-20 00:00:00")), days = 60).collect()
    assert(none.isEmpty)
  }

  test("history fact matches the golden rows (A2+J1+J2)") {
    import spark.implicits._
    val aggs = History.engagementRollup(snapshot,
      to_timestamp(lit("2024-01-20 00:00:00")), days = 60)
    val colors = Seq(("1", """[{"percentage":0.5,"red":1,"green":2,"blue":3,"hex":"#010203"}]"""))
      .toDF("igId", "colors")
    val history = History.build(staged, aggs, colors).collect()
    assert(history.length == 2)
    val u1 = history(0)
    assert(u1.getAs[String]("id") == "1")
    assert(u1.getSeq[Long](u1.fieldIndex("followers")).toSeq ==
      Seq(3444L, 3566L, 3570L, 3450L)) // ordered by created_at
    assert(u1.getSeq[Long](u1.fieldIndex("impressions")).toSeq ==
      Seq(15897L, 14786L, 12987L, 14555L))
    assert(u1.getSeq[Long](u1.fieldIndex("reach")).toSeq ==
      Seq(12897L, 11786L, 9987L, 11555L))
    assert(u1.getAs[Long]("doc_count") == 3L)
    assert(u1.getAs[String]("colors").startsWith("""[{"percentage":0.5"""))
    val u2 = history(1)
    assert(u2.getAs[String]("id") == "2")
    assert(u2.getSeq[Long](u2.fieldIndex("followers")).toSeq == Seq(150L, 155L))
    assert(u2.getSeq[Long](u2.fieldIndex("impressions")).isEmpty) // LISTAGG-skips-nulls parity
    assert(u2.isNullAt(u2.fieldIndex("colors"))) // left join: no palette yet
  }

  test("warehouse render produces the reference's comma-joined VARCHAR") {
    import spark.implicits._
    val aggs = History.engagementRollup(snapshot,
      to_timestamp(lit("2024-01-20 00:00:00")), days = 60)
    val colors = Seq.empty[(String, String)].toDF("igId", "colors")
    val rendered = History.renderForWarehouse(History.build(staged, aggs, colors))
      .filter(col("id") === "1").collect().head
    assert(rendered.getAs[String]("followers") == "3444, 3566, 3570, 3450")
    assert(rendered.getAs[String]("impressions") == "15897, 14786, 12987, 14555")
  }

  test("ingest envelope carries all four reference fields (K2 wrap)") {
    // s3-to-es_aws.py:163-168: objectKey, createdDate, content_type,
    // content_length wrap every indexed document
    val p100 = snapshot.filter(col("id") === "100").collect().head
    assert(p100.getAs[String]("objectKey").endsWith(".json"))
    assert(p100.getAs[String]("createdDate") != null)
    assert(p100.getAs[String]("content_type") == "application/json")
    val len = p100.getAs[Long]("content_length")
    val f = new java.io.File(new java.net.URI(p100.getAs[String]("objectKey")))
    assert(len == f.length(), s"content_length $len != file size ${f.length()}")
  }

  test("quality gates (A6, A7 intent)") {
    assert(History.checkRowCount(snapshot))
    assert(History.checkNoNulls(snapshot, "id"))
    assert(!History.checkNoNulls(snapshot, "engagement")) // basic-tier nulls exist
  }

  test("keyword/hashtag/mention search (F13)") {
    assert(History.searchPosts(snapshot, keyword = Some("sunset"))
      .collect().map(_.getAs[String]("id")).toSeq == Seq("100"))
    assert(History.searchPosts(snapshot, hashtag = Some("travel"))
      .collect().map(_.getAs[String]("id")).toSeq == Seq("102"))
    assert(History.searchPosts(snapshot, mention = Some("bob"))
      .collect().map(_.getAs[String]("id")).toSeq == Seq("100"))
  }

  test("streaming post ingest equals the batch snapshot (§3.1)") {
    // the ingest envelope too: both readers share one `withEnvelope`
    val compared = Seq("id", "like_count", "followers", "media_url",
      "objectKey", "content_type", "content_length")
    val streamed = graft.ingest.PostIngest
      .streamSnapshot(spark, s"$fixtures/posts/*", maxFilesPerTrigger = 2)
      .select(compared.map(col): _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val batch = snapshot
      .select(compared.map(col): _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("ingest stats count valid vs corrupt records (P12 observability)") {
    val row = graft.ingest.PostIngest.ingestStats(spark, s"$fixtures/posts/*")
      .collect().head
    assert(row.getAs[Long]("n_valid") == 7L) // 8 files, 1 corrupt (7 incl. the v2 replay)
    assert(row.getAs[Long]("n_corrupt") == 1L)
  }

  test("stats staging parses epoch-millis created_at (F7 fallback)") {
    // TIMEFORMAT 'epochmillisecs' (stage_redshift.py:63): a numeric
    // created_at stages to the same date as its ISO form
    val tmp = java.nio.file.Files.createTempDirectory("graft_f7")
    java.nio.file.Files.write(tmp.resolve("a.json"),
      """{"created_at":"1704412800000","id":"9"}
        |{"created_at":"2024-01-05","id":"10"}""".stripMargin.getBytes)
    val staged = StatsIngest.stage(StatsIngest.readStats(spark, s"$tmp/*"))
      .select("id", "created_at").collect()
      .map(r => r.getString(0) -> r.getDate(1).toString).toMap
    assert(staged == Map("9" -> "2024-01-05", "10" -> "2024-01-05"))
  }

  test("object keys are URL-decoded (F5)") {
    val keys = snapshot.collect().map(_.getAs[String]("objectKey"))
    assert(keys.nonEmpty)
    assert(keys.forall(!_.contains("%2")), s"undecoded key in ${keys.take(3).toSeq}")
  }

  test("blank-string stats fields become NULL (F10)") {
    val u2 = staged.filter(col("id") === "2").collect()
    assert(u2.length == 2)
    assert(u2.forall(r => r.isNullAt(r.fieldIndex("impressions"))))
  }
}
