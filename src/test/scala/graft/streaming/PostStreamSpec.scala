package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.ingest.PostIngest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** `PostIngest.streamSnapshot` as a keyed latest-wins fold: the streamed
  * snapshot equals the batch `snapshot` on every column whatever the batch
  * boundaries, a replay leaves no stream or cached data behind, each
  * micro-batch runs one job, and what a batch writes does not grow with
  * the batches before it. */
class PostStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** One post document; `extra` is appended JSON fields. */
  private def post(id: String, ts: String, likes: Long, owner: String,
                   followers: Option[Long], extra: String = ""): String = {
    val fol = followers.fold("")(f => s""", "followers_count": $f""")
    s"""{"caption": "post $id #edge", "id": $id, "like_count": $likes, """ +
      s""""media_type": "IMAGE", "media_url": "https://cdn.example.com/$id.jpg?t=$likes", """ +
      s""""timestamp": "$ts", "hashtags": "edge", """ +
      s""""owner": {"id": "$owner", "username": "u$owner"$fol}$extra}"""
  }

  private val business = """, "impressions": 100, "reach": 80, "engagement": 9, "saved": 1"""

  /** Files in arrival order (path under the lake, content). The stream
    * source takes files by modification time, so each file's mtime is
    * its position here. */
  private val edgeFiles: Seq[(String, String)] = Seq(
    "o1/p1.json" -> post("1", "2024-01-01T00:00:00+0000", 1, "1", Some(10), business),
    "o1/p2+plus.json" -> post("2", "2024-01-01T01:00:00+0000", 2, "1", Some(10), business),
    // re-PUT of post 1 inside the same batch at maxFilesPerTrigger >= 3
    "o1/p1_v2.json" -> post("1", "2024-01-02T00:00:00+0000", 11, "1", Some(12), business),
    "o2/p3 space.json" -> post("3", "2024-01-01T02:00:00+0000", 3, "2", None),
    "o2/corrupt.json" -> """{"id": 99, "caption": "truncated""",
    "o2/p4%41.json" -> post("4", "2024-01-01T03:00:00+0000", 4, "2", None),
    // equal createdDate for post 5: the later arrival (p5_a) must lose
    // to the objectKey tie-break
    "o1/p5_b.json" -> post("5", "2024-01-03T00:00:00+0000", 52, "1", Some(13), business),
    "o2/p6.json" -> post("6", "2024-01-01T04:00:00+0000", 6, "2", None,
      """, "children": {"data": [{"id": "61", "media_type": "IMAGE", "media_url": "u61"}]}"""),
    "o1/p7.json" -> post("7", "2024-01-01T05:00:00+0000", 7, "1", Some(10), business),
    "o2/p3+v2 space.json" -> post("3", "2024-01-04T00:00:00+0000", 33, "2", None),
    "o1/p8.json" -> post("8", "2024-01-01T06:00:00+0000", 8, "1", Some(10), business),
    // re-PUT of post 2 in a later batch at every batch size
    "o1/p2_v2.json" -> post("2", "2024-01-05T00:00:00+0000", 22, "1", Some(14), business),
    "o2/p9.json" -> post("9", "2024-01-01T07:00:00+0000", 9, "2", None),
    "o1/p10.json" -> post("10", "2024-01-01T08:00:00+0000", 10, "1", Some(10), business),
    "o2/p11%25.json" -> post("11", "2024-01-01T09:00:00+0000", 11, "2", None),
    "o1/p5_a.json" -> post("5", "2024-01-03T00:00:00+0000", 51, "1", Some(13), business),
    "o2/p12.json" -> post("12", "2024-01-01T10:00:00+0000", 12, "2", None),
    "o1/p13.json" -> post("13", "2024-01-01T11:00:00+0000", 13, "1", Some(10), business))

  /** Writes `files` under a fresh dir with mtimes in list order; returns
    * the dir. */
  private def lake(prefix: String, files: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory(prefix)
    Replay.cleanupAtExit(dir.toString)
    val t0 = System.currentTimeMillis() - 3600L * 1000
    files.zipWithIndex.foreach { case ((name, body), i) =>
      val p: Path = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 1000L))
    }
    dir.toString
  }

  private lazy val edgeLake = lake("graft_post_edge", edgeFiles)

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  for (mfpt <- Seq(1, 3, 7)) {
    test(s"streamed snapshot equals the batch snapshot on every column (maxFilesPerTrigger $mfpt)") {
      val batch = PostIngest.snapshot(spark, s"$edgeLake/*")
      val streamed = PostIngest.streamSnapshot(spark, s"$edgeLake/*", mfpt)
      assert(streamed.columns.toSeq == batch.columns.toSeq)
      val got = rows(streamed)
      assert(got == rows(batch))
      // the edge cases themselves, so a shared mistake cannot pass
      val byId = got.map(r => r.getAs[String]("id") -> r).toMap
      assert(byId.keySet == (1 to 13).map(_.toString).toSet)
      assert(byId("1").getAs[Long]("like_count") == 11L)
      assert(byId("2").getAs[Long]("like_count") == 22L)
      assert(byId("3").getAs[Long]("like_count") == 33L)
      assert(byId("3").getAs[String]("objectKey").endsWith("/o2/p3+v2 space.json"))
      assert(byId("4").getAs[String]("objectKey").endsWith("/o2/p4%41.json"))
      assert(byId("11").getAs[String]("objectKey").endsWith("/o2/p11%25.json"))
      assert(byId("5").getAs[Long]("like_count") == 52L)
      assert(byId("5").getAs[String]("objectKey").endsWith("/o1/p5_b.json"))
      assert(byId("4").getAs[Long]("followers") == -1L)
      assert(byId("4").isNullAt(byId("4").fieldIndex("impressions")))
    }
  }

  test("nothing of a replay outlives its return; compaction finishes inside the stream") {
    val w = Files.createTempDirectory("graft_post_work").toString
    Replay.cleanupAtExit(w)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    // 18 files, one per batch: batch 15 compacts, 16 and 17 append after it
    val snap = PostIngest.streamSnapshot(spark, s"$edgeLake/*", 1, Some(w))
    assert(spark.streams.active.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(cached))
    val latest = Paths.get(w, "g1", "latest")
    assert(!Files.exists(Paths.get(w, "g0")))
    assert(new String(Files.readAllBytes(Paths.get(w, "g1", "_upto"))).trim == "15")
    assert(Files.list(latest).iterator.asScala.map(_.getFileName.toString).toSet ==
      Set("c1", "b16", "b17"))
    assert(snap.count() == 13L)
  }

  test("each micro-batch outside compaction runs at most one Spark job") {
    val batches = math.ceil(edgeFiles.size / 3.0).toInt // < 16: no compaction
    var snap: DataFrame = null
    val jobs = SparkTestSession.jobsOf {
      snap = PostIngest.streamSnapshot(spark, s"$edgeLake/*", 3)
    }
    assert(jobs >= 1, "no stream job was counted")
    assert(jobs <= batches, s"$jobs jobs for $batches micro-batches")
    assert(snap.count() == 13L)
  }

  test("bytes a micro-batch writes do not grow with the batch count") {
    // one new post per file, each with a 4 KB incompressible caption: a
    // batch that rewrote the whole state would write k captions at
    // batch k
    val rnd = new scala.util.Random(7)
    val files = (1 to 12).map { i =>
      val caption = rnd.alphanumeric.take(4096).mkString
      s"o/p$i.json" -> post(i.toString, f"2024-02-$i%02dT00:00:00+0000", i, "1", Some(5L),
        s""", "impressions": $i""").replace(s""""post $i #edge"""", s""""$caption"""")
    }
    val dir = lake("graft_post_size", files)
    val sc = spark.sparkContext
    val stageBatch = new ConcurrentHashMap[Int, Long]
    val written = new ConcurrentHashMap[Long, AtomicLong]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => e.stageIds.foreach(s => stageBatch.put(s, b.toLong)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageBatch.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach(b =>
          written.computeIfAbsent(b, _ => new AtomicLong)
            .addAndGet(e.taskMetrics.outputMetrics.bytesWritten))
    }
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      assert(PostIngest.streamSnapshot(spark, s"$dir/*", 1).count() == 12L)
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    val perBatch = written.asScala.toSeq.sortBy(_._1).map(_._2.get)
    assert(perBatch.size == 12, s"bytes by batch: $perBatch")
    assert(perBatch.head > 4096, s"bytes by batch: $perBatch")
    assert(perBatch.max <= perBatch.head * 3 / 2, s"bytes by batch: $perBatch")
  }
}
