package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Post-document ingest — SURVEY §3.1: the reference's per-PUT Lambda chain
  * (lambda/s3Posts-to-ES-lambda/s3-to-es_aws.py:131-205) as one declarative
  * Spark plan: PERMISSIVE JSON scan (S1) → prune (P1) → flatten owner (P3)
  * → id cast (P5) → follower sentinel (P6) → media-url rewrite (P8, F1) →
  * latest-wins keyed snapshot (K2).
  *
  * One superset schema covers all five media_type variants × both
  * connection tiers (README.md:45-56,147-149): absent keys are nulls, and
  * the Basic-tier missing follower count becomes the reference's -1
  * sentinel (s3-to-es_aws.py:184-189).
  */
object PostIngest {

  /** Superset post schema (FIXTURES.md §1; README.md:62-96,377-416). */
  val postSchema: StructType = StructType(Seq(
    StructField("caption", StringType),
    StructField("comments_count", LongType),
    StructField("id", StringType), // arrives as number in some tiers; cast on read
    StructField("ig_id", StringType),
    StructField("is_comment_enabled", BooleanType),
    StructField("like_count", LongType),
    StructField("media_type", StringType),
    StructField("media_url", StringType),
    StructField("permalink", StringType),
    StructField("shortcode", StringType),
    StructField("timestamp", StringType), // ISO-8601 with +0000 (README.md:76)
    StructField("username", StringType),
    StructField("mentioned_users", StringType),
    StructField("hashtags", StringType),
    StructField("owner", StructType(Seq(
      StructField("id", StringType),
      StructField("username", StringType),
      StructField("followers_count", LongType)))),
    StructField("children", StructType(Seq(
      StructField("data", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("media_type", StringType),
        StructField("media_url", StringType)))))))),
    StructField("comments", StructType(Seq(
      StructField("data", ArrayType(StructType(Seq(
        StructField("like_count", LongType),
        StructField("id", StringType)))))))),
    // Business-only metrics (README.md:409-413)
    StructField("impressions", LongType),
    StructField("reach", LongType),
    StructField("engagement", LongType),
    StructField("saved", LongType),
    StructField("video_view", LongType),
    // video-only (README.md:51-52)
    StructField("views", LongType),
    StructField("thumbnail_url", StringType),
    // story-only (README.md:54)
    StructField("sticker_taps", LongType),
    StructField("tap_backs", LongType),
    StructField("swipe_ups", LongType),
    StructField("_corrupt_record", StringType)))

  /** S1: PERMISSIVE JSON scan of the post lake. */
  def readPosts(spark: SparkSession, path: String): DataFrame =
    withEnvelope(spark.read.schema(postSchema).options(permissive)
      .json(graft.Tables.globbed(spark, path): _*))

  private val permissive = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** The FULL ingest envelope the reference wraps each document with —
    * objectKey, createdDate, content_type, content_length
    * (s3-to-es_aws.py:163-168) — derived from real file metadata:
    * content_length is the actual object size (`_metadata.file_size`),
    * content_type from the object key suffix. Shared by the batch and
    * streaming readers so their envelopes can never diverge.
    *
    * F5: the Lambda URL-decodes the S3 event key (unquote_plus,
    * s3-to-es_aws.py:148-149). `input_file_name()` is PERCENT-encoded (a
    * literal '+' stays '+'), so '+' is protected before the form-decoding
    * url_decode — otherwise a file named a+b.json would corrupt to
    * "a b.json". */
  private def withEnvelope(posts: DataFrame): DataFrame =
    posts
      .withColumn("objectKey",
        url_decode(replace(input_file_name(), lit("+"), lit("%2B"))))
      .withColumn("createdDate", col("timestamp")) // replay: arrival == post time
      .withColumn("content_length", col("_metadata.file_size"))
      .withColumn("content_type",
        when(col("objectKey").endsWith(".json"), lit("application/json"))
          .otherwise(lit("application/octet-stream")))

  private val extPattern = "\\.(\\w{3,4})\\?" // F1: reference regex uses a
  // lookahead `\.\w{3,4}(?=\?)` (s3-to-es_aws.py:92); Spark's RE2-style
  // engine supports it via java.util.regex, but we rewrite with a capture
  // group for engine portability.

  /** P1+P3+P5+P6+P8+F1: the Lambda's transform chain. */
  def flatten(posts: DataFrame, mediaStorePrefix: String = "s3://media-store/"): DataFrame = {
    posts
      .filter(col("_corrupt_record").isNull && col("id").isNotNull) // P12 analog
      .drop("ig_id", "username", "is_comment_enabled", "_corrupt_record") // P1
      .withColumn("owner_id", col("owner.id")) // P3
      .withColumn("id", col("id").cast(StringType)) // P5
      .withColumn("followers",
        coalesce(col("owner.followers_count"), lit(-1L))) // P6 sentinel
      .drop("owner")
      .withColumn("ext", regexp_extract(col("media_url"), extPattern, 1)) // F1
      .withColumn("media_url", // P8: CDN url → owned store url
        when(col("media_url").isNotNull, concat(
          lit(mediaStorePrefix), col("owner_id"), lit("/"), col("id"),
          lit("/original."), col("ext"))))
      .drop("ext")
      .withColumn("ts", to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ssZ")) // F8
  }

  /** K2: keyed latest-wins snapshot — the ES upsert semantics
    * (doc id = post id, `_version` increments; README.md:369-374).
    * Deterministic tie-break on objectKey (SURVEY §7 risk 5). */
  def latestPerPost(flattened: DataFrame): DataFrame = {
    val w = Window.partitionBy("id")
      .orderBy(col("createdDate").desc, col("objectKey").desc)
    flattened
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full ingest: lake path → current post snapshot. */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    latestPerPost(flatten(readPosts(spark, path)))

  /** Streaming form of the ingest — SURVEY §3.1's engine equivalent of
    * the per-PUT Lambda: `readStream.json(lake)` → the same flatten chain
    * → a `StreamFold.fold` in which each micro-batch appends only its own
    * `latestPerPost` winners (O(batch) rows, one write job in one
    * partition, so no exchange), compacted with the same composable fold
    * every 16 batches; the result equals `snapshot` for any
    * `maxFilesPerTrigger`. With `workDir` a rerun resumes by `StreamFold`'s
    * restart contract; without it, each call folds into a fresh temp dir. */
  def streamSnapshot(spark: SparkSession, globPath: String,
                     maxFilesPerTrigger: Int = 3): DataFrame =
    streamSnapshot(spark, globPath, maxFilesPerTrigger, None)

  def streamSnapshot(spark: SparkSession, globPath: String,
                     maxFilesPerTrigger: Int, workDir: Option[String]): DataFrame = {
    import graft.streaming.{AppendOnlyState, StreamFold}
    val source = withEnvelope(spark.readStream.schema(postSchema)
      .options(permissive + ("maxFilesPerTrigger" -> maxFilesPerTrigger.toString))
      .json(globPath))
    def latestInOnePartition(df: DataFrame) = latestPerPost(df.coalesce(1))
    val state = new AppendOnlyState(StreamFold.work(workDir, "graft_posts"),
      Seq(("latest", flatten(source).schema)), compactEvery = 16,
      folds = Map("latest" -> (latestInOnePartition _)))
    StreamFold.fold(source, state) { (batch, _) =>
      StreamFold.Delta("latest" -> latestInOnePartition(flatten(batch)))
    }
    latestPerPost(state.read(spark, "latest"))
  }

  /** Ingest observability: valid vs corrupt record counts for a lake path
    * (the operational metric behind P12's skip-corrupt behavior). */
  def ingestStats(spark: SparkSession, path: String): DataFrame = {
    readPosts(spark, path)
      .agg(
        count(when(col("_corrupt_record").isNull && col("id").isNotNull, 1)).as("n_valid"),
        count(when(col("_corrupt_record").isNotNull, 1)).as("n_corrupt"))
  }
}
