package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** User-stats ingest — S2/S4 + P2: daily per-user account metrics JSON
  * (lambda/s3Stats-to-ES-lambda/statsApp.py:78-145), one superset schema
  * across Basic/Business tiers (README.md:102-137), Redshift-COPY-style
  * blank→null normalization (F10, stage_redshift.py:64).
  */
object StatsIngest {

  val statsSchema: StructType = StructType(Seq(
    StructField("created_at", StringType),
    StructField("biography", StringType),
    StructField("id", StringType),
    StructField("ig_id", LongType),
    StructField("followers_count", LongType),
    StructField("follows_count", LongType),
    StructField("media_count", LongType),
    StructField("name", StringType),
    StructField("profile_picture_url", StringType),
    StructField("username", StringType),
    // Business tier (README.md:128-137)
    StructField("website", StringType),
    StructField("impressions", LongType),
    StructField("reach", LongType),
    StructField("follower_count", LongType), // daily new followers
    StructField("email_contacts", LongType),
    StructField("phone_call_clicks", LongType),
    StructField("text_message_clicks", LongType),
    StructField("get_directions_clicks", LongType),
    StructField("website_clicks", LongType),
    StructField("profile_views", LongType),
    StructField("_corrupt_record", StringType)))

  def readStats(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(statsSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(graft.Tables.globbed(spark, path): _*)

  /** P2 prune + F10 blank→null + F8 date parse → staging_users shape
    * (create_redshift_tables.py:17-33). */
  def stage(stats: DataFrame): DataFrame = {
    val blankAsNull = stats.schema.fields
      .filter(f => f.dataType == StringType && f.name != "_corrupt_record")
      .foldLeft(stats.filter(col("_corrupt_record").isNull)) { (df, f) =>
        df.withColumn(f.name,
          when(trim(col(f.name)) === "", lit(null)).otherwise(col(f.name)))
      }
    blankAsNull
      .drop("ig_id", "biography", "name", "profile_picture_url", "username",
        "website", "_corrupt_record",
        "email_contacts", "phone_call_clicks", "text_message_clicks",
        "get_directions_clicks", "website_clicks") // P2
      // F8 date parse, with the staging COPY's F7 fallback (TIMEFORMAT
      // 'epochmillisecs', stage_redshift.py:63): a created_at arriving as
      // an epoch-millis number still stages to the right date
      .withColumn("created_at",
        coalesce(
          expr("try_to_date(created_at)"),
          to_date(timestamp_millis(expr("try_cast(created_at AS BIGINT)")))))
  }
}
