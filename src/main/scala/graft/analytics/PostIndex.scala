package graft.analytics

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.{classic, Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The built-once index behind `History.searchPosts`: every row of a
  * posts frame in scan order, with the predicate columns evaluated once
  * by Spark. `rows` are the frame's rows as compact `UnsafeRow`s,
  * `captions` the `lower(caption)` values (null for a null caption), and
  * `hashtags`/`mentions` map each element of the `split(…, ",\\s*")`
  * arrays to the ordinals of the rows that hold it, ascending. */
private[analytics] final class PostIndex private (
    schema: StructType,
    rows: Array[UnsafeRow],
    captions: Array[UTF8String],
    hashtags: Map[UTF8String, Array[Int]],
    mentions: Map[UTF8String, Array[Int]]) {

  /** The rows matching every given predicate, in scan order, as a local
    * frame with the posts schema. At least one predicate is given. */
  def search(spark: SparkSession, keyword: Option[String],
             hashtag: Option[String], mention: Option[String]): DataFrame = {
    val postings = (m: Map[UTF8String, Array[Int]], v: String) =>
      m.getOrElse(UTF8String.fromString(v), Array.emptyIntArray)
    val hits = Seq(
      keyword.map { k =>
        val needle = UTF8String.fromString(k.toLowerCase)
        captions.indices.filter(i => captions(i) != null && captions(i).contains(needle)).toArray
      },
      hashtag.map(postings(hashtags, _)),
      mention.map(postings(mentions, _))).flatten.reduce(PostIndex.intersect)
    new classic.Dataset[Row](spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), hits.toSeq.map(rows(_))),
      Encoders.row(schema))
  }
}

private[analytics] object PostIndex {
  /** The predicate columns: `searchPosts`' filter plan uses the same. */
  val caption: Column = lower(col("caption"))
  def terms(column: String): Column = split(col(column), ",\\s*")

  /** Built indexes, one per input root and session, keyed by the input
    * files' fingerprint and the frame's canonicalized plan. Driver-held,
    * so eviction releases nothing. */
  val memo =
    new SessionMemo[(String, LogicalPlan), PostIndex](_ => ())

  /** The memoized index of `posts`, or None when `posts` must keep the
    * filter plan: a leaf that is not a file relation, a nondeterministic
    * expression, a non-local or empty input, or a missing or non-string
    * predicate column. */
  def of(posts: DataFrame): Option[PostIndex] = {
    val plan = posts.queryExecution.analyzed
    val fileLeaves = plan.collectLeaves().forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation] && !l.isStreaming
      case _ => false
    }
    val searchable = Seq("caption", "hashtags", "mentioned_users").forall(c =>
      posts.schema.fields.filter(_.name == c).map(_.dataType).toSeq == Seq(StringType))
    lazy val files = posts.inputFiles.toSeq.map(f => new org.apache.hadoop.fs.Path(f).toUri)
    if (!fileLeaves || !plan.deterministic || !searchable || files.isEmpty ||
        files.exists(_.getScheme != "file")) None
    else {
      val local = files.map(u => new java.io.File(u.getPath))
      val root = local.map(_.getParentFile.toPath).reduce((a, b) =>
        Iterator.iterate(a)(_.getParent).find(b.startsWith).get)
      Some(memo.getOrBuild(posts.sparkSession, Tables.canonical(root.toString),
        (Tables.filesKey(local), plan.canonicalized))(build(posts)))
    }
  }

  /** One Spark job: every row of `posts` with its three predicate
    * values, collected as `UnsafeRow`s in scan order. */
  private def build(posts: DataFrame): PostIndex = {
    val n = posts.schema.length
    val qe = posts.select(col("*"), caption, terms("hashtags"), terms("mentioned_users"))
      .queryExecution
    val all = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    val own = UnsafeProjection.create(posts.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable)
    })
    def postings(field: Int): Map[UTF8String, Array[Int]] = {
      val m = mutable.HashMap.empty[UTF8String, mutable.ArrayBuffer[Int]]
      all.indices.foreach { i =>
        val r = all(i)
        if (!r.isNullAt(field)) {
          val a = r.getArray(field)
          (0 until a.numElements).filterNot(a.isNullAt).foreach { j =>
            val hit = m.getOrElseUpdate(a.getUTF8String(j).clone(), mutable.ArrayBuffer.empty[Int])
            // a tag repeated within one row posts that row once
            if (hit.isEmpty || hit.last != i) hit += i
          }
        }
      }
      m.iterator.map { case (t, b) => t -> b.toArray }.toMap
    }
    new PostIndex(posts.schema,
      all.map(r => own(r).copy()),
      all.map(r => if (r.isNullAt(n)) null else r.getUTF8String(n).clone()),
      postings(n + 1), postings(n + 2))
  }

  /** The ordinals of `a` that are also in `b`, in `a`'s order. */
  private def intersect(a: Array[Int], b: Array[Int]): Array[Int] = {
    val in = new java.util.BitSet
    b.foreach(in.set)
    a.filter(in.get)
  }
}
