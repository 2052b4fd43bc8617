package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("one entry per slot: a new key evicts and releases the old value") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new SessionMemo[String, String](v => released += v)
    try {
      assert(memo.getOrBuild(spark, "p", "p#1")("v1") == "v1")
      assert(memo.getOrBuild(spark, "p", "p#1")("other") == "v1")
      assert(memo.getOrBuild(spark, "q", "q#1")("w1") == "w1")
      assert(memo.builds.get == 2 && memo.size == 2 && released.isEmpty)
      assert(memo.getOrBuild(spark, "p", "p#2")("v2") == "v2")
      assert(released.toSeq == Seq("v1") && memo.size == 2)
      // a per-call unique key (an unlistable path) never grows the memo
      (1 to 5).foreach(i => memo.getOrBuild(spark, "u", s"u#unlisted-$i")(s"u$i"))
      assert(memo.size == 3 && released.toSeq == Seq("v1", "u1", "u2", "u3", "u4"))
      SessionMemo.clearAll()
      assert(memo.size == 0)
      assert(released.toSeq.sorted == Seq("u1", "u2", "u3", "u4", "u5", "v1", "v2", "w1"))
    } finally memo.clear()
  }

  test("a failed build leaves no entry and the next lookup rebuilds") {
    val memo = new SessionMemo[String, String](_ => ())
    intercept[IllegalStateException] {
      memo.getOrBuild(spark, "p", "p#1")(throw new IllegalStateException("boom"))
    }
    assert(memo.size == 0)
    assert(memo.getOrBuild(spark, "p", "p#1")("v") == "v")
    assert(memo.builds.get == 2)
  }
}
