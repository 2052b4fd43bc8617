package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
      assert(memo.builds.get == 2 && memo.hits.get == 1)
      assert(memo.size == 2 && released.isEmpty)
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

  test("a pass boundary keeps per-model entries; clearAll releases both") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val pass = new SessionMemo[String, String](v => released += v)
    val model = new SessionMemo[String, String](v => released += v, perModel = true)
    try {
      pass.getOrBuild(spark, "p", "p#1")("index")
      model.getOrBuild(spark, "p", "p#1")("codebook")
      SessionMemo.clearPass()
      assert(released.toSeq == Seq("index") && pass.size == 0 && model.size == 1)
      assert(model.getOrBuild(spark, "p", "p#1")("retrained") == "codebook")
      assert(model.builds.get == 1)
      SessionMemo.clearAll()
      assert(released.toSeq == Seq("index", "codebook") && model.size == 0)
    } finally { pass.clear(); model.clear() }
  }

  test("WeakHashMap appears only in SessionMemo") {
    // every per-session memo goes through SessionMemo, so one clear call
    // reaches all of them; this guard keeps a hand-rolled copy out
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no engine sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val stray =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SessionMemo.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("WeakHashMap") => s"$p:${i + 1}: ${line.trim}"
        })
        .toList
      finally walk.close()
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
