package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every micro-batch loop runs through `StreamFold`, so the trigger, the
  * checkpoint, the folded-replay skip, the commit and the fault hook live
  * in one place; this guard keeps a second copy of the loop from growing
  * back in the engine sources. */
class StreamFoldSpec extends AnyFunSuite {
  test("foreachBatch and checkpointLocation appear only in StreamFold") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no engine sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val stray =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "StreamFold.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("foreachBatch") ||
              line.contains("checkpointLocation") => s"$p:${i + 1}: ${line.trim}"
        })
        .toList
      finally walk.close()
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("the memory-sink streams drop their tables and equal their batch queries") {
    val spark = graft.SparkTestSession.spark
    val dir = graft.SparkTestSession.sfDir
    def sinkTables(): Set[String] = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_sess_") || n.startsWith("graft_hourly_")).toSet
    val before = sinkTables()
    assert(Replay.streamSessionize(spark, dir).collect().toSeq ==
      graft.operators.Events.q19Sessionize(spark, dir).collect().toSeq)
    assert(Replay.streamHourlyRollup(spark, dir).collect().toSeq ==
      graft.operators.Events.q18HourlyRollup(spark, dir).collect().toSeq)
    assert(sinkTables() == before)
  }
}
