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

  test("a batch body runs on the stream's clone of the caller's session, AQE on, and no AQE WARN is logged") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val spark = graft.SparkTestSession.spark
    val dir = Files.createTempDirectory("graft_fold_session").toString
    Replay.cleanupAtExit(dir)
    spark.range(3).write.mode("overwrite").parquet(s"$dir/in")
    val warned = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("graft-aqe-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("ResolveWriteToStream")) warned.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val callerAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val seen = new java.util.concurrent.atomic.AtomicReference[(Boolean, String)]
    root.addAppender(appender)
    try StreamFold.run(StreamFold.parquet(spark, spark.range(1).schema, s"$dir/in", 1),
        s"$dir/work") { (batch, _) =>
      seen.set((batch.sparkSession eq spark, batch.sparkSession.conf.get("spark.sql.adaptive.enabled")))
    } finally root.removeAppender(appender)
    assert(callerAqe == "true")
    assert(seen.get == ((false, "true")))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == callerAqe)
    assert(warned.get == 0)
  }
}
