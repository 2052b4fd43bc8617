package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.SparkTestSession.{jobsOf, runningTasks}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("results come back in argument order, each thunk with the caller's state") {
    val group = s"graft-overlap-order-${java.util.UUID.randomUUID}"
    val got = withGroup(group) {
      Overlap.all(spark)(Seq(300, 0, 150).zipWithIndex.map { case (ms, i) =>
        s"thunk $i" -> (() => {
          Thread.sleep(ms)
          val sc = spark.sparkContext
          (i, sc.getLocalProperty("spark.job.description"),
            sc.getLocalProperty("spark.jobGroup.id"),
            SparkSession.getActiveSession.contains(spark))
        })
      }: _*)
    }
    assert(got == Seq(0, 1, 2).map(i => (i, s"thunk $i", group, true)))
  }

  test("the first failure is rethrown as itself after every sibling finished") {
    val boom = new IllegalStateException("boom")
    val finished = new AtomicBoolean(false)
    val died = intercept[IllegalStateException] {
      Overlap.all(spark)(
        "slow" -> (() => { Thread.sleep(1000); finished.set(true) }),
        "failing" -> (() => throw boom))
    }
    assert(died eq boom)
    assert(finished.get, "rethrew while a sibling was still running")
  }

  test("the first failure cancels a sibling's running Spark job") {
    val group = s"graft-overlap-cancel-${java.util.UUID.randomUUID}"
    val siblingFailure = new AtomicReference[Throwable]
    val t0 = System.nanoTime
    val died = withGroup(group) {
      intercept[IllegalStateException] {
        Overlap.all(spark)(
          "long job" -> (() =>
            try spark.sparkContext.parallelize(0 until 4, 4)
              .map { i => SparkTestSession.sleepUntilKilled(); i }.count()
            catch { case e: Throwable => siblingFailure.set(e); throw e }),
          "failing" -> (() => {
            SparkTestSession.awaitRunning(group, 4)
            throw new IllegalStateException("failing")
          }))
      }
    }
    assert(died.getMessage == "failing")
    assert(siblingFailure.get != null, "the sibling's job was not cancelled")
    assert(siblingFailure.get.isInstanceOf[SparkException], siblingFailure.get)
    assert(siblingFailure.get.getMessage.contains("cancelled"), siblingFailure.get)
    assert((System.nanoTime - t0) / 1e9 < 30, "the sibling's job ran to its end")
    assert(runningTasks(group) == 0, "a cancelled task was still running")
  }

  test("jobsOf counts every thunk's jobs, even where a shared pool carries another group") {
    // worker threads of the global pool, spawned under another job group,
    // keep that group's local properties; thunks run on them would report
    // their jobs under it
    withGroup("graft-overlap-warm") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq.fill(8)(Future {
        Thread.sleep(50)
        spark.sparkContext.parallelize(1 to 4, 2).count()
      }).foreach(Await.result(_, Duration.Inf))
    }
    def job(): Long = spark.sparkContext.parallelize(1 to 4, 2).count()
    val direct = jobsOf { job(); job(); job() }
    val overlapped = jobsOf {
      Overlap.all(spark)(Seq.fill(3)("job" -> (() => job())): _*)
    }
    assert(direct == 3)
    assert(overlapped == direct)
  }

  test("thread pools, futures and job descriptions appear only in Overlap") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no engine sources at ${root.toAbsolutePath}")
    val banned = Seq("ExecutionContext", "newFixedThreadPool", "Future {",
      "Await.", "Callable", "setJobDescription")
    val walk = Files.walk(root)
    val stray =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Overlap.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        })
        .toList
      finally walk.close()
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
