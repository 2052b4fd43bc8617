package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites are in one
  * forked JVM — see build.sbt `Test / fork`). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Called inside a task: sleeps until the task is killed (its job
    * cancelled), for at most a minute. */
  def sleepUntilKilled(): Unit = {
    val end = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (System.nanoTime < end && !org.apache.spark.TaskContext.get.isInterrupted)
      Thread.sleep(10)
  }

  /** Tasks of `group`'s jobs that are running now. */
  def runningTasks(group: String): Int = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo)
      .flatMap(_.stageIds).flatMap(st.getStageInfo).map(_.numActiveTasks).sum
  }

  /** Waits until `group` runs `tasks` tasks, for at most 30 s. */
  def awaitRunning(group: String, tasks: Int): Unit = {
    val end = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (runningTasks(group) < tasks && System.nanoTime < end) Thread.sleep(20)
  }

  /** Spark jobs `body` runs, counted through a job group — its own, and
    * the run id each stream it starts puts its micro-batches under; the
    * listener bus is drained before and after, so no other case's jobs
    * leak in and none of `body`'s arrive late. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    val group = s"graft-test-jobs-${java.util.UUID.randomUUID}"
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
    groups.add(group)
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobGroups.add)
    }
    val streams = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = groups.add(e.runId.toString)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    sc.addSparkListener(l)
    spark.streams.addListener(streams)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(l)
      spark.streams.removeListener(streams)
    }
    jobGroups.asScala.count(groups.contains)
  }
}
