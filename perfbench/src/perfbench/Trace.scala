package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Micro-batch progress of every streaming query, in arrival order
  * (`streamSnapshot` exposes no query handle). Every run attaches it, so
  * traced and untraced runs differ only by the `SparkListener`; only the
  * traced run reports from it. */
final class BatchLog extends StreamingQueryListener {
  import BatchLog.Batch
  private val buf = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    if (p.numInputRows > 0) buf.synchronized {
      buf += Batch(d, p.numInputRows)
    }
  }
  /** Batches recorded since the last call. */
  def take(): Seq[Batch] = buf.synchronized { val r = buf.toList; buf.clear(); r }
}

object BatchLog {
  final case class Batch(durationMs: Double, inputRows: Long)
}

/** Spans around the benchmark's calls into each layer, and the Spark
  * jobs, stages and tasks each span caused.
  *
  * A span sets the local property `perfbench.span` on the calling thread,
  * so every job that thread (or a thread it starts, such as a stream's
  * micro-batch thread) submits is attributed to the innermost span. Jobs
  * with no span — from pools created before the span opened — are kept as
  * `unattributed`. Spans are kept in memory and written out at the end. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new JobLog
  private var stack: List[Span] = Nil
  private var nextId = 0
  /** Spans opened while true count toward the per-layer metrics. */
  var inWindow = false

  if (enabled) spark.sparkContext.addSparkListener(jobs)

  def span[T](name: String, run: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(nextId, name, stack.headOption.map(_.id), run, inWindow,
        System.currentTimeMillis())
      nextId += 1
      stack = s :: stack
      sc.setLocalProperty(Key, s.key)
      val t0 = System.nanoTime()
      try body
      finally {
        s.ms = (System.nanoTime() - t0) / 1e6
        s.endMs = System.currentTimeMillis()
        spans += s
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.key).orNull)
      }
    }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Window spans of one name. */
  def named(name: String): Seq[Span] = spans.toSeq.filter(s => s.inWindow && s.name == name)

  /** Counts of the jobs attributed to the given spans. */
  def counts(ss: Seq[Span]): Counts = jobs.counts(ss.map(_.key).toSet)
}

object Trace {
  val Key = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Option[Int], run: String,
                        inWindow: Boolean, startMs: Long) {
    var ms: Double = 0.0
    var endMs: Long = 0L
    def key: String = s"$name#$id"
  }

  /** Work counts summed over a set of jobs. */
  final case class Counts(jobs: Int, listJobs: Int, tasks: Long, listTasks: Long,
                          inputBytes: Long, inputRecords: Long, outputBytes: Long,
                          outputRecords: Long, shuffleBytes: Long, spillBytes: Long,
                          peakExecMem: Long, shuffledTaskMs: Seq[Seq[Double]], jsonFiles: Long,
                          jsonBytes: Long)
}

/** Job, stage and task records, with each job's span, and the files and
  * bytes each SQL execution's JSON scans read (the scans' own "number of
  * files read" and "size of files read" metrics). */
final class JobLog extends SparkListener {
  import Trace.Counts

  final case class Job(id: Int, span: String, listing: Boolean, startMs: Long) {
    var endMs: Long = startMs
  }
  final class StageAgg {
    var tasks = 0L; var inB = 0L; var inR = 0L; var outB = 0L; var outR = 0L
    var shuffle = 0L; var spill = 0L; var peak = 0L
    var readsShuffle = false
    val taskMs = mutable.ArrayBuffer.empty[Double]
  }

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  // JSON scan metric -> (execution, files?); its latest value; an
  // execution's span; a nested execution's root (a micro-batch's JSON scan
  // sits in the root, its jobs may all run in the nested write)
  private val scanMetric = mutable.HashMap.empty[Long, (Long, Boolean)]
  private val metricValue = mutable.HashMap.empty[Long, Long]
  private val execSpan = mutable.HashMap.empty[Long, String]
  private val execRoot = mutable.HashMap.empty[Long, Long]

  private def jsonScans(exec: Long, plan: SparkPlanInfo): Unit = {
    if (plan.nodeName.toLowerCase.startsWith("scan json"))
      plan.metrics.foreach { m =>
        if (m.name == "number of files read") scanMetric(m.accumulatorId) = (exec, true)
        else if (m.name == "size of files read") scanMetric(m.accumulatorId) = (exec, false)
      }
    plan.children.foreach(jsonScans(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
        jsonScans(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => jsonScans(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => if (scanMetric.contains(id)) metricValue(id) = v }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.Key))).getOrElse("unattributed")
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobsById(e.jobId) = Job(e.jobId, span, desc.startsWith("Listing leaf files"), e.time)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).foreach { x =>
      (x +: execRoot.get(x).toSeq).foreach(y => if (!execSpan.contains(y)) execSpan(y) = span)
    }
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration.toDouble
    Option(e.taskMetrics).foreach { m =>
      a.inB += m.inputMetrics.bytesRead; a.inR += m.inputMetrics.recordsRead
      a.outB += m.outputMetrics.bytesWritten; a.outR += m.outputMetrics.recordsWritten
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      if (m.shuffleReadMetrics.recordsRead > 0) a.readsShuffle = true
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peak = math.max(a.peak, m.peakExecutionMemory)
    }
  }

  def allJobs: Seq[Job] = synchronized(jobsById.values.toList)

  /** Sum over the jobs (and SQL executions) whose span key is in `keys`. */
  def counts(keys: Set[String]): Counts = select(j => keys.contains(j.span), keys.contains)

  def countsOf(js: Seq[Job]): Counts = {
    val ids = js.map(_.id).toSet
    select(j => ids.contains(j.id), _ => false)
  }

  private def select(p: Job => Boolean, spanOf: String => Boolean): Counts = synchronized {
    val js = jobsById.values.filter(p).toList
    val ids = js.map(_.id).toSet
    val listIds = js.filter(_.listing).map(_.id).toSet
    val ss = stageJob.collect { case (s, j) if ids.contains(j) => s -> j }
    val aggs = ss.keys.toSeq.flatMap(stages.get)
    val listAggs = ss.collect { case (s, j) if listIds.contains(j) => s }.flatMap(stages.get)
    Counts(js.length, listIds.size, aggs.map(_.tasks).sum, listAggs.map(_.tasks).sum,
      aggs.map(_.inB).sum, aggs.map(_.inR).sum, aggs.map(_.outB).sum, aggs.map(_.outR).sum,
      aggs.map(_.shuffle).sum, aggs.map(_.spill).sum,
      if (aggs.isEmpty) 0L else aggs.map(_.peak).max, aggs.filter(_.readsShuffle).map(_.taskMs.toSeq),
      scanSum(spanOf, files = true), scanSum(spanOf, files = false))
  }

  private def scanSum(spanOf: String => Boolean, files: Boolean): Long = {
    val execs = execSpan.collect { case (x, s) if spanOf(s) => x }.toSet
    scanMetric.collect { case (id, (x, f)) if f == files && execs.contains(x) => metricValue.getOrElse(id, 0L) }.sum
  }
}
