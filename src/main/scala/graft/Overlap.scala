package graft

import java.util.concurrent.{CompletionException, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark actions run concurrently: jobs submitted from
  * separate threads schedule side by side, so one action's stage tails
  * are back-filled by another's tasks. Each thunk computes exactly what
  * it computed inline; only wall time changes.
  *   - Threads: one daemon thread per thunk, made for the call and shut
  *     down when it returns, so nested or mutually waiting thunks cannot
  *     starve a shared pool.
  *   - Caller state: each thunk runs with the caller's local properties
  *     (job group, description, tags) and active session, captured as
  *     Spark's broadcast and subquery threads capture them, and its jobs
  *     carry its `label` as their description.
  *   - Failure: each call tags its thunks' jobs with one job tag. The
  *     first failure cancels the siblings' jobs by that tag; every
  *     sibling, and every task of its cancelled jobs, is waited for; then
  *     the failure is rethrown as itself. A tag, not a job group: a group
  *     set on a thunk's thread would replace the caller's, which the
  *     caller's own cancellation and job counts rely on. */
private[graft] object Overlap {

  /** Runs `thunks` concurrently; their results in argument order. */
  def all[T](ss: SparkSession)(thunks: (String, () => T)*): Seq[T] =
    if (thunks.isEmpty) Nil else {
      val sc = ss.sparkContext
      val tag = s"graft-overlap-${java.util.UUID.randomUUID}"
      val failure = new AtomicReference[Throwable]
      val pool = Executors.newFixedThreadPool(thunks.size, { r =>
        val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t
      })
      try {
        val runs = thunks.map { case (label, thunk) =>
          SQLExecution.withThreadLocalCaptured(
              ss.asInstanceOf[classic.SparkSession], pool) {
            sc.addJobTag(tag)
            labeled(ss, label)(thunk())
          }.whenComplete { (_, e) =>
            if (e != null && failure.compareAndSet(null, unwrap(e)))
              sc.cancelJobsWithTag(tag)
          }
        }
        runs.foreach(r => try r.join() catch { case _: CompletionException => })
        Option(failure.get).foreach { e => awaitTasks(sc, tag); throw e }
        runs.map(_.join())
      } finally pool.shutdown()
    }

  /** `all` for two thunks of different result types. */
  def both[A, B](ss: SparkSession)(a: (String, () => A),
                                   b: (String, () => B)): (A, B) = {
    val r = all[Any](ss)(a, b)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Labels the jobs `f` launches on this thread, so the UI and listeners
    * attribute their cost to the phase; restores the caller's label. */
  def labeled[T](ss: SparkSession, desc: String)(f: => T): T = {
    val sc = ss.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(old)
  }

  /** Waits until no job tagged `tag` runs a task: a cancelled job fails at
    * once, while its killed tasks still finish their row and clean up
    * their output. Gives up after a minute, since the status store is fed
    * by the listener bus, which may drop events under load. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def busy = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo).exists { j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.toSeq.flatMap(st.getStageInfo).exists(_.numActiveTasks > 0)
    }
    val end = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (busy && System.nanoTime < end) Thread.sleep(10)
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case c: CompletionException if c.getCause != null => c.getCause
    case _ => e
  }
}
