package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded, SparkListenerExecutorRemoved, SparkListenerTaskEnd}

/** Real executor-loss fault injection (round-16): run named SparkEntry
  * queries under a `local-cluster[...]` master — each executor its own
  * forked JVM — and SIGKILL one executor JVM mid-query, then let Spark's
  * stage retry / standalone executor relaunch finish the job and dump the
  * result parquet for the usual DuckDB parity compare.
  *
  * This is the missing leg of the CheckpointChain story: the reliable
  * path (`spark.graft.checkpointDir`) was previously proven only via a
  * localCheckpoint-failure PROXY (ScaleTechniquesSpec). Here the loss is
  * the real thing — shuffle files and cached blocks on the killed JVM are
  * gone, FetchFailed triggers map-stage recompute, and an iterative
  * kernel whose lineage was truncated must recover from the reliable
  * checkpoint generation instead of dead executor-local blocks.
  *
  * Contract:
  *   args = <sfDir> <outDir> [namesCsv] [killAfterTasks]
  *   env  SPARK_GRAFT_MASTER must be local-cluster[...] (a kill inside
  *        local[*] would kill the driver itself);
  *        SPARK_GRAFT_CHECKPOINT_DIR routes iterative kernels through
  *        reliable checkpoints (unset = localCheckpoint fast path — used
  *        as the negative control, expected to fail or recompute-storm).
  *   exit 0 only if EVERY query both suffered a kill (one executor JVM
  *   destroyed mid-flight, observed removed by the scheduler) and still
  *   completed its parquet dump. Parity is then the standard
  *   tools/check_parity.py run over outDir.
  */
object FaultInject {

  /** Forked executor JVMs of this (only) Spark app on the box. */
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.allProcesses().iterator().asScala.filter { h =>
      h.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false)
    }.toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2 && args(2).nonEmpty) args(2).split(",").toSeq
      else Seq("qd36_pagerank", "q33_neardup_clusters")
    val killAfter = if (args.length > 3) args(3).toInt else 40

    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "")
    require(master.startsWith("local-cluster"),
      s"FaultInject needs SPARK_GRAFT_MASTER=local-cluster[w,c,m] (got " +
        s"'$master'): only separate executor JVMs can be killed without " +
        "taking the driver down")
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query '$n'"))

    val spark = GraftSession.driverLocal()
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(d => spark.conf.set("spark.graft.checkpointDir", d))
    new java.io.File(outDir).mkdirs()

    // per-query fault state, reset at each query boundary
    val tasksSeen = new AtomicLong(0)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killedPid = new AtomicReference[Option[Long]](None)
    val removed = new AtomicLong(0)
    val added = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val n = tasksSeen.incrementAndGet()
        if (n >= killAfter && armed.compareAndSet(true, false)) {
          // SIGKILL exactly one executor JVM — no shutdown hooks, the
          // harshest loss Spark can see short of a machine failure
          executorHandles().headOption match {
            case Some(h) =>
              val pid = h.pid()
              h.destroyForcibly()
              killedPid.set(Some(pid))
              System.err.println(
                s"[fault] killed executor JVM pid=$pid after $n task ends")
            case None =>
              // nothing to kill right now (e.g. between relaunches) —
              // re-arm and try at the next task end
              armed.set(true)
          }
        }
      }
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = {
        added.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    case class Rec(name: String, ok: Boolean, killed: Option[Long],
        tasks: Long, removed: Long, relaunched: Long, secs: Double,
        err: Option[String])
    val recs = names.map { name =>
      tasksSeen.set(0); killedPid.set(None); removed.set(0); added.set(0)
      armed.set(true)
      val t0 = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          SessionMemo.clearAll()
          Some(e.toString.linesIterator.next())
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // the scheduler's executor-removed event trails the kill — give the
      // listener bus a bounded window to surface it before recording
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (killedPid.get().isDefined && removed.get() == 0 &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      graft.plans.ScaleTechniques.releaseLocalCheckpoints(spark)
      spark.streams.resetTerminated()
      Rec(name, err.isEmpty, killedPid.get(), tasksSeen.get(),
        removed.get(), added.get(), secs, err)
    }

    // subset oracle dump so check_parity.py can run over outDir directly
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    recs.foreach { r =>
      println(s"""{"query":"${r.name}","completed":${r.ok},""" +
        s""""killed_pid":${r.killed.getOrElse(-1L)},""" +
        s""""task_ends":${r.tasks},"executors_removed":${r.removed},""" +
        s""""executors_relaunched":${r.relaunched},""" +
        f""""secs":${r.secs}%.1f,""" +
        s""""err":${r.err.map(q).getOrElse("null")}}""")
    }
    spark.stop()
    val allFaulted = recs.forall(r => r.killed.isDefined && r.removed >= 1)
    val allDone = recs.forall(_.ok)
    if (!allFaulted) {
      System.err.println("[fault] FAIL: some query ran without an " +
        "observed executor kill — raise data size or lower killAfterTasks")
      sys.exit(1)
    }
    if (!allDone) {
      System.err.println("[fault] some query did not complete after the " +
        "kill (expected for the localCheckpoint negative control)")
      sys.exit(2)
    }
  }
}
