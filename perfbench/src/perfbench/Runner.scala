package perfbench

import scala.collection.mutable

/** Set-up, measurement window and metrics of one run. With `fault`, every
  * operation of the window throws (the self-test's failing program). */
final class Runner(c: Ctx, wl: Workload, fault: Boolean = false) {
  import Main.{median, tail}

  final case class Result(metrics: Seq[(String, (Double, String))], attempted: Int, failed: Int,
                          failures: Seq[String], detail: String, spans: String)

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  /** Runs one operation under an `op` span and checks it under a `check`
    * span. Every mismatch fails one of the op's checked outcomes; an
    * exception fails the whole op. */
  private def attempt(label: String)(body: => Op): Option[Op] =
    try {
      val op = c.trace.span("op", label)(body)
      val bad = c.trace.span("check", label)(op.check())
      attempted += op.attempts
      failed += math.min(op.attempts, bad.length)
      failures ++= bad.map(f => s"$label: $f")
      Some(op)
    } catch {
      case e: Exception =>
        attempted += 1; failed += 1
        failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $label failed: $e")
        None
    }

  private def timed(body: => Unit): Double = { val clk = new Host.Clock; body; clk.sec }

  /** Set-up is process start to the first timed operation: the session,
    * three repeatable set-ups and the warm-up operations, with the
    * repeatable part counted once, at its median. */
  def run(seconds: Double, preMainS: Double, fromMain: Host.Clock, sessionMs: Double): Result = {
    val trace = c.trace
    val prepS = (0 until 3).map(r => timed(trace.span("setup", s"setup-$r")(wl.prepare(r))))
    val warmS = timed((1 to wl.warmups).foreach(k => attempt(s"warmup-$k")(wl.op(-k))))
    val setupS = preMainS + fromMain.sec - prepS.sum + median(prepS)
    val heapSetup = Host.oldGenAfterGc()
    val gc0 = Host.gcMs()
    val winStart = System.currentTimeMillis()
    trace.inWindow = true
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // The window lasts `seconds` and until it holds every kind of sample
    // the metrics need. Failed operations add no samples, so it also ends
    // after MaxFailures failed operations, and at MaxStretch × `seconds`.
    val failedBefore = failed
    var i = 0
    while (failed - failedBefore < Runner.MaxFailures &&
           (elapsed < seconds || !wl.enough && elapsed < Runner.MaxStretch * seconds)) {
      attempt(s"op-$i")(if (fault) sys.error("injected fault") else wl.op(i)).foreach(ops += _)
      i += 1
    }
    val windowS = elapsed
    trace.inWindow = false
    val winEnd = System.currentTimeMillis()
    val gcWindow = Host.gcMs() - gc0
    val heapEnd = Host.oldGenAfterGc()

    val samples = ops.flatMap(_.samplesMs).toSeq
    val opP50 = median(samples)
    val rates = ops.filter(o => o.work > 0 && o.workSec > 0).map(o => o.work / o.workSec).toSeq
    val workPerS = median(rates)
    val (tailP, tailMs) = tail(samples)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (opP50, "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "work_per_s" -> (workPerS, "1/s"),
      "peak_heap_mb" -> (math.max(heapSetup, heapEnd) / 1048576.0, "MB"))
    val batchMs = wl.batchMs
    val detail = s"""{"pre_main_s":$preMainS,"session_ms":$sessionMs,"setup_runs_s":${prepS.mkString("[", ",", "]")},""" +
      s""""warmup_s":$warmS,"window_s":$windowS,"ops":${ops.length},"samples":${samples.length},""" +
      s""""op_tail_pct":$tailP,"work_rates":${rates.mkString("[", ",", "]")},""" +
      s""""batches":${batchMs.length},"batch_tail_pct":${tail(batchMs)._1},""" +
      s""""batch_ms":${batchMs.mkString("[", ",", "]")},"workload":${wl.detail()}}"""
    val layers =
      if (!trace.enabled) Nil
      else layerMetrics(ops.length, opP50, tailMs, workPerS, sessionMs, gcWindow, winStart, winEnd)
    Result(e2e ++ layers, attempted, failed, failures.toSeq, detail,
      if (trace.enabled) spansJson() else "[]")
  }

  private def layerMetrics(nOps: Int, opP50: Double, opTail: Double, workPerS: Double,
                           sessionMs: Double, gcWindow: Long, winStart: Long, winEnd: Long)
      : Seq[(String, (Double, String))] = {
    val t = c.trace
    t.drain()
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def ms(names: String*): Double = median(names.flatMap(t.named).map(_.ms))
    /** A count summed over the window spans of `names`, per span. */
    def perCall(names: String*)(f: Trace.Counts => Double): Double = {
      val ss = names.flatMap(t.named)
      ratio(f(t.counts(ss)), ss.size)
    }
    val cnt = wl.counters.withDefaultValue(0.0)
    val streams = t.named("ingest.stream").size
    val stream = t.counts(t.named("ingest.stream"))
    val snap = t.counts(t.named("ingest.snapshot"))
    // the palette's per-owner KMeans stage: its heaviest stage after a
    // shuffle (the decode stage before the shuffle on igId is spread
    // over files, not owners)
    val paletteTasks = t.counts(t.named("enrich.palette")).shuffledTaskMs.sortBy(-_.sum).headOption.getOrElse(Nil)
    val queryMs = Seq("analytics.search.keyword", "analytics.search.hashtag", "analytics.search.mention",
      "text.bm25").flatMap(t.named).map(_.ms)

    // spark, per operation: the jobs of every window span but the checks,
    // and the unattributed jobs started in the window
    val keys = t.spans.filter(s => s.inWindow && s.name != "check").map(_.key).toSet
    val opJobs = t.jobs.allJobs.filter(j => keys.contains(j.span) ||
      (j.span == "unattributed" && j.startMs >= winStart && j.startMs <= winEnd))
    val all = t.jobs.countsOf(opJobs)
    val perOp = math.max(1, nOps).toDouble
    // an operation's wall time not covered by any of its jobs
    val gapMs = t.named("op").map { s =>
      var covered = 0L
      var until = s.startMs
      opJobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (j.startMs, math.min(j.endMs, s.endMs))).sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, until)
          if (b > from) { covered += b - from; until = b }
        }
      math.max(0.0, (s.endMs - s.startMs - covered).toDouble)
    }
    val filters = Seq("analytics.search.keyword", "analytics.search.hashtag", "analytics.search.mention")

    Seq(
      "ingest.snapshot.ms" -> (ms("ingest.snapshot"), "ms"),
      "ingest.snapshot.list_jobs" -> (perCall("ingest.snapshot", "ingest.stream")(_.listJobs), "count"),
      "ingest.snapshot.list_tasks" -> (perCall("ingest.snapshot", "ingest.stream")(_.listTasks), "count"),
      "ingest.snapshot.files" -> (perCall("ingest.snapshot", "ingest.stream")(_.jsonFiles), "count"),
      "ingest.snapshot.input_bytes" -> (perCall("ingest.snapshot", "ingest.stream")(_.inputBytes), "bytes"),
      "ingest.snapshot.rows_out_per_in" -> (ratio(snap.outputRecords, snap.inputRecords), "ratio"),
      "ingest.stage.ms" -> (ms("ingest.stage"), "ms"),
      "ingest.stage.corrupt_dropped" -> (perCall("ingest.stage")(c => c.inputRecords - c.outputRecords), "count"),
      "ingest.stream.batches" -> (ratio(cnt("batches"), streams), "count"),
      "ingest.stream.jobs_per_batch" -> (ratio(perCall("ingest.stream")(_.jobs) * streams, cnt("batches")), "count"),
      "ingest.stream.rows_per_batch" -> (ratio(cnt("batch_rows"), cnt("batches")), "count"),
      "ingest.stream.state_bytes_written_per_input_byte" ->
        (ratio(stream.outputBytes, stream.jsonBytes), "ratio"),
      "ingest.stream.batch_p50_ms" -> (median(wl.batchMs), "ms"),
      "ingest.stream.batch_tail_ms" -> (tail(wl.batchMs)._2, "ms"),
      "ingest.media.ms" -> (ms("ingest.media"), "ms"),
      "ingest.media.replay_ms" -> (ms("ingest.media.replay"), "ms"),
      "ingest.media.fetched_per_candidate" ->
        (ratio(cnt("fetched"), cnt("candidates") * t.named("ingest.media").size), "ratio"),
      "analytics.rollup.ms" -> (ms("analytics.rollup"), "ms"),
      "analytics.rollup.shuffle_bytes" -> (perCall("analytics.rollup")(_.shuffleBytes), "bytes"),
      "analytics.history.ms" -> (ms("analytics.history"), "ms"),
      "analytics.history.shuffle_bytes" -> (perCall("analytics.history")(_.shuffleBytes), "bytes"),
      "analytics.history.spill_bytes" -> (perCall("analytics.history")(_.spillBytes), "bytes"),
      "analytics.render.ms" -> (ms("analytics.render"), "ms"),
      "analytics.gates.ms" -> (ms("analytics.gates"), "ms"),
      "analytics.gates.jobs" -> (perCall("analytics.gates")(_.jobs), "count"),
      "analytics.search.keyword_ms" -> (ms("analytics.search.keyword"), "ms"),
      "analytics.search.hashtag_ms" -> (ms("analytics.search.hashtag"), "ms"),
      "analytics.search.mention_ms" -> (ms("analytics.search.mention"), "ms"),
      "analytics.search.jobs_per_query" -> (perCall(filters: _*)(_.jobs), "count"),
      "analytics.search.tasks_per_query" -> (perCall(filters: _*)(_.tasks), "count"),
      "analytics.search.rows_scanned_per_hit" ->
        (ratio(t.counts(filters.flatMap(t.named)).inputRecords, cnt("hits")), "ratio"),
      "analytics.search.tail_ms" -> (tail(queryMs)._2, "ms"),
      "text.bm25.ms" -> (ms("text.bm25"), "ms"),
      "text.bm25.jobs_per_query" -> (perCall("text.bm25")(_.jobs), "count"),
      "text.bm25.shuffle_bytes_per_query" -> (perCall("text.bm25")(_.shuffleBytes), "bytes"),
      "enrich.palette.ms" -> (ms("enrich.palette"), "ms"),
      "enrich.palette.images" -> (perCall("enrich.palette")(_.inputRecords), "count"),
      "enrich.palette.tasks" -> (perCall("enrich.palette")(_.tasks), "count"),
      "enrich.palette.task_skew" ->
        (if (paletteTasks.isEmpty) 0.0 else paletteTasks.max / math.max(1.0, median(paletteTasks)), "ratio"),
      "spark.jobs" -> (all.jobs / perOp, "count"),
      "spark.tasks" -> (all.tasks / perOp, "count"),
      "spark.driver_gap_ms" -> (median(gapMs), "ms"),
      "spark.gc_ms" -> (gcWindow / perOp, "ms"),
      "spark.shuffle_bytes" -> (all.shuffleBytes / perOp, "bytes"),
      "spark.spill_bytes" -> (all.spillBytes / perOp, "bytes"),
      "spark.peak_exec_mem_mb" -> (all.peakExecMem / 1048576.0, "MB"),
      "spark.unattributed_jobs" -> (opJobs.count(_.span == "unattributed") / perOp, "count"),
      "session.start_ms" -> (sessionMs, "ms"),
      "trace.op_p50_ms" -> (opP50, "ms"),
      "trace.op_tail_ms" -> (opTail, "ms"),
      "trace.work_per_s" -> (workPerS, "1/s"))
  }

  private def spansJson(): String = c.trace.spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
      s""""run":"${s.run}","start_ms":${s.startMs},"end_ms":${s.endMs},"ms":${s.ms}}"""
  }.mkString("[", ",", "]")
}

object Runner {
  val MaxFailures = 3
  val MaxStretch = 6.0
}
