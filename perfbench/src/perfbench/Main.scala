package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** One measured run of one workload:
  *
  *   Main --workload <name> --seconds <s> --trace <0|1> --in <inputs> --work <dir>
  *        [--size full|smoke] [--fault 1]
  *
  * Starts a `local[cores]` session, sets the workload up three times,
  * warms it up with checked operations, then runs operations back to back
  * for at least `seconds`, checking each one's output against the
  * generator's ground truth. Timings are wall time (`Host.Clock`);
  * `--fault 1` makes every operation of the window throw, for the
  * self-test. The last stdout line is one JSON object with every
  * metric this run measured; `--trace 1` adds the per-layer metrics from
  * spans and listeners. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val meter = new Host.Meter
    val clock = new Host.Clock
    val preMainS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val spark = graft.GraftSession.local(Host.cores, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = clock.sec * 1000
    val ctx = Ctx(spark, new Trace(spark, opt("trace") == "1"), new BatchLog,
      opt("in"), opt("work"), Sizes(opt.getOrElse("size", "full")))
    spark.streams.addListener(ctx.batches)
    val wl = workload(opt("workload"), ctx)
    val r = new Runner(ctx, wl, opt.get("fault").contains("1")).run(opt("seconds").toDouble, preMainS, clock, sessionMs)
    spark.stop()
    val host = Host.json(meter.foreignCores(), meter.stealCores())
    println(s"host $host")
    val metrics = r.metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val artifact = s"""{"workload":"${wl.name}","host":$host,"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"failures":${r.failures.map(q).mkString("[", ",", "]")},""" +
      s""""detail":${r.detail},"metrics":$metrics,"spans":${r.spans}}"""
    java.nio.file.Files.write(new File(ctx.work, "artifact.json").toPath, artifact.getBytes("UTF-8"))
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}""")
  }

  val workloads: Seq[String] = Seq("history_daily", "stream_serve")

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "history_daily" => new HistoryDaily(ctx)
    case "stream_serve"  => new StreamServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples above
    * it, as (percentile, value); nearest-rank. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.length
    Seq(99, 95, 90, 75).find(p => n - math.ceil(p / 100.0 * n) >= 10) match {
      case Some(p) => (p, s(math.ceil(p / 100.0 * n).toInt - 1))
      case None    => (50, median(xs))
    }
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, batches: BatchLog,
                     in: String, work: String, sz: Sizes) {
  lazy val meta: java.util.Properties = {
    val p = new java.util.Properties()
    val is = new java.io.FileInputStream(s"$in/truth/meta.properties")
    try p.load(is) finally is.close()
    p
  }
  def metaLong(k: String): Long = meta.getProperty(k).toLong
  def lines(rel: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$in/$rel", "UTF-8")
    try src.getLines().toList finally src.close()
  }
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}
