package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The host a run measured on, and how much of it the run had.
  *
  * Foreign CPU is every busy CPU-second on the box that this JVM did not
  * burn, over the run's wall time, read from /proc/stat the way
  * `graft.Bench` reads it, hypervisor steal included. A run whose foreign
  * share of the cores passes `FlagShare` declares itself contaminated in
  * its artifact. */
object Host {
  val FlagShare = 0.15

  /** Machine-wide CPU ticks from /proc/stat's cpu line: (busy, steal).
    * Busy is user+nice+system+irq+softirq; steal is the time the
    * hypervisor ran something else while a vCPU was runnable. */
  private[perfbench] def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (Seq(0, 1, 2, 5, 6).filter(_ < f.length).map(f).sum, if (f.length > 7) f(7) else 0L)
      }.getOrElse((0L, 0L)) finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  private def processCpuSec(): Option[Double] =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean if os.getProcessCpuTime >= 0 =>
        Some(os.getProcessCpuTime / 1e9)
      case _ => None
    }

  /** Foreign and stolen cores averaged over the meter's lifetime. */
  final class Meter {
    private val wall0 = System.nanoTime()
    private val (busy0, steal0) = cpuTicks()
    private val own0 = processCpuSec()
    private def wall: Double = math.max(1e-9, (System.nanoTime() - wall0) / 1e9)
    def foreignCores(): Option[Double] = {
      val (b1, s1) = cpuTicks()
      for (o0 <- own0; o1 <- processCpuSec() if b1 > 0)
        yield math.max(0.0, ((b1 - busy0 + s1 - steal0) / 100.0 - (o1 - o0)) / wall)
    }
    def stealCores(): Double = (cpuTicks()._2 - steal0) / 100.0 / wall
  }

  /** A monotonic wall-clock stopwatch: every gated timing is wall time.
    * Steal and foreign CPU are not taken out; they are recorded per run
    * (`json`), and a run they contaminate is flagged. */
  final class Clock {
    private val t0 = System.nanoTime()
    def sec: Double = (System.nanoTime() - t0) / 1e9
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def collectors: String =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Old-generation bytes in use after full collections. Collects until
    * a collection frees less than 1 MB (at most five times), so what
    * Spark's cleaner releases only after a first collection is gone too. */
  def oldGenAfterGc(): Long = {
    val pool = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def used(): Long = {
      System.gc()
      pool.map(_.getUsage.getUsed).getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    var last = used()
    var i = 0
    var freed = Long.MaxValue
    while (i < 4 && freed >= (1L << 20)) {
      Thread.sleep(100)
      val u = used()
      freed = last - u
      last = math.min(last, u)
      i += 1
    }
    last
  }

  /** The class-data-sharing archive this JVM mapped, relative to the
    * working directory, or None when it runs without one. */
  def archive: Option[String] =
    try {
      val hs = ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      val file = hs.getVMOption("SharedArchiveFile").getValue
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      if (hs.getVMOption("UseSharedSpaces").getValue == "true" && file.nonEmpty)
        Some(cwd.relativize(java.nio.file.Paths.get(file).toAbsolutePath).toString)
      else None
    } catch { case _: IllegalArgumentException => None }

  def json(foreign: Option[Double], steal: Double): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val flagged = foreign.exists(_ > FlagShare * cores)
    val os = ManagementFactory.getOperatingSystemMXBean
    val mem = os match {
      case o: com.sun.management.OperatingSystemMXBean => o.getTotalMemorySize
      case _ => -1L
    }
    s"""{"cores":$cores,"memory_bytes":$mem,"heap_max_bytes":${Runtime.getRuntime.maxMemory},""" +
      s""""jvm":"${rt.getVmName} ${rt.getVmVersion}","collector":"$collectors",""" +
      s""""os":"${os.getName} ${os.getVersion} ${os.getArch}",""" +
      s""""archive":${archive.fold("null")(Main.q)},""" +
      s""""foreign_cores":${foreign.fold("null")(f => f"$f%.3f")},"steal_cores":${f"$steal%.3f"},""" +
      s""""flagged":$flagged}"""
  }
}
