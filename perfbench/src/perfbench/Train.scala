package perfbench

/** Class-loading training run, made once per build:
  *
  *   Train <workDir>
  *
  * Runs every workload's set-up and one operation at the smoke size in
  * one traced session, so a JVM started with `-XX:ArchiveClassesAtExit`
  * archives every class the benchmark loads. Later runs map that archive
  * instead of loading and verifying the Spark classes again, which cuts
  * several seconds of class loading from every run's set-up. */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local(Host.cores, "perfbench-train")
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark, enabled = true)
    val batches = new BatchLog
    spark.streams.addListener(batches)
    try Main.workloads.foreach { w =>
      val in = s"$dir/$w/in"
      Gen.main(Array(w, "1", "smoke", in))
      val ctx = Ctx(spark, trace, batches, in, s"$dir/$w/run", Sizes.smoke)
      val wl = Main.workload(w, ctx)
      wl.prepare(0)
      wl.op(-1).check().foreach(f => sys.error(s"$w: $f"))
    } finally spark.stop()
  }
}
