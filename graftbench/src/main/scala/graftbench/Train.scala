package graftbench

import graft.Sessions

/** The class-data-sharing training run: one generate, register, scan,
  * op and check of every workload in one JVM, so the archive the JVM
  * dumps at exit holds the classes each of them loads.
  *
  *   graftbench.Train OUT_DIR
  */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    try Workload.names.foreach { w =>
      val wl = Workload(w, 0L)
      val dir = s"${args(0)}/data/$w"
      wl.generate(spark, dir)
      wl.register(spark, dir)
      wl.scan(spark)
      wl.check(0, wl.op(0, new Tracer("train"))).foreach(m => sys.error(s"$w: $m"))
    } finally spark.stop()
  }
}
