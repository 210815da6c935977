package graftbench

import graft.Sessions
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark harness: one JVM, one caller thread, graft driven only
  * through its public functions.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *
  * Set-up — session start, input registration and a warm-up read of
  * the input — runs SetupReps times and reports the median; input
  * generation runs once, in the first, and is timed apart. The JVM's
  * first op, mostly code generation and JIT warm-up, and all but one of
  * the workload's settling ops run in the first session, so that
  * background compilation is over before the later set-ups; the last
  * settling op runs in the last session. Settling ops are unchecked and
  * untimed (their times go to stderr). A full GC before every set-up,
  * outside its timing, keeps the previous session's garbage out of it.
  * The timed loop runs at least two ops, and more until their times add
  * up to S seconds, checking each op's output outside its timing. An
  * untraced run prints the end-to-end metrics; a traced run alternates
  * untraced and traced ops, prints the per-layer metrics from the traced
  * ones, and writes the spans as JSON lines to DIR/spans.jsonl. The last
  * stdout line is the result object.
  */
object Main {
  // the first set-up, in a cold JVM, is always the slowest; the median
  // of five is the second slowest of the four warm ones
  val SetupReps = 5

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, need("out"))
  }

  /** One timed op. */
  final case class Op(index: Int, seconds: Double, traced: Boolean)

  /** Why an op failed, if it did: it threw, its check threw, or its
    * check rejected the output.
    */
  def verdict(out: Either[Throwable, Any], check: Any => Option[String]): Option[String] =
    out match {
      case Left(e) => Some(s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(o) =>
        try check(o)
        catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wall0 = System.nanoTime()
    def wall = f"${(System.nanoTime() - wall0) / 1e9}%.1f"
    val wl = Workload(a.workload, a.seed)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val dataDir = s"${a.out}/data"
    val cal = ArrayBuffer.fill(3)(Host.calMs())
    val steal0 = Host.stealTicks()
    Host.HeapPeak.install()

    // ---- set-up SetupReps times; generation once, timed apart ----
    var spark: SparkSession = null
    var genS = 0.0
    val untraced = new Tracer("untraced")
    val setupS, startMs, scanMs, settleS = new ArrayBuffer[Double]
    def settle(ops: Int): Unit = for (_ <- 0 until ops) {
      val t0 = System.nanoTime()
      wl.op(settleS.length, untraced)
      Sessions.dropAllCaches(spark)
      settleS += (System.nanoTime() - t0) / 1e9
    }
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores)
      startMs += (System.nanoTime() - t0) / 1e6
      if (rep == 0) {
        val g0 = System.nanoTime()
        wl.generate(spark, dataDir)
        genS = (System.nanoTime() - g0) / 1e9
      }
      wl.register(spark, dataDir)
      val s0 = System.nanoTime()
      wl.scan(spark)
      scanMs += (System.nanoTime() - s0) / 1e6
      setupS += (System.nanoTime() - t0) / 1e9 - (if (rep == 0) genS else 0.0)
      if (rep == 0) settle(wl.settleOps)
    }
    settle(1)
    System.err.println(s"[graftbench] set-up done at ${wall}s")
    // ---- timed loop ----
    val tr = new Tracer(s"${a.workload}-${a.seed}")
    val ops = new ArrayBuffer[Op]
    val opSpans = new ArrayBuffer[(Int, Int)]
    val failures = scala.collection.mutable.Map.empty[Int, String]
    Host.HeapPeak.reset()
    // at least two ops: a traced run needs an untraced and a traced one,
    // and an op count that drops to one on a slow host would move the
    // median and the peak heap
    while (ops.length < 2 || ops.map(_.seconds).sum < a.seconds) {
      val i = ops.length
      val traced = a.trace && i % 2 == 1
      if (traced) tr.attach(spark.sparkContext)
      val t0 = System.nanoTime()
      val out =
        try Right(tr.span("op")(wl.op(i, tr)))
        catch { case NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) {
        opSpans += i -> tr.spans.last.id
        tr.detach()
      }
      ops += Op(i, dt, traced)
      verdict(out, wl.check(i, _)).foreach(m => failures(i) = m)
      if (out.isLeft) Sessions.dropAllCaches(spark)
    }
    val peakHeapMb = Host.HeapPeak.mb

    System.err.println(s"[graftbench] timed loop done at ${wall}s")
    // ---- traced-run probes, whole-run checks ----
    val probes = if (a.trace) wl.probes(spark, tr) else Map.empty[String, Double]
    try wl.finish(spark, ops.length).foreach { case (i, m) => failures.getOrElseUpdate(i, m) }
    catch { case NonFatal(e) => failures.getOrElseUpdate(ops.length - 1, s"final check threw: ${e.getMessage}") }
    cal ++= Seq.fill(3)(Host.calMs())
    val stealTicks = Host.stealTicks() - steal0
    spark.stop()
    System.err.println(s"[graftbench] finished at ${wall}s")

    // ---- report ----
    val attempted = ops.length
    val failedOps = failures.keySet.toSet
    failures.toSeq.sortBy(_._1).take(5).foreach { case (i, m) => System.err.println(s"[graftbench] op $i failed: $m") }
    val goodRows = (attempted - failedOps.size) * wl.rowsPerOp
    val opSecs = ops.map(_.seconds)
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val e2e = Map(
          "setup_s" -> Stats.median(setupS.toSeq),
          "op_p50_s" -> Stats.median(opSecs.toSeq),
          "rows_per_s" -> goodRows / opSecs.sum,
          "peak_heap_mb" -> peakHeapMb)
        Metrics.endToEnd.map { case (n, u) => (n, u, e2e(n)) }
      } else {
        val (tracedOps, untracedOps) = ops.toSeq.partition(_.traced)
        val perOp = opSpans.map { case (_, spanId) =>
          Metrics.ofOp(tr, tr.spans.find(_.id == spanId).get)
        }.toSeq
        val layers = Metrics.medians(perOp) ++ probes ++ Map(
          "Sessions.start_ms" -> Stats.median(startMs.toSeq),
          "Tables.scan_ms" -> Stats.median(scanMs.toSeq),
          "host.cal_ms" -> Stats.median(cal.toSeq),
          "host.steal_ticks" -> stealTicks.toDouble,
          "trace.overhead_pct" ->
            (Stats.median(tracedOps.map(_.seconds)) / Stats.median(untracedOps.map(_.seconds)) - 1.0) * 100.0,
          "failed_ratio" -> Stats.failedRatio(attempted, failedOps))
        val spansOut = new java.io.PrintWriter(s"${a.out}/spans.jsonl")
        try tr.jsonLines.foreach(spansOut.println) finally spansOut.close()
        Metrics.perLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }
    val p90 =
      if (Stats.p90Reportable(attempted)) f"${Stats.quantile(opSecs.toSeq, 0.9)}%.4f s" else "not reported (fewer than 10 samples beyond p90)"
    System.err.println(
      f"[graftbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} ops=$attempted failed=${failedOps.size} " +
        f"gen_s=$genS%.3f setup_s=${setupS.map(x => f"$x%.3f").mkString("/")} settle_s=${settleS.map(x => f"$x%.3f").mkString("/")} " +
        f"op_s=${opSecs.map(x => f"$x%.3f").mkString("/")} op_p90_s=$p90 host_cal_ms=${Stats.median(cal.toSeq)}%.1f " +
        f"failed_ratio=${Stats.failedRatio(attempted, failedOps)}%.4f")
    println(Json.obj(
      "correct" -> failedOps.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, u, v) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*)))
    System.out.flush()
  }
}
