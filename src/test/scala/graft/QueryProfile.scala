package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.operators.Observed
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The profiler for any SparkEntry query: N in-JVM runs, each split into
  * CONSTRUCTION (everything inside `queries(q)(spark, dir)` — eager
  * checkpoints, IVF fits, sizing counts; README "Eager construction")
  * and ACTION (the `noop` write), with driver job counts per phase, plus
  * per-stage wall/run/GC, shuffle read/write and spill. The stage table
  * separates real plan blowups (shuffle-byte inflation) from host noise
  * in one run.
  * Test/runMain graft.QueryProfile <query> [sfDir] [runs]
  */
object QueryProfile {

  final case class Stage(
      id: Int, wallMs: Long, tasks: Int, runMs: Long,
      readMb: Long, writeMb: Long, gcMs: Long, spillMb: Long)

  final case class Run(
      query: String, run: Int,
      constructMs: Double, constructJobs: Int,
      actionMs: Double, actionJobs: Int,
      stages: Vector[Stage])

  /** `runs` profiled runs of `query` on `sfDir`; every run starts from
    * dropped caches, so it measures the full pipeline (same hygiene as
    * Bench's timed runs).
    */
  def profile(spark: SparkSession, query: String, sfDir: String, runs: Int): Seq[Run] = {
    val fn = SparkEntry.queries(query)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (si.failureReason.isEmpty) { // a retry re-reports the bytes
          val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
          val tm = si.taskMetrics
          stages.add(Stage(si.stageId, ms, si.numTasks, tm.executorRunTime,
            tm.shuffleReadMetrics.totalBytesRead >> 20,
            tm.shuffleWriteMetrics.bytesWritten >> 20,
            tm.jvmGCTime, tm.diskBytesSpilled >> 20))
        }
      }
    }
    // listener events arrive asynchronously: count only once every
    // event posted so far has been delivered
    def drainedJobs(): Int = {
      org.apache.spark.ListenerDrain(sc, Observed.Bound.toMillis)
      jobs.get()
    }
    sc.addSparkListener(listener)
    try (1 to runs).map { i =>
      Sessions.dropAllCaches(spark)
      val j0 = drainedJobs()
      stages.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val j1 = drainedJobs()
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val j2 = drainedJobs()
      Run(query, i, (t1 - t0) / 1e6, j1 - j0, (t3 - t2) / 1e6, j2 - j1,
        stages.asScala.toVector)
    }
    finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse(
      sys.error("usage: graft.QueryProfile <query> [sfDir] [runs]"))
    val sf = args.lift(1).getOrElse("/tmp/graft_sf1")
    val runs = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Sessions.local()
    profile(spark, q, sf, runs).foreach { r =>
      val snap = r.stages
      println(f"[qp] $q run ${r.run} construct=${r.constructMs / 1e3}%.2f s (${r.constructJobs} jobs) " +
        f"action=${r.actionMs / 1e3}%.2f s (${r.actionJobs} jobs) stages=${snap.size} " +
        f"shufWriteSum=${snap.map(_.writeMb).sum}MB gcSum=${snap.map(_.gcMs).sum / 1000.0}%.1f s " +
        f"diskSpillSum=${snap.map(_.spillMb).sum}MB")
      snap.sortBy(-_.wallMs).take(8).foreach { s =>
        println(f"[qp]   stage=${s.id}%-4d wall=${s.wallMs / 1000.0}%6.2f s run=${s.runMs / 1000.0}%7.2f s " +
          f"gc=${s.gcMs / 1000.0}%5.2f s tasks=${s.tasks}%-3d read=${s.readMb}MB " +
          f"write=${s.writeMb}MB spill=${s.spillMb}MB")
      }
    }
    spark.stop()
  }
}
