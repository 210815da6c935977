package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spark-side counters of one span, filled by [[SpanListener]]. */
final class Counters {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong

  def +=(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
    failedTasks.addAndGet(o.failedTasks.get); taskRunMs.addAndGet(o.taskRunMs.get)
    taskCpuNs.addAndGet(o.taskCpuNs.get); gcMs.addAndGet(o.gcMs.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get); spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** One timed call into graft's public surface. */
final case class Span(run: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Attributes every Spark job to the span whose job group launched it
  * and aggregates job, stage, task, shuffle, spill, GC, CPU and
  * failed-task counters per span. Job groups are `span-<id>`; jobs of a
  * streaming query (whose group is its run id) are redirected to the
  * span registered for that run id.
  */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Int]
  val aliases = new ConcurrentHashMap[String, Int]

  def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(group: String): Option[Int] =
    if (group == null) None
    else if (group.startsWith("span-")) Some(group.substring(5).toInt)
    else Option(aliases.get(group)).map(_.intValue)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    spanOf(group).foreach { s =>
      counters(s).jobs.incrementAndGet()
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => counters(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counters(s)
      c.tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) c.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** Span recorder for the single caller thread. Detached, it runs the
  * body and records nothing, and its listener is off the bus, so
  * untraced ops pay no tracing cost.
  */
final class Tracer(val run: String) {
  val spans = new ArrayBuffer[Span]
  val listener = new SpanListener
  private var nextId = 1
  private var stack: List[Int] = List(0)
  private var sc: SparkContext = null

  def enabled: Boolean = sc != null

  def attach(context: SparkContext): Unit = {
    context.addSparkListener(listener)
    sc = context
  }

  /** Stop recording once every event posted so far has been counted. */
  def detach(): Unit = if (sc != null) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sc = null
  }

  def current: Int = stack.head

  /** Time `body` as a span named `name`, nested under the current one;
    * jobs it launches carry the span's job group.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (stack.head == 0) sc.clearJobGroup() else sc.setJobGroup(s"span-${stack.head}", "", interruptOnCancel = false)
        spans += Span(run, id, parent, name, t0, t1)
      }
    }

  /** Route jobs launched under a foreign job group (a streaming query's
    * run id) to the current span.
    */
  def alias(group: String): Unit = if (enabled) listener.aliases.put(group, current)

  def childrenOf(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counters of a span and all its descendants. */
  def inclusive(id: Int): Counters = {
    val c = new Counters
    def walk(i: Int): Unit = {
      Option(listener.bySpan.get(i)).foreach(c += _)
      spans.foreach(s => if (s.parent == i) walk(s.id))
    }
    walk(id)
    c
  }

  def selfMs(s: Span): Double = s.ms - childrenOf(s.id).map(_.ms).sum

  /** Spans as JSON lines, with self time and the span's own counters. */
  def jsonLines: Seq[String] = spans.sortBy(_.startNs).map { s =>
    val c = Option(listener.bySpan.get(s.id)).getOrElse(new Counters)
    Json.obj(
      "run" -> s.run, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.startNs, "end" -> s.endNs, "self_ms" -> selfMs(s),
      "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
      "failed_tasks" -> c.failedTasks.get, "task_run_ms" -> c.taskRunMs.get,
      "task_cpu_ms" -> c.taskCpuNs.get / 1e6, "gc_ms" -> c.gcMs.get,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.get, "spill_bytes" -> c.spillBytes.get)
  }.toSeq
}
