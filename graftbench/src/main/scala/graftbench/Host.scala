package graftbench

/** Host floor: a fixed single-thread calibration loop and the CPU steal
  * counter, reported beside every run so host noise is visible.
  */
object Host {
  /** Milliseconds for a fixed 2^24-step integer mixing loop. */
  def calMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < (1 << 24)) { x = Gen.mix(x + i); i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) println("") // keep the loop live
    ms
  }

  /** Cumulative steal ticks of all CPUs (0 where /proc/stat is absent). */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }

  /** Heap retained after each GC, maximised over the run so far. */
  object HeapPeak {
    @volatile private var peak = 0L
    private var installed = false

    def reset(): Unit = peak = 0L
    def mb: Double = peak / (1024.0 * 1024.0)

    def install(): Unit = synchronized {
      if (!installed) {
        installed = true
        import java.lang.management.ManagementFactory
        import javax.management.{Notification, NotificationEmitter, NotificationListener}
        import com.sun.management.GarbageCollectionNotificationInfo
        import javax.management.openmbean.CompositeData
        val l = new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              var used = 0L
              info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
                if (!pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
                    !pool.contains("Compressed Class")) used += u.getUsed
              }
              if (used > peak) peak = used
            }
        }
        ManagementFactory.getGarbageCollectorMXBeans.forEach {
          case e: NotificationEmitter => e.addNotificationListener(l, null, null)
          case _ =>
        }
      }
    }
  }
}
