package graftbench

/** Every metric the harness reports, with its unit. An untraced run
  * prints the end-to-end set, a traced run the per-layer set; a layer a
  * workload never enters reads 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "1/s", "peak_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "Sessions.start_ms" -> "ms",
    "Tables.scan_ms" -> "ms",
    "MtmRunner.calculate.ms" -> "ms",
    "MtmRunner.calculate.task_cpu_ms" -> "ms",
    "MtmRunner.calculate.shuffle_write_mb" -> "MB",
    "MtmRunner.calculate.spill_mb" -> "MB",
    "MtmRunner.calculate.jobs" -> "count",
    "MtmRunner.calculate.stages" -> "count",
    "MtmRunner.calculate.tasks" -> "count",
    "MtmRunner.summary.ms" -> "ms",
    "MtmRunner.summary.jobs" -> "count",
    "MtmRunner.summary.stages" -> "count",
    "MtmRunner.timeline.ms" -> "ms",
    "MtmRunner.trades.ms" -> "ms",
    "MtmRunner.hyperOptAdapter.ms" -> "ms",
    "ConnectedComponents.dupGroups.jobs" -> "count",
    "ConnectedComponents.dupGroups.construct_ms" -> "ms",
    "ConnectedComponents.dupGroups.action_ms" -> "ms",
    "TradeBook.bars_per_s" -> "1/s",
    "TradeBook.closes_signal" -> "count",
    "TradeBook.closes_roi" -> "count",
    "TradeBook.closes_stoploss" -> "count",
    "CorpusPipeline.cleanCorpus.construct_ms" -> "ms",
    "CorpusPipeline.cleanCorpus.action_ms" -> "ms",
    "CorpusPipeline.cleanCorpus.task_cpu_ms" -> "ms",
    "CorpusPipeline.cleanCorpus.shuffle_write_mb" -> "MB",
    "CorpusPipeline.kept_ratio" -> "ratio",
    "Dedup.minhashLshPairs.ms" -> "ms",
    "Dedup.minhashLshPairs.pairs" -> "count",
    "Dedup.minhashLshPairs.dropped_memberships" -> "count",
    "Dedup.planted_recall" -> "ratio",
    "TextOps.qualityExpr.ms" -> "ms",
    "TextOps.gopherKeepExpr.ms" -> "ms",
    "TextOps.fingerprintExpr.ms" -> "ms",
    "StreamingJobs.addBatch_ms" -> "ms",
    "StreamingJobs.queryPlanning_ms" -> "ms",
    "StreamingJobs.walCommit_ms" -> "ms",
    "StreamingJobs.state_commit_ms" -> "ms",
    "StreamingJobs.state_rows" -> "count",
    "StreamingJobs.state_mem_mb" -> "MB",
    "StreamingJobs.rows_removed" -> "count",
    "StreamingJobs.batch_jobs" -> "count",
    "op.gc_ms" -> "ms",
    "op.task_run_ms" -> "ms",
    "op.task_cpu_ms" -> "ms",
    "op.failed_tasks" -> "count",
    "host.cal_ms" -> "ms",
    "host.steal_ticks" -> "count",
    "trace.overhead_pct" -> "%",
    "failed_ratio" -> "ratio")

  private val MB = 1024.0 * 1024.0

  /** Layer values of one traced op, read from its descendant spans. */
  def ofOp(tr: Tracer, op: Span): Map[String, Double] = {
    val under = {
      val parent = tr.spans.map(s => s.id -> s.parent).toMap
      def within(id: Int): Boolean = id == op.id || (id != 0 && within(parent.getOrElse(id, 0)))
      tr.spans.filter(s => s.id != op.id && within(s.parent)).toSeq
    }
    def named(n: String) = under.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms).sum
    def counters(ns: String*): Counters = {
      val c = new Counters
      ns.flatMap(named).foreach(s => c += tr.inclusive(s.id))
      c
    }
    val calc = counters("MtmRunner.calculate")
    val summary = counters("MtmRunner.summary")
    val cc = counters("ConnectedComponents.dupGroups.construct", "ConnectedComponents.dupGroups.action")
    val clean = counters("CorpusPipeline.cleanCorpus.construct", "CorpusPipeline.cleanCorpus.action")
    val all = tr.inclusive(op.id)
    Map(
      "MtmRunner.calculate.ms" -> ms("MtmRunner.calculate"),
      "MtmRunner.calculate.task_cpu_ms" -> calc.taskCpuNs.get / 1e6,
      "MtmRunner.calculate.shuffle_write_mb" -> calc.shuffleWriteBytes.get / MB,
      "MtmRunner.calculate.spill_mb" -> calc.spillBytes.get / MB,
      "MtmRunner.calculate.jobs" -> calc.jobs.get.toDouble,
      "MtmRunner.calculate.stages" -> calc.stages.get.toDouble,
      "MtmRunner.calculate.tasks" -> calc.tasks.get.toDouble,
      "MtmRunner.summary.ms" -> ms("MtmRunner.summary"),
      "MtmRunner.summary.jobs" -> summary.jobs.get.toDouble,
      "MtmRunner.summary.stages" -> summary.stages.get.toDouble,
      "MtmRunner.timeline.ms" -> ms("MtmRunner.timeline"),
      "MtmRunner.trades.ms" -> ms("MtmRunner.trades"),
      "MtmRunner.hyperOptAdapter.ms" -> ms("MtmRunner.hyperOptAdapter"),
      "ConnectedComponents.dupGroups.jobs" -> cc.jobs.get.toDouble,
      "ConnectedComponents.dupGroups.construct_ms" -> ms("ConnectedComponents.dupGroups.construct"),
      "ConnectedComponents.dupGroups.action_ms" -> ms("ConnectedComponents.dupGroups.action"),
      "CorpusPipeline.cleanCorpus.construct_ms" -> ms("CorpusPipeline.cleanCorpus.construct"),
      "CorpusPipeline.cleanCorpus.action_ms" -> ms("CorpusPipeline.cleanCorpus.action"),
      "CorpusPipeline.cleanCorpus.task_cpu_ms" -> clean.taskCpuNs.get / 1e6,
      "CorpusPipeline.cleanCorpus.shuffle_write_mb" -> clean.shuffleWriteBytes.get / MB,
      "Dedup.minhashLshPairs.ms" -> ms("Dedup.minhashLshPairs"),
      "StreamingJobs.batch_jobs" -> counters("StreamingJobs.mtmBlotterStream.batch").jobs.get.toDouble,
      "op.gc_ms" -> all.gcMs.get.toDouble,
      "op.task_run_ms" -> all.taskRunMs.get.toDouble,
      "op.task_cpu_ms" -> all.taskCpuNs.get / 1e6,
      "op.failed_tasks" -> all.failedTasks.get.toDouble)
  }

  /** Per-op layer maps folded to their medians across ops. */
  def medians(perOp: Seq[Map[String, Double]]): Map[String, Double] =
    perOp.flatMap(_.keys).distinct.map(k => k -> Stats.median(perOp.flatMap(_.get(k)))).toMap
}
