package graftbench

import graft.core.{InventoryMode, PnlConfig}
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{StreamBar, StreamTrade}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable.ArrayBuffer

/** The streaming layer, measured as a probe of the `mtm_deep` traced
  * run: the MTM book through `StreamingJobs.mtmBlotterStream` on a
  * `MemoryStream`, closed loop. Each step adds one fixed-size
  * micro-batch spanning many symbols with advancing event time and
  * waits on `processAllAvailable`. Symbols churn, so idle eviction fires
  * every batch. Layer values come from `StreamingQueryProgress` and the
  * span listener; the blotter rows must equal a batch run of the same
  * job on the same bars.
  */
final class StreamProbe(seed: Long) {
  val spec = Gen.StreamSpec(newPerBatch = 100, life = 12, barsPerBatch = 4, sigma = 0.01,
    buyP = 0.1, sellP = 0.1)
  val cfg = PnlConfig(
    roi = Map(0 -> 0.03, 60 -> 0.015), stoploss = -0.02, enableShortPosition = true,
    maxPositionPerSymbol = 3, feeRate = 0.001, inventoryMode = InventoryMode.WorstPrice)
  val WarmBatches = 2
  private val watermark = "0 seconds"

  private def batchBars(b: Int): Seq[StreamBar] =
    Gen.streamBatch(seed, spec, b).map(x =>
      StreamBar(x.symbol, x.tsUs, x.eventId, x.close, if (x.buy) 1 else 0, if (x.sell) 1 else 0))

  /** Runs `batches` measured micro-batches after the warm ones; returns
    * the per-batch layer medians and the first check failure, if any.
    */
  def run(spark: SparkSession, tr: Tracer, dir: String, batches: Int): (Map[String, Double], Option[String]) = {
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[StreamBar]
    val sunk = new ArrayBuffer[StreamTrade]
    val sink: (Dataset[StreamTrade], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      sunk.synchronized(sunk ++= rows)
    }
    val query = StreamingJobs.mtmBlotterStream(stream.toDS(), cfg, watermark, spec.evictAfterMs)
      .writeStream
      .option("checkpointLocation", s"$dir/stream-checkpoint")
      .foreachBatch(sink)
      .start()
    val perBatch = new ArrayBuffer[Map[String, Double]]
    var lastBatchId = -1L
    try {
      for (b <- 0 until WarmBatches + batches) {
        val measured = b >= WarmBatches
        val step = () => { stream.addData(batchBars(b)); query.processAllAvailable() }
        if (measured) tr.span("StreamingJobs.mtmBlotterStream.batch") {
          tr.alias(query.runId.toString)
          step()
        } else step()
        // progress of this step's micro-batches (data plus no-data batches)
        val ps = query.recentProgress.filter(_.batchId > lastBatchId)
        if (ps.nonEmpty) lastBatchId = ps.map(_.batchId).max
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        val st = ps.flatMap(_.stateOperators.headOption)
        if (measured) perBatch += Map(
          "StreamingJobs.addBatch_ms" -> dur("addBatch"),
          "StreamingJobs.queryPlanning_ms" -> dur("queryPlanning"),
          "StreamingJobs.walCommit_ms" -> dur("walCommit"),
          "StreamingJobs.state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
          "StreamingJobs.state_rows" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "StreamingJobs.state_mem_mb" -> st.lastOption.map(_.memoryUsedBytes / (1024.0 * 1024.0)).getOrElse(0.0),
          "StreamingJobs.rows_removed" -> st.map(_.numRowsRemoved.toDouble).sum)
      }
    } finally query.stop()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val batchJobs = tr.spans.filter(_.name == "StreamingJobs.mtmBlotterStream.batch")
      .map(s => tr.inclusive(s.id).jobs.get.toDouble).toSeq
    val layers = Metrics.medians(perBatch.toSeq) +
      ("StreamingJobs.batch_jobs" -> (if (batchJobs.isEmpty) 0.0 else Stats.median(batchJobs)))
    val fed = (0 until WarmBatches + batches).flatMap(batchBars)
    (layers, check(spark, fed, sunk.synchronized(sunk.toVector)))
  }

  /** The batch run flushes every open position as EVICTED at the end;
    * the stream flushes only the symbols it evicted, so an EVICTED row
    * may be missing only for a symbol the stream never evicted. Every
    * other row must match, as a multiset.
    */
  def check(spark: SparkSession, fed: Seq[StreamBar], got: Seq[StreamTrade]): Option[String] = {
    import spark.implicits._
    val want = StreamingJobs.mtmBlotterStream(spark.createDataset(fed), cfg, watermark, spec.evictAfterMs)
      .collect()
    val remaining = scala.collection.mutable.Map.empty[StreamTrade, Int]
    want.foreach(t => remaining(t) = remaining.getOrElse(t, 0) + 1)
    got.foreach { t =>
      remaining.get(t) match {
        case Some(n) => if (n == 1) remaining.remove(t) else remaining(t) = n - 1
        case None => return Some(s"stream emitted a row the batch run does not: $t")
      }
    }
    val evicted = got.iterator.filter(_.close_reason == "EVICTED").map(_.symbol).toSet
    if (evicted.isEmpty) return Some("the stream never evicted a symbol")
    remaining.keysIterator
      .find(t => t.close_reason != "EVICTED" || evicted.contains(t.symbol))
      .map(t => s"stream is missing a row of the batch run: $t")
  }
}
