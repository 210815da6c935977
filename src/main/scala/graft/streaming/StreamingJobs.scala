package graft.streaming

import graft.core.PnlConfig
import graft.operators.{ExactNum, MtmEngine}
import graft.operators.MtmEngine.{Family, RunEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** Structured Streaming jobs (SURVEY §2 #29-30): the streaming twins of
  * the batch tumbling aggregation and of the MTM engine. Both run on any
  * DataFrame — batch or streaming — so batch/stream parity is a direct
  * spec assertion (StreamingSpec).
  */
object StreamingJobs {

  /** SURVEY #29: 1-hour tumbling-window counts/sums per event type with
    * a 2-hour watermark. In append mode a window emits once the
    * watermark passes its end — the standard bounded-state streaming
    * aggregation (state size = open windows × event types).
    */
  def tumblingAgg(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        ExactNum.sumExact(col("value"), 1e6).as("total_value"))
      .select(
        col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based sessionization as a streaming aggregation — the streaming
    * twin of `Analytics.sessionize` (SURVEY §2 #15), via
    * `session_window`: windows merge while events arrive within `gap`
    * and emit once the watermark passes a session's close. The emitted
    * window end is (last event + gap), so `session_end - gap` equals the
    * batch twin's last-event timestamp (asserted in StreamingSpec).
    * State is O(open sessions per user) — bounded by the watermark.
    */
  def sessionAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        ExactNum.sumExact(col("value"), 1e6).as("session_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end_plus_gap"),
        col("n_events"), col("session_value"))

  /** Streaming corpus ingest — the streaming twin of
    * `CorpusPipeline.cleanCorpus` stages 0-2 (LLM-pipeline SURVEY block),
    * behind the same flags. Stages 0-1 are the batch pipeline's own
    * stage-1 builder (`CorpusPipeline.qualityGated`): optional PII
    * redaction ([[graft.functions.PiiRedact]], BEFORE scoring so every
    * downstream stage sees the text that would ship), the optional
    * Gopher-rules gate and the scored quality gate, each kernel run once
    * per row. Then exact-dedup on the canonical normalized-text
    * fingerprint with `dropDuplicatesWithinWatermark` — dedup state is
    * bounded by the watermark horizon instead of growing with corpus
    * size. Contract: the first occurrence wins; a duplicate arriving
    * within the horizon is dropped; one arriving after state expiry is
    * re-admitted as a new document (the standard streaming-dedup
    * tradeoff — at-most-once dedup per horizon, exact batch dedup
    * remains `Dedup.exactDups`). The text stages are stateless per-row
    * operators, so results are chunking-invariant by construction
    * (StreamingSpec pins streamed == batch under any chunking).
    *
    * @param docs streaming frame with (ingest_ts timestamp, doc_id, text)
    */
  def corpusIngestStream(
      docs: DataFrame,
      minQuality: Double = 0.5,
      watermarkDelay: String = "2 hours",
      redactPii: Boolean = false,
      gopherRules: Boolean = false): DataFrame =
    graft.operators.CorpusPipeline.qualityGated(docs, minQuality, redactPii, gopherRules)
      .withWatermark("ingest_ts", watermarkDelay)
      .withColumn("fp_md5", graft.operators.TextOps.fingerprintExpr(col("text")))
      .dropDuplicatesWithinWatermark("fp_md5")

  /** Engine input bar (same canonical view as the batch engine). */
  final case class StreamBar(
      symbol: Long, ts_us: Long, event_id: Long, close: Double, buy: Int, sell: Int)

  /** Streamed timeline point. */
  final case class StreamPoint(symbol: Long, ts_us: Long, event_id: Long, mtm_ratio: Double)

  /** Streamed closed trade (the blotter's is_closed=true rows, plus
    * EVICTED flush rows for positions force-closed at state eviction).
    * Field order matches the batch blotter column order
    * (…, pnl_norm, pnl, close_reason) so positional consumers agree.
    * Open positions live in GroupState and surface only when closed or
    * evicted — append-mode streams cannot retract.
    */
  final case class StreamTrade(
      symbol: Long, direction: String, entry_ts_us: Long, entry_price: Double,
      exit_ts_us: Long, exit_price: Double, pnl_norm: Double, pnl: Double,
      close_reason: String)

  /** Default idle-eviction horizon: a symbol with no bars for 7 days of
    * EVENT time is flushed and its state dropped — the bound that keeps
    * the state store finite under unbounded key churn (user-id-like
    * symbol spaces). Reference semantics (trade_reward.py archive lists)
    * put no bound on symbols; a run-forever stream must.
    */
  val DefaultEvictAfterMs: Long = 7L * 24 * 3600 * 1000

  /** Watermarked, symbol-clustered, time-sorted group view of the bar
    * stream. The explicit `repartition` + `sortWithinPartitions` satisfy
    * the stateful operator's required distribution (hash on symbol,
    * shuffle-partition count) and required ordering ([symbol] is a
    * prefix of our [symbol, ts_us, event_id]), so the planner inserts no
    * second exchange/sort and each group's iterator arrives already in
    * time order — the group function can stream it lazily instead of
    * materializing the micro-batch group on-heap (StreamingSpec pins the
    * single Exchange+Sort shape).
    */
  private def orderedBySymbolTime(
      bars: Dataset[StreamBar], watermarkDelay: String): KeyValueGroupedDataset[Long, StreamBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val clustered = bars.toDF()
      .withColumn("et", timestamp_micros(col("ts_us")))
      .withWatermark("et", watermarkDelay)
      .repartition(col("symbol"))
    graft.plans.LocalSortHint(clustered, MtmEngine.RunOrder: _*)
      .groupBy(col("symbol")).as[Long, StreamBar]
  }

  /** Both MTM streams: the batch engine's walk ([[MtmEngine.Walk]]) run
    * incrementally under `flatMapGroupsWithState`. A symbol's group state
    * is the walk's [[MtmEngine.Family.Carry]] bytes — open positions,
    * previous close, the run's (ts_us, event_id) high-water mark and its
    * RunStats. A micro-batch group restores a walk from them, steps its
    * bars, and stores the carry that the walk's run end writes as the
    * next state; `row` maps each timeline or blotter row the walk writes.
    * A timed-out group ends with the walk's EVICTED flush and drops its
    * state; so does every group of a stream job run on a BATCH Dataset,
    * whose GroupState is discarded at the end and whose timeout never
    * fires — the flush accounts for every open position.
    *
    * Heap is O(open positions) per symbol: bars arrive (ts_us,
    * event_id)-sorted from [[orderedBySymbolTime]] and are consumed
    * lazily; the state commit rides the completion tail of the returned
    * iterator (honored by the stateful operator's completion callback).
    * Contracts: (1) bars must arrive in non-decreasing event-time order
    * across batches for a symbol (in-order source or upstream
    * watermark+sort); (2) the consumer must DRAIN each group's output
    * fully — every built-in streaming sink does — because a
    * short-circuiting consumer (a limit/take inside foreachBatch) would
    * skip the commit tail and lose the batch's state update for the
    * cut-off groups. That is the price of O(open-positions) heap; the
    * eager alternative pays O(micro-batch group) memory per task.
    *
    * Since the streams share the batch walk: (1) state stores written by
    * the earlier tuple-list group state cannot be restored — a query
    * checkpointed by it must restart from a fresh checkpoint; (2) a group
    * accumulates the walk's RunStats, so a bar whose |mtm| reaches
    * ExactNum's 2^63-unit range (1e-9 units) fails with the same named
    * `ExactNum.units overflow` error that `MtmRunner.calculate` raises.
    */
  private def mtmStream[T: Encoder](
      bars: Dataset[StreamBar], cfg: PnlConfig, watermarkDelay: String, evictAfterMs: Long,
      timeline: Boolean)(row: UnsafeRow => T): Dataset[T] = {
    implicit val carryEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    val streaming = bars.isStreaming
    orderedBySymbolTime(bars, watermarkDelay)
      .flatMapGroupsWithState[Array[Byte], T](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (symbol, it, state: GroupState[Array[Byte]]) =>
          val rows = new ArrayBuffer[T]
          var carry: Array[Byte] = null
          val end = if (streaming && !state.hasTimedOut) RunEnd.Carry else RunEnd.Evicted
          val walk = new MtmEngine.Walk(cfg, tl = timeline, bl = !timeline, sm = false, end,
            new MtmEngine.Sink {
              def add(family: Family, r: UnsafeRow): Unit =
                if (family == Family.Carry) carry = r.getBinary(1) else rows += row(r)
            })
          state.getOption.foreach(walk.restore(symbol, _))
          def drained(): Iterator[T] =
            if (rows.isEmpty) Iterator.empty
            else { val out = rows.toList; rows.clear(); out.iterator }
          if (state.hasTimedOut) {
            // idle symbol: flush whatever is open, then drop the group
            walk.finish()
            state.remove()
            drained()
          } else {
            val stepped = it.flatMap { b =>
              // at-or-before the (ts_us, event_id) high-water mark:
              // cross-batch disorder the watermark cannot catch, or an
              // at-least-once source redelivering a bar. Stepping it
              // would accrue against the wrong previous close, double
              // fees and opens, and regress the eviction clock. Equal-ts
              // bars with FRESH event ids still step. Stream-only: batch
              // `calculate` steps every bar it is given.
              if (b.ts_us < walk.lastTsUs ||
                (b.ts_us == walk.lastTsUs && b.event_id <= walk.lastEventId)) Iterator.empty
              else {
                walk.step(symbol, b.ts_us, b.event_id, b.close, b.buy, b.sell)
                drained()
              }
            }
            // completion tail: runs after the last bar is consumed, before
            // the operator's completion callback persists the group state
            stepped ++ {
              walk.finish()
              if (streaming && carry != null) {
                state.update(carry)
                // evict once event time moves evictAfterMs past this
                // symbol's newest bar; clamp above the current watermark
                // (a lagging group may already be older than watermark -
                // evictAfter). floorDiv, not /: truncation rounds a
                // pre-1970 µs timestamp UP, anchoring eviction 1 ms late
                state.setTimeoutTimestamp(
                  math.max(Math.floorDiv(walk.lastTsUs, 1000L) + evictAfterMs,
                    state.getCurrentWatermarkMs() + 1))
              }
              drained()
            }
          }
      }
  }

  /** SURVEY #30: the timeline stream — see [[mtmStream]] for the
    * state/ordering/eviction contract and the known differences. The
    * walk records no closed trades: the timeline stream never reads the
    * blotter. An idle symbol's state is dropped after `evictAfterMs` of
    * event time (nothing to flush — points are emitted as bars arrive);
    * if it re-appears later it restarts from a flat book.
    */
  def mtmTimelineStream(
      bars: Dataset[StreamBar], cfg: PnlConfig,
      watermarkDelay: String = "2 hours",
      evictAfterMs: Long = DefaultEvictAfterMs): Dataset[StreamPoint] =
    mtmStream(bars, cfg, watermarkDelay, evictAfterMs, timeline = true)(
      r => StreamPoint(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(6)))(
      Encoders.product[StreamPoint])

  /** The trade-blotter twin of [[mtmTimelineStream]]: each micro-batch
    * emits the trades CLOSED by its bars (signal/ROI/stop-loss) as the
    * batch blotter's rows, bit for bit. Open positions are carried in the
    * group state and surface once closed — or force-closed as EVICTED
    * rows at the symbol's last bar when its state is dropped after
    * `evictAfterMs` of event-time idleness, the append-mode analogue of
    * the batch blotter's OPEN flush.
    */
  def mtmBlotterStream(
      bars: Dataset[StreamBar], cfg: PnlConfig,
      watermarkDelay: String = "2 hours",
      evictAfterMs: Long = DefaultEvictAfterMs): Dataset[StreamTrade] =
    mtmStream(bars, cfg, watermarkDelay, evictAfterMs, timeline = false)(r =>
      StreamTrade(r.getLong(0), r.getUTF8String(1).toString, r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getUTF8String(8).toString))(
      Encoders.product[StreamTrade])

  /** Streaming as-of join input: the tagged union the batch operator
    * ([[graft.operators.AsofJoin]]) builds internally, made explicit —
    * side 0 = right (the quoted/prevailing stream), side 1 = left (the
    * probing stream). Payload is (event_id, value), the same shape the
    * q_asof_join wiring carries.
    */
  final case class AsofIn(key: Long, ts_us: Long, side: Int, event_id: Long, value: Double)

  /** One emitted row per LEFT input row: the left payload plus the
    * prevailing right row's payload, None when no right row at-or-before
    * the left timestamp has been seen (the batch operator's NULLs).
    */
  final case class AsofMatch(
      key: Long, ts_us: Long, event_id: Long, value: Double,
      r_ts_us: Option[Long], r_event_id: Option[Long], r_value: Option[Double])

  /** ONE-row carry state per key — the streaming as-of join's entire
    * memory: the prevailing right row. `(r_ts_us, r_event_id)` doubles
    * as the right-side high-water mark and `(l_ts_us, l_event_id)` as
    * the left-side one — an at-least-once source redelivering a right
    * row must not regress the carry, and redelivering a LEFT row must
    * not re-emit its match into the append sink.
    */
  final case class AsofCarry(
      hasRight: Boolean, r_ts_us: Long, r_event_id: Long, r_value: Double,
      l_ts_us: Long, l_event_id: Long)

  /** SURVEY #32's streaming twin: the batch operator's prevailing-row
    * carry (`last(__r, ignoreNulls) over (order by ts, side)`) run
    * incrementally under `flatMapGroupsWithState` with ONE row of state
    * per key. Identical tie semantics: within a batch rows arrive
    * (ts_us, side, event_id)-sorted, so at equal ts the right row
    * updates the carry BEFORE the left row reads it (ties include
    * equality, as in `ON l.ts >= r.ts`).
    *
    * Contracts, mirroring [[mtmStream]]: (1) per-key in-order
    * arrival ACROSS batches (the watermark + per-batch sort orders
    * within a batch); rows at-or-under the carry's per-side
    * (ts_us, event_id) high-waters — cross-batch disorder or
    * at-least-once redelivery — are dropped: a stale right row must not
    * regress the carry, and a stale left row's match is either already
    * in the append-only sink (redelivery) or would answer against a
    * future carry (disorder), so neither re-emits.
    * (2) Idle keys are evicted after `evictAfterMs` of EVENT time —
    * state is one row per key, and eviction bounds the KEY set, the
    * axis that actually grows on a run-forever stream; a key
    * re-appearing later restarts with no prevailing row (the same
    * at-most-once-per-horizon tradeoff as [[corpusIngestStream]]'s
    * dedup state).
    */
  def asofJoinStream(
      rows: Dataset[AsofIn],
      watermarkDelay: String = "2 hours",
      evictAfterMs: Long = DefaultEvictAfterMs): Dataset[AsofMatch] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val streaming = rows.isStreaming
    val clustered = rows.toDF()
      .withColumn("et", timestamp_micros(col("ts_us")))
      .withWatermark("et", watermarkDelay)
      .repartition(col("key"))
    graft.plans.LocalSortHint(clustered, "key", "ts_us", "side", "event_id")
      .groupBy(col("key")).as[Long, AsofIn]
      .flatMapGroupsWithState[AsofCarry, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, it, state: GroupState[AsofCarry]) =>
          if (state.hasTimedOut) {
            // nothing to flush: every left row already answered on
            // arrival; dropping the carry only bounds the key set
            state.remove()
            Iterator.empty
          } else {
            var carry = state.getOption.getOrElse(AsofCarry(
              hasRight = false, Long.MinValue, Long.MinValue, 0.0,
              Long.MinValue, Long.MinValue))
            var lastTsUs = math.max(carry.r_ts_us, carry.l_ts_us)
            val matched = it.flatMap { row =>
              if (row.side == 0) {
                // right: advance the carry unless at-or-under the
                // high-water (redelivered or regressing right row)
                if (row.ts_us > carry.r_ts_us ||
                  (row.ts_us == carry.r_ts_us && row.event_id > carry.r_event_id)) {
                  carry = carry.copy(hasRight = true,
                    r_ts_us = row.ts_us, r_event_id = row.event_id, r_value = row.value)
                }
                lastTsUs = math.max(lastTsUs, row.ts_us)
                Iterator.empty
              } else if (row.ts_us < carry.l_ts_us ||
                (row.ts_us == carry.l_ts_us && row.event_id <= carry.l_event_id)) {
                // redelivered left row: its match is already in the
                // (append-only) sink — emitting again would duplicate it
                Iterator.empty
              } else {
                carry = carry.copy(l_ts_us = row.ts_us, l_event_id = row.event_id)
                lastTsUs = math.max(lastTsUs, row.ts_us)
                Iterator.single(AsofMatch(
                  row.key, row.ts_us, row.event_id, row.value,
                  if (carry.hasRight) Some(carry.r_ts_us) else None,
                  if (carry.hasRight) Some(carry.r_event_id) else None,
                  if (carry.hasRight) Some(carry.r_value) else None))
              }
            }
            matched ++ {
              if (streaming) {
                state.update(carry)
                state.setTimeoutTimestamp(
                  math.max(Math.floorDiv(lastTsUs, 1000L) + evictAfterMs,
                    state.getCurrentWatermarkMs() + 1))
              }
              Iterator.empty
            }
          }
      }
  }
}
