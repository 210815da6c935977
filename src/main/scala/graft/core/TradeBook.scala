package graft.core

import scala.collection.mutable.ArrayBuffer

/** One open position (entry-price-normalized bookkeeping). */
final case class OpenPos(entryUs: Long, entryPrice: Double, isLong: Boolean)

/** One finished (or flushed-open) trade for the blotter. */
final case class BookTrade(
    isLong: Boolean,
    entryUs: Long,
    entryPrice: Double,
    exitUs: Long,      // MinValue when still open
    exitPrice: Double, // NaN when still open
    reason: String,    // SIGNAL | ROI | STOP_LOSS | OPEN
    isClosed: Boolean
)

object BookTrade {
  /** Fee-included normalized pnl of a CLOSED trade — the reference's
    * `pnl_normalized` (models.py:60-91): ((±(exit−entry)) − fee·entry −
    * fee·entry)/entry. The ONE definition of this expression shape:
    * its one consumer, `MtmEngine.Walk` (which also serves the sliced
    * run and the MTM streams), and the oracles' mirrored SQL must stay
    * token-identical for bit-exact parity.
    */
  def closedPnlNorm(t: BookTrade, feeRate: Double): Double = {
    val fee = math.abs(feeRate)
    val raw = if (t.isLong) t.exitPrice - t.entryPrice else t.entryPrice - t.exitPrice
    (raw - fee * t.entryPrice - fee * t.entryPrice) / t.entryPrice
  }
}

/** Per-symbol trade bookkeeping state machine — the re-expression of the
  * reference's `TradeBookKeeperAgent.run_at_timestamp`
  * (reference: trade_reward.py:86-170), consumed as a streaming iterator
  * transform inside a Spark partition. State is O(open positions); one
  * instance never sees more than one symbol.
  *
  * Bar processing order (pinned in SURVEY.md §3):
  *  1. accrue normalized MTM for positions entered strictly before t,
  *  2. ROI take-profit closes (longs then shorts),
  *  3. stop-loss closes (longs then shorts),
  *  4. the bar's buy/sell signal (close-opposite-first, max-position
  *     gate checked before anything else),
  *  5. laid-back tax if flat after the bar's actions,
  *  6. bar mtm = accrual − fees charged this bar.
  *
  * Deviation from the reference (noted in SURVEY.md §3): close-scans
  * snapshot the live list instead of mutating it mid-iteration, and FIFO
  * selection is true insertion order.
  */
final class TradeBook(cfg: PnlConfig, trackTrades: Boolean = true) extends Serializable {
  // ROI ladder in (elapsed-seconds, threshold), ascending by elapsed.
  private val roiLadder: Array[(Long, Double)] =
    cfg.roi.toArray.map { case (m, v) => (m * 60L, v) }.sortBy(_._1)

  private val longs = new ArrayBuffer[OpenPos]
  private val shorts = new ArrayBuffer[OpenPos]
  private val drained = new ArrayBuffer[BookTrade]

  /** Smallest ROI threshold already in effect after `elapsedSec` holding
    * time (reference helper.py:34-68: thresholds with key ≤ elapsed;
    * close if pnl strictly exceeds any ⇔ exceeds the minimum).
    */
  private def minActiveRoi(elapsedSec: Long): Double = {
    var best = Double.PositiveInfinity
    var i = 0
    while (i < roiLadder.length && roiLadder(i)._1 <= elapsedSec) {
      if (roiLadder(i)._2 < best) best = roiLadder(i)._2
      i += 1
    }
    best
  }

  private def pnlNorm(p: OpenPos, price: Double): Double = {
    val raw = if (p.isLong) price - p.entryPrice else p.entryPrice - price
    raw / p.entryPrice
  }

  /** Closes a position; the blotter record is kept only when the caller
    * consumes trades (`trackTrades`) — timeline-only runs would otherwise
    * accumulate every closed trade of a symbol run in memory, breaking
    * the O(open positions) state bound on signal-dense mega-symbols.
    */
  private def close(list: ArrayBuffer[OpenPos], idx: Int, price: Double, tsUs: Long, reason: String): Unit = {
    val p = list.remove(idx)
    if (trackTrades)
      drained += BookTrade(p.isLong, p.entryUs, p.entryPrice, tsUs, price, reason, isClosed = true)
  }

  /** Index of the position a SIGNAL close should take, per the
    * configured [[InventoryMode]] (reference `_get_trade_to_close`,
    * trade_reward.py:380-411). `isLongSide` flips WORST_PRICE's sense:
    * a long's worst entry is the highest price, a short's the lowest.
    * First occurrence wins ties — the stable-sort-then-pop(0) behavior.
    * ROI/stop-loss scans are NOT routed here: the reference iterates the
    * whole list for those, so inventory mode only affects signal closes.
    */
  private def closeIdx(list: ArrayBuffer[OpenPos], isLongSide: Boolean): Int =
    cfg.inventoryMode match {
      case InventoryMode.Fifo => 0
      case InventoryMode.Lifo =>
        var best = 0; var i = 1
        while (i < list.length) { if (list(i).entryUs > list(best).entryUs) best = i; i += 1 }
        best
      case InventoryMode.WorstPrice =>
        var best = 0; var i = 1
        while (i < list.length) {
          val p = list(i).entryPrice
          if (if (isLongSide) p > list(best).entryPrice else p < list(best).entryPrice) best = i
          i += 1
        }
        best
    }

  /** Scan a side for ROI / stop-loss closes; returns the fee charged.
    * The scan mutates the LIVE buffer in place (remove-without-increment
    * on a close keeps the cursor valid) — correct because each close
    * decision depends only on its own position, never on the list. If a
    * future rule inspects the list (e.g. inventory-aware ROI), snapshot
    * it first.
    */
  private def scanCloses(list: ArrayBuffer[OpenPos], price: Double, tsUs: Long): Double = {
    var fee = 0.0
    var i = 0
    while (i < list.length) {
      val p = list(i)
      val pnl = pnlNorm(p, price)
      val elapsed = (tsUs - p.entryUs) / 1000000L
      if (pnl > minActiveRoi(elapsed)) {
        close(list, i, price, tsUs, "ROI"); fee += math.abs(cfg.feeRate)
      } else if (pnl < -math.abs(cfg.stoploss)) {
        close(list, i, price, tsUs, "STOP_LOSS"); fee += math.abs(cfg.feeRate)
      } else i += 1
    }
    fee
  }

  /** Process one bar; returns the bar's final mtm (accrual − fees). */
  def step(tsUs: Long, price: Double, priceDiff: Double, buy: Boolean, sell: Boolean): Double = {
    var fee = 0.0
    // 1. MTM accrual: positions entered strictly before this bar.
    var mtm = 0.0
    if (!priceDiff.isNaN) {
      var i = 0
      while (i < longs.length) {
        val p = longs(i); if (p.entryUs < tsUs) mtm += priceDiff / p.entryPrice; i += 1
      }
      i = 0
      while (i < shorts.length) {
        val p = shorts(i); if (p.entryUs < tsUs) mtm -= priceDiff / p.entryPrice; i += 1
      }
    }
    // 2+3. ROI and stop-loss closes (longs then shorts).
    fee += scanCloses(longs, price, tsUs)
    fee += scanCloses(shorts, price, tsUs)
    // 4. Signal.
    if (buy) {
      if (longs.length < cfg.maxPositionPerSymbol) {
        if (shorts.nonEmpty) {
          close(shorts, closeIdx(shorts, isLongSide = false), price, tsUs, "SIGNAL")
          fee += math.abs(cfg.feeRate)
        } else {
          longs += OpenPos(tsUs, price, isLong = true); fee += math.abs(cfg.feeRate)
        }
      }
    } else if (sell) {
      if (shorts.length < cfg.maxPositionPerSymbol) {
        if (longs.nonEmpty) {
          close(longs, closeIdx(longs, isLongSide = true), price, tsUs, "SIGNAL")
          fee += math.abs(cfg.feeRate)
        } else if (cfg.enableShortPosition) {
          shorts += OpenPos(tsUs, price, isLong = false); fee += math.abs(cfg.feeRate)
        }
      }
    }
    // 5. Laid-back tax when flat after the bar's actions.
    if (longs.isEmpty && shorts.isEmpty) fee += math.abs(cfg.laidBackTax)
    // 6.
    mtm - fee
  }

  /** Trades closed (or flushed) since the last call; call after step(s). */
  def drainTrades(): IndexedSeq[BookTrade] = {
    val out = drained.toIndexedSeq
    drained.clear()
    out
  }

  /** Emit still-open positions as OPEN blotter rows (end-of-symbol flush). */
  def flushOpen(): IndexedSeq[BookTrade] = {
    val out = (longs.iterator ++ shorts.iterator).map { p =>
      BookTrade(p.isLong, p.entryUs, p.entryPrice, Long.MinValue, Double.NaN, "OPEN", isClosed = false)
    }.toIndexedSeq
    longs.clear(); shorts.clear()
    out
  }

  def openCount: Int = longs.length + shorts.length

  /** Current open positions (longs, shorts) — for `MtmEngine.Walk`'s
    * carry, which checkpoints the book across slices and streaming
    * micro-batches.
    */
  def snapshotOpen(): (Seq[OpenPos], Seq[OpenPos]) = (longs.toSeq, shorts.toSeq)

  /** Restore open positions saved by [[snapshotOpen]] (insertion order
    * preserved so FIFO selection is unchanged), when `MtmEngine.Walk`
    * restores a carry. Only valid on a fresh book.
    */
  def restoreOpen(openLongs: Seq[OpenPos], openShorts: Seq[OpenPos]): Unit = {
    require(longs.isEmpty && shorts.isEmpty && drained.isEmpty, "restore requires a fresh book")
    longs ++= openLongs
    shorts ++= openShorts
  }
}
