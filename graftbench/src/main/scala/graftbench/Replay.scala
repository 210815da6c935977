package graftbench

import graft.core.{PnlConfig, TradeBook}

/** Single-thread replay of generated bars through [[TradeBook]] outside
  * Spark: the reference the MTM checks compare against, and the core
  * layer's throughput baseline.
  *
  * It follows the engine's per-symbol walk: a fresh book per symbol,
  * the price diff from the previous bar (NaN on the first), closed
  * trades drained every bar and open positions flushed at the end. The
  * pnl is the summary's exact sum: floor(mtm·1e9 + 0.5) units.
  */
object Replay {

  /** Generated bars held column-wise, so the timed loop reads memory. */
  final class Bars(val symbol: Array[Long], val ts: Array[Long], val close: Array[Double],
      val buy: Array[Boolean], val sell: Array[Boolean]) {
    def length: Int = ts.length
  }

  def materialize(bars: Iterator[Gen.Bar]): Bars = {
    val v = bars.toVector
    new Bars(v.map(_.symbol).toArray, v.map(_.tsUs).toArray, v.map(_.close).toArray,
      v.map(_.buy).toArray, v.map(_.sell).toArray)
  }

  final case class SymbolRef(pnlUnits: Long, closedTrades: Long, signal: Long, roi: Long, stoploss: Long) {
    def pnl: Double = pnlUnits.toDouble / 1e9
  }

  final case class Result(bySymbol: Map[Long, SymbolRef], bars: Long, ns: Long) {
    def closes(reason: String): Long = bySymbol.valuesIterator.map { r =>
      reason match {
        case "SIGNAL" => r.signal
        case "ROI" => r.roi
        case "STOP_LOSS" => r.stoploss
      }
    }.sum
    def barsPerS: Double = bars / (ns / 1e9)
  }

  def run(b: Bars, cfg: PnlConfig): Result = {
    val out = Map.newBuilder[Long, SymbolRef]
    var book: TradeBook = null
    var symbol = Long.MinValue
    var prevClose = Double.NaN
    var units, closed, sig, roi, sl = 0L
    def finish(): Unit = if (book != null) {
      book.flushOpen()
      out += symbol -> SymbolRef(units, closed, sig, roi, sl)
    }
    val t0 = System.nanoTime()
    var i = 0
    while (i < b.length) {
      if (book == null || b.symbol(i) != symbol) {
        finish()
        book = new TradeBook(cfg); symbol = b.symbol(i); prevClose = Double.NaN
        units = 0L; closed = 0L; sig = 0L; roi = 0L; sl = 0L
      }
      val diff = if (prevClose.isNaN) Double.NaN else b.close(i) - prevClose
      prevClose = b.close(i)
      val mtm = book.step(b.ts(i), b.close(i), diff, b.buy(i), b.sell(i))
      units += math.floor(mtm * 1e9 + 0.5).toLong
      book.drainTrades().foreach { t =>
        closed += 1
        t.reason match {
          case "SIGNAL" => sig += 1
          case "ROI" => roi += 1
          case "STOP_LOSS" => sl += 1
          case other => throw new IllegalStateException(s"unexpected close reason $other")
        }
      }
      i += 1
    }
    finish()
    Result(out.result(), b.length.toLong, System.nanoTime() - t0)
  }
}
