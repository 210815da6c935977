package graft.operators

import graft.core.{BookTrade, OpenPos, PnlConfig, TradeBook}
import graft.plans.MtmPass
import java.nio.ByteBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.classic.GraftInternal
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distributed mark-to-market engine — the Spark-native re-expression of
  * the reference's `Trade_Mtm_Runner.calculate` → `Mtm_Result` pipeline
  * (reference: runner_mtm.py:71-205, trade_reward.py:81-170).
  *
  * Plan shape (SURVEY.md §4): canonical bars → [[graft.plans.MtmPass]],
  * a row-level node that runs the [[graft.core.TradeBook]] state machine
  * per symbol-run over the sorted InternalRows and packs the UnsafeRows
  * it writes into pages ([[passPartition]]). Every batch surface is
  * this one node: the lazy ones emit one family's rows read back out of
  * the pages, `MtmRunner.calculate` stores the pages ([[Emit]]). Its
  * physical node requires its input clustered by symbol and sorted by
  * [[RunOrder]], so the planner adds `hashpartitioning(symbol)` and a
  * partition-local sort, and drops the exchange over a symbol-bucketed
  * scan. ONE shuffle at most;
  * parallelism = #symbols spread by hash; per-task state is O(open
  * positions) plus at most one page ([[PageBytes]]) per family in
  * flight, and rows stream through an iterator, so a skewed
  * mega-symbol is wall-clock-bound but never OOMs. At 100 TB the symbol
  * count vastly exceeds core count, so the hash spread stays even.
  *
  * Derived outputs come from the same walk, as in the reference's own
  * loop (runner_mtm.py:144-176): each symbol run keeps a [[RunStats]]
  * accumulator that writes the cumulative `pnl_ratio` on every timeline
  * row and ends the run with one summary row. The summary's derived
  * columns — win rate, average holding seconds, Sharpe with its σ = 0
  * sentinel, its span-0 IEEE branch and its 4-dp floor rounding — are
  * computed in Scala with the same IEEE operations in the same order as
  * the SQL expressions they replace (and the DuckDB oracle mirrors), so
  * every value is bit-identical to them.
  *
  * Numeric discipline: per-bar mtm is pure double arithmetic (replicated
  * bit-for-bit by the DuckDB oracle); every cumulative/aggregated series
  * (pnl_ratio, drawdown, pnl, sharpe's sum) quantizes each row to exact
  * 1e-9 units with [[ExactNum.unitsOf]] (floor(x·1e9 + 0.5), the named
  * overflow error at 2^63) and sums them in an [[ExactNum.UnitSum]], a
  * 128-bit count that carries past Long range instead of wrapping; each
  * value converts to double once, at the end. Results are
  * exact, independent of partitioning, AND engine-agnostic — the oracle
  * replays them with DECIMAL sums — the properties that keep 100 TB runs
  * reproducible. Sharpe's σ is Spark's `stddev_pop` update (Welford,
  * `CentralMomentAgg`) applied in bar order.
  *
  * Storage ([[combinedRun]], behind `MtmRunner.calculate`): the walk runs
  * once and its pages of every family are stored, as the node emits
  * them, with an EAGER local checkpoint.
  * Eager because the three frames are read by separate actions, and one
  * job reading two of them (a join, a union) would otherwise have two
  * unordered map stages race the block store, each loser re-running the
  * whole engine pass (the r16 lazy-checkpoint audit). Each frame reads
  * only its own family's pages through one reused UnsafeRow.
  */
object MtmEngine {

  /** events → canonical bar view (SURVEY §2): user_id plays the symbol,
    * value the close price, purchase/click the buy/sell signals; every
    * event row is a bar (non-signal types are hold bars). Contract: a
    * bar requires a POSITIVE close price — every engine output is
    * normalized by an entry price, so a zero/negative close would put
    * IEEE ±inf/NaN into the pnl algebra (and SQL engines disagree with
    * IEEE on x/0). Non-positive-price events are excluded here and in
    * every oracle's bar CTE, symmetrically.
    */
  def barsFromEvents(events: DataFrame): DataFrame =
    events.filter(col("value") > 0).select(
      col("user_id").as("symbol"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id"),
      col("value").as("close"),
      when(col("event_type") === "purchase", 1).otherwise(0).as("buy"),
      when(col("event_type") === "click", 1).otherwise(0).as("sell"))

  /** The bar columns in the order the walk reads them: symbol, ts_us,
    * event_id (long), close (double), buy, sell (int).
    */
  private def barColumns(bars: DataFrame): DataFrame =
    bars.select(
      col("symbol").cast("long"), col("ts_us").cast("long"),
      col("event_id").cast("long"), col("close").cast("double"),
      col("buy").cast("int"), col("sell").cast("int"))

  /** The walk's input layout: each symbol's rows in one partition,
    * ordered totally by these columns within it. [[graft.plans.MtmPassExec]]
    * requires it of its child, so the planner adds the exchange and
    * the sort, or elides the exchange over a scan already clustered by
    * symbol (BucketedTables.bars). The MTM streams sort their
    * micro-batch groups in it too.
    */
  private[graft] val RunOrder: Seq[String] = Seq("symbol", "ts_us", "event_id")

  /** One output family of the pass, with its public schema. Timestamps
    * are TIMESTAMP columns, whose row form is the µs long the walk
    * writes.
    */
  private[graft] sealed abstract class Family(val id: Int, val schema: StructType)
      extends Serializable

  private[graft] object Family {
    private def field(name: String, t: DataType, nullable: Boolean = false) =
      StructField(name, t, nullable)

    /** (symbol, ts, event_id, close, buy, sell, mtm_ratio, pnl_ratio). */
    case object Timeline extends Family(0, StructType(Seq(
      field("symbol", LongType), field("ts", TimestampType), field("event_id", LongType),
      field("close", DoubleType), field("buy", IntegerType), field("sell", IntegerType),
      field("mtm_ratio", DoubleType), field("pnl_ratio", DoubleType))))

    /** (symbol, direction, entry_ts, entry_price, exit_ts, exit_price,
      * pnl_norm, pnl, close_reason, is_closed); the exit columns are
      * null on an OPEN row.
      */
    case object Blotter extends Family(1, StructType(Seq(
      field("symbol", LongType), field("direction", StringType, nullable = true),
      field("entry_ts", TimestampType), field("entry_price", DoubleType),
      field("exit_ts", TimestampType, nullable = true),
      field("exit_price", DoubleType, nullable = true),
      field("pnl_norm", DoubleType, nullable = true), field("pnl", DoubleType, nullable = true),
      field("close_reason", StringType, nullable = true), field("is_closed", BooleanType))))

    /** (symbol, pnl, n_trades, win_rate, avg_holding_secs, max_drawdown,
      * sharpe_ratio); the rate and the holding time are null for a
      * symbol with no closed trade.
      */
    case object Summary extends Family(2, StructType(
      field("symbol", LongType) +:
        Seq("pnl" -> DoubleType, "n_trades" -> LongType, "win_rate" -> DoubleType,
          "avg_holding_secs" -> DoubleType, "max_drawdown" -> DoubleType,
          "sharpe_ratio" -> DoubleType).map { case (n, t) => field(n, t, nullable = true) }))

    /** (symbol, carry): one symbol run's state where the run stops
      * without ending — at a slice boundary, written by the walk of a
      * non-final slice ([[runSliced]]), and after a micro-batch, where
      * the bytes are the MTM streams' per-symbol group state
      * ([[graft.streaming.StreamingJobs]]).
      */
    case object Carry extends Family(3, StructType(Seq(
      field("symbol", LongType), field("carry", BinaryType))))
  }

  /** One symbol run's summary row — see [[RunStats]]. */
  private[graft] final case class SymbolSummary(
      pnl: Double, max_drawdown: Double, sum_x: Double, span_ms: Double, sigma: Double,
      n_trades: Long, n_wins: Long, hold_us: Long)

  /** The derived outputs of one symbol run, accumulated in bar order:
    *  - the cumulative pnl in exact 1e-9 units (`pnl_ratio` per bar,
    *    `pnl` at the end; trade_reward.py:413-421);
    *  - the running peak floored at 0 and the max drawdown
    *    max(peak − cum) (runner_mtm.py:144,168-172);
    *  - Sharpe's inputs (trade_reward.py:423-450): Σ(mtm − 1e-6) in
    *    units, Welford n/mean/M2 of the same values with Spark's
    *    `CentralMomentAgg` update (so σ is `stddev_pop` over the bars in
    *    order), and the first and last floor-ms;
    *  - the closed-trade count, wins and holding µs.
    */
  private final class RunStats(feeRate: Double) {
    // `gap` is scratch: every other field is carried across a slice cut
    private val cum = new ExactNum.UnitSum
    private val peak = new ExactNum.UnitSum
    private val gap = new ExactNum.UnitSum
    private val maxDd = new ExactNum.UnitSum
    private val sumX = new ExactNum.UnitSum
    private var n = 0.0
    private var mean = 0.0
    private var m2 = 0.0
    private var firstMs = 0L
    private var lastMs = 0L
    private var nTrades = 0L
    private var nWins = 0L
    private var holdUs = 0L

    def bar(tsUs: Long, mtm: Double): Unit = {
      cum.add(ExactNum.unitsOf(mtm, 1e9))
      if (cum.compare(peak) > 0) peak.set(cum)
      gap.setDiff(peak, cum)
      if (gap.compare(maxDd) > 0) maxDd.set(gap)
      val x = mtm - 0.000001
      sumX.add(ExactNum.unitsOf(x, 1e9))
      val newN = n + 1.0
      val delta = x - mean
      val deltaN = delta / newN
      mean = mean + deltaN
      m2 = m2 + delta * (delta - deltaN)
      // FLOOR division to ms (not truncation): the DuckDB oracle's
      // epoch_ms floors, so a pre-1970 bar off a ms boundary would
      // otherwise land 1 ms apart — same hazard Tables.events corrects
      val ms = Math.floorDiv(tsUs, 1000L)
      if (n == 0.0) firstMs = ms
      lastMs = ms
      n = newN
    }

    /** A closed trade of this run. */
    def trade(t: BookTrade): Unit = {
      nTrades += 1
      // SQL's `pnl_norm > 0.0` orders NaN above every number
      val p = BookTrade.closedPnlNorm(t, feeRate)
      if (p > 0.0 || p.isNaN) nWins += 1
      holdUs += t.exitUs - t.entryUs
    }

    def pnlRatio: Double = cum.toDouble(1e9)

    /** Writes the carried fields ([[RunStats.CarryBytes]]). */
    def save(b: ByteBuffer): Unit = {
      Seq(cum, peak, maxDd, sumX).foreach(_.save(b))
      b.putDouble(n).putDouble(mean).putDouble(m2).putLong(firstMs).putLong(lastMs)
        .putLong(nTrades).putLong(nWins).putLong(holdUs)
    }

    /** Reads what [[save]] wrote. */
    def restore(b: ByteBuffer): Unit = {
      Seq(cum, peak, maxDd, sumX).foreach(_.restore(b))
      n = b.getDouble; mean = b.getDouble; m2 = b.getDouble; firstMs = b.getLong; lastMs = b.getLong
      nTrades = b.getLong; nWins = b.getLong; holdUs = b.getLong
    }

    def summary: SymbolSummary = SymbolSummary(
      pnl = cum.toDouble(1e9), max_drawdown = maxDd.toDouble(1e9),
      sum_x = sumX.toDouble(1e9), span_ms = (lastMs - firstMs).toDouble,
      sigma = math.sqrt(m2 / n), n_trades = nTrades, n_wins = nWins, hold_us = holdUs)
  }

  private object RunStats {
    /** Four 128-bit sums, three doubles and five longs. */
    val CarryBytes: Int = 4 * 16 + 3 * 8 + 5 * 8
  }

  /** SURVEY #7: per-symbol Sharpe, reference formula
    * (trade_reward.py:423-450): ms-resolution period, slippage 1e-6,
    * population std, √(365·24) annualization, −1e50 when σ = 0. The
    * final 4-dp rounding is floor(x·1e4 + 0.5)/1e4 through a Long, as
    * Spark's `floor(double)` — `round()` would reintroduce the
    * engine-specific tie semantics the unit scheme exists to avoid.
    */
  private def sharpe(s: SymbolSummary): Double =
    if (s.sigma == 0.0) -1e50
    else {
      // span_ms = 0 (every bar of a symbol inside ONE millisecond, with
      // price movement so σ > 0) yields the IEEE result DuckDB's double
      // division produces — ±inf by the sign of sum_x, NaN at 0/0.
      // Found by the degenerate-bar probe, pinned in MtmEngineSpec. σ > 0
      // here, so dividing by it never flips the sign.
      val raw =
        if (s.span_ms != 0.0)
          s.sum_x / (s.span_ms / 1000.0 / 3600.0) / s.sigma * math.sqrt(8760.0)
        else if (s.sum_x > 0.0) Double.PositiveInfinity
        else if (s.sum_x < 0.0) Double.NegativeInfinity
        else Double.NaN
      // finite guard: a non-finite raw passes through unrounded, as on
      // the DuckDB side (abs(NaN) < k is false in both)
      if (math.abs(raw) < 1e14) math.floor(raw * 1e4 + 0.5).toLong.toDouble / 1e4
      else raw
    }

  /** Where the walk's rows go: `row` is reused by the walk, so a sink
    * copies what it keeps before returning.
    */
  private[graft] trait Sink {
    def add(family: Family, row: UnsafeRow): Unit
  }

  /** How the walk ends a symbol run: `Open` flushes open positions as
    * OPEN blotter rows and writes the summary row (`calculate`, the last
    * slice); `Carry` writes one [[Family.Carry]] row (a non-final slice,
    * a live stream's micro-batch); `Evicted` closes open positions as
    * EVICTED blotter rows at the run's last bar (ts, close) — a stream's
    * timed-out group, or a stream job run on a batch Dataset.
    */
  private[graft] sealed trait RunEnd

  private[graft] object RunEnd {
    case object Open extends RunEnd
    case object Carry extends RunEnd
    case object Evicted extends RunEnd
  }

  private val LongDir = UTF8String.fromString("LONG")
  private val ShortDir = UTF8String.fromString("SHORT")
  private val Reasons =
    Seq("SIGNAL", "ROI", "STOP_LOSS", "EVICTED").map(r => r -> UTF8String.fromString(r)).toMap

  /** The engine walk over one partition of sorted bar rows: a fresh
    * TradeBook and [[RunStats]] per symbol run, price_diff from the
    * previous bar in-stream (the partition is already symbol-ordered),
    * and each wanted family's rows written through a reused
    * UnsafeRowWriter into `out` — a timeline row per bar, a blotter row
    * per closed trade, and the rows of `end` when a run ends
    * ([[RunEnd]]). A carry read by [[row]] or [[restore]] starts its
    * symbol run where the carry's run stopped. The MTM streams drive one
    * walk per micro-batch group through [[step]].
    */
  private[graft] final class Walk(
      cfg: PnlConfig, tl: Boolean, bl: Boolean, sm: Boolean, end: RunEnd, out: Sink) {
    private val tlRow = new UnsafeRowWriter(Family.Timeline.schema.length)
    private val blRow = new UnsafeRowWriter(Family.Blotter.schema.length, 32)
    private val smRow = new UnsafeRowWriter(Family.Summary.schema.length)
    private val cyRow = new UnsafeRowWriter(Family.Carry.schema.length, 256)
    // closed trades are recorded only for a consumer: a timeline-only
    // walk keeps O(open positions) state on signal-dense mega-symbols
    private val trades = bl || sm
    private var book: TradeBook = null
    private var stats: RunStats = null
    private var symbol = 0L
    private var prevClose = Double.NaN
    private var markTs = Long.MinValue
    private var markEvent = Long.MinValue

    /** The run's high-water mark: its newest bar's (ts_us, event_id),
      * Long.MinValue before any.
      */
    def lastTsUs: Long = markTs
    def lastEventId: Long = markEvent

    /** One sorted input row: a carry (its 7th column, `carry`, set) or a
      * bar.
      */
    def row(r: InternalRow): Unit =
      if (r.numFields > 6 && !r.isNullAt(6)) restore(r.getLong(0), r.getBinary(6)) else bar(r)

    private def bar(r: InternalRow): Unit = {
      if (r.anyNull && nullBar(r))
        throw new NullPointerException(
          "MtmEngine: a bar has a null symbol, ts_us, event_id, close, buy or sell")
      step(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4), r.getInt(5))
    }

    /** One bar; a new `sym` ends the current run and starts its own. */
    def step(sym: Long, ts: Long, eventId: Long, close: Double, buy: Int, sell: Int): Unit = {
      if (book == null || sym != symbol) startRun(sym)
      val diff = if (prevClose.isNaN) Double.NaN else close - prevClose
      prevClose = close
      markTs = ts; markEvent = eventId
      val mtm = book.step(ts, close, diff, buy == 1, sell == 1)
      stats.bar(ts, mtm)
      if (tl) {
        tlRow.reset()
        tlRow.write(0, sym); tlRow.write(1, ts); tlRow.write(2, eventId)
        tlRow.write(3, close); tlRow.write(4, buy); tlRow.write(5, sell)
        tlRow.write(6, mtm); tlRow.write(7, stats.pnlRatio)
        out.add(Family.Timeline, tlRow.getRow)
      }
      if (trades) {
        val closed = book.drainTrades()
        var i = 0
        while (i < closed.length) {
          stats.trade(closed(i))
          if (bl) out.add(Family.Blotter, blotterRow(closed(i)))
          i += 1
        }
      }
    }

    /** Whether one of the six bar columns is null. */
    private def nullBar(r: InternalRow): Boolean = {
      var i = 0
      while (i < 6 && !r.isNullAt(i)) i += 1
      i < 6
    }

    /** Ends the partition's last run. */
    def finish(): Unit = { endRun(); book = null }

    private def startRun(sym: Long): Unit = {
      endRun()
      book = new TradeBook(cfg, trades); stats = new RunStats(cfg.feeRate)
      symbol = sym; prevClose = Double.NaN; markTs = Long.MinValue; markEvent = Long.MinValue
    }

    private def endRun(): Unit = if (book != null) end match {
      case RunEnd.Carry => out.add(Family.Carry, carryRow())
      case RunEnd.Open =>
        if (bl) book.flushOpen().foreach(t => out.add(Family.Blotter, blotterRow(t)))
        if (sm) out.add(Family.Summary, summaryRow(stats.summary))
      case RunEnd.Evicted =>
        if (bl) book.flushOpen().foreach(t => out.add(Family.Blotter, blotterRow(
          t.copy(exitUs = markTs, exitPrice = prevClose, reason = "EVICTED", isClosed = true))))
    }

    /** The run's state: the previous close, the high-water (ts_us,
      * event_id), the open longs and shorts as (entryUs, entryPrice) in
      * insertion order, then the [[RunStats]].
      */
    private def carryRow(): UnsafeRow = {
      val (longs, shorts) = book.snapshotOpen()
      val b = ByteBuffer.allocate(32 + 16 * (longs.size + shorts.size) + RunStats.CarryBytes)
      b.putDouble(prevClose).putLong(markTs).putLong(markEvent)
      for (side <- Seq(longs, shorts)) {
        b.putInt(side.size)
        side.foreach(p => b.putLong(p.entryUs).putDouble(p.entryPrice))
      }
      stats.save(b)
      cyRow.reset()
      cyRow.write(0, symbol); cyRow.write(1, b.array)
      cyRow.getRow
    }

    /** Starts `sym`'s run from a [[carryRow]]'s bytes. */
    def restore(sym: Long, carry: Array[Byte]): Unit = {
      startRun(sym)
      val b = ByteBuffer.wrap(carry)
      prevClose = b.getDouble; markTs = b.getLong; markEvent = b.getLong
      def side(isLong: Boolean) = Seq.fill(b.getInt)(OpenPos(b.getLong, b.getDouble, isLong))
      book.restoreOpen(side(isLong = true), side(isLong = false))
      stats.restore(b)
    }

    /** pnl_norm is the reference's fee-included `pnl_normalized`
      * (models.py:60-91); `pnl` the raw pnl derived from it — see
      * [[MtmEngine.blotterQuery]].
      */
    private def blotterRow(t: BookTrade): UnsafeRow = {
      blRow.reset(); blRow.zeroOutNullBytes()
      blRow.write(0, symbol)
      blRow.write(1, if (t.isLong) LongDir else ShortDir)
      blRow.write(2, t.entryUs); blRow.write(3, t.entryPrice)
      if (t.isClosed) {
        val pnl = BookTrade.closedPnlNorm(t, cfg.feeRate)
        blRow.write(4, t.exitUs); blRow.write(5, t.exitPrice)
        blRow.write(6, pnl); blRow.write(7, pnl * t.entryPrice)
        blRow.write(8, Reasons(t.reason))
      } else (4 to 8).foreach(blRow.setNullAt)
      blRow.write(9, t.isClosed)
      blRow.getRow
    }

    private def summaryRow(s: SymbolSummary): UnsafeRow = {
      smRow.reset(); smRow.zeroOutNullBytes()
      smRow.write(0, symbol); smRow.write(1, s.pnl); smRow.write(2, s.n_trades)
      if (s.n_trades > 0) {
        val n = s.n_trades.toDouble
        smRow.write(3, s.n_wins.toDouble / n)
        smRow.write(4, s.hold_us.toDouble / n / 1000000.0)
      } else { smRow.setNullAt(3); smRow.setNullAt(4) }
      smRow.write(5, s.max_drawdown)
      smRow.write(6, sharpe(s))
      smRow.getRow
    }
  }

  /** `family`'s length-prefixed UnsafeRows back to back in one growable
    * byte array.
    */
  private final class PageBuilder(family: Family) {
    private var bytes = new Array[Byte](4096)
    var size = 0

    def add(row: UnsafeRow): Unit = {
      val n = row.getSizeInBytes
      if (size + 4 + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(2 * bytes.length, size + 4 + n))
      Platform.putInt(bytes, Platform.BYTE_ARRAY_OFFSET + size, n)
      row.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + size + 4)
      size += 4 + n
    }

    /** The page as a `(family, page)` row; the builder starts empty. */
    def take(): InternalRow = {
      val page = new GenericInternalRow(Array[Any](family.id, java.util.Arrays.copyOf(bytes, size)))
      size = 0
      page
    }
  }

  /** Size at which a page is cut. */
  private val PageBytes = 4 << 20

  /** What a [[graft.plans.MtmPass]] emits; each surface fixes its own. */
  private[graft] sealed abstract class Emit(val schema: StructType) extends Serializable

  private[graft] object Emit {
    /** One family's rows in its public schema; runs end with [[RunEnd.Open]]. */
    final case class Rows(family: Family) extends Emit(family.schema)

    /** Every family's pages as `(family, page)` rows; runs end with `end`.
      * The rows are not UnsafeRows, so a page leaves the node uncopied:
      * they are for storing ([[combinedRun]]), not for a shuffle.
      */
    final case class Pages(end: RunEnd) extends Emit(StructType(Seq(
      StructField("family", IntegerType, nullable = false),
      StructField("page", BinaryType, nullable = false))))
  }

  /** The pass over one partition of sorted input rows, as `emit` says
    * ([[graft.plans.MtmPassExec]]): the walk steps each row and packs
    * the wanted families into pages, each cut before it passes
    * [[PageBytes]] and emitted as a `(family, page)` row once full or
    * when the input ends. [[Emit.Rows]] reads its family back out of
    * those pages.
    */
  private[graft] def passPartition(cfg: PnlConfig, emit: Emit)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val (family, end) = emit match {
      case Emit.Rows(f) => (Some(f), RunEnd.Open)
      case Emit.Pages(e) => (None, e)
    }
    def wants(f: Family) = family.forall(_ == f)
    val pages: Iterator[InternalRow] = new Iterator[InternalRow] {
      private val full = scala.collection.mutable.Queue.empty[InternalRow]
      private val open = // indexed by family id
        Array(Family.Timeline, Family.Blotter, Family.Summary, Family.Carry).map(new PageBuilder(_))
      private val walk = new Walk(cfg, wants(Family.Timeline), wants(Family.Blotter),
        wants(Family.Summary), end, new Sink {
          def add(family: Family, row: UnsafeRow): Unit = {
            val b = open(family.id)
            if (b.size > 0 && b.size + 4 + row.getSizeInBytes > PageBytes) full += b.take()
            b.add(row)
          }
        })
      private var done = false

      def hasNext: Boolean = {
        while (full.isEmpty && !done) {
          if (rows.hasNext) walk.row(rows.next())
          else {
            walk.finish()
            for (b <- open if b.size > 0) full += b.take()
            done = true
          }
        }
        full.nonEmpty
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        full.dequeue()
      }
    }
    family.fold(pages)(read(_)(pages))
  }

  /** `family`'s rows out of `(family, page)` rows, through one reused
    * UnsafeRow.
    */
  private def read(family: Family)(pages: Iterator[InternalRow]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var bytes = Array.emptyByteArray
      private var pos = 0
      private val row = new UnsafeRow(family.schema.length)

      def hasNext: Boolean = {
        while (pos == bytes.length && pages.hasNext) {
          val p = pages.next()
          if (p.getInt(0) == family.id) { bytes = p.getBinary(1); pos = 0 }
        }
        pos < bytes.length
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val n = Platform.getInt(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + pos + 4, n)
        pos += 4 + n
        row
      }
    }

  /** ALL output families from ONE engine pass, stored: at most one
    * shuffle, one sort, one walk, materialized once as per-family pages; the returned
    * (timeline, blotter, summary) frames each read their own family's
    * pages, with the public schemas of [[timelineQuery]],
    * [[blotterQuery]] and the summary surfaces. Consumers that need more
    * than one family (MtmRunner.calculate) would otherwise pay the
    * exchange+sort+walk per family.
    *
    * With `cutsUs`, slice i covers [cutsUs(i-1), cutsUs(i)) and is the
    * same stored pass over its bars plus slice i−1's [[Family.Carry]]
    * rows, which take ts_us = Long.MinValue so that each sorts first in
    * its symbol run; every slice but the last ends its runs with a carry
    * instead of the open flush and the summary. The frames read the
    * union of all slices' pages.
    *
    * Each slice is an [[graft.plans.MtmPass]] emitting [[Emit.Pages]], so
    * the planner lays its input out as for the lazy surfaces, and stores
    * the node's `(family, page)` rows as they leave it.
    */
  private[graft] def combinedRun(
      bars: DataFrame, cfg: PnlConfig, cutsUs: Seq[Long] = Nil)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = bars.sparkSession
    val last = cutsUs.length
    def slicePass(i: Int, carried: Option[RDD[InternalRow]]): DataFrame = {
      val input =
        if (last == 0) barColumns(bars)
        else {
          val lo = if (i == 0) lit(true) else col("ts_us") >= cutsUs(i - 1)
          val hi = if (i == last) lit(true) else col("ts_us") < cutsUs(i)
          val slice = barColumns(bars).filter(lo && hi)
            .withColumn("carry", lit(null).cast(BinaryType))
          carried.fold(slice)(pages => slice.unionAll(
            stored(spark, pages, Family.Carry).select(
              col("symbol"), lit(Long.MinValue).as("ts_us"), lit(0L).as("event_id"),
              lit(0.0).as("close"), lit(0).as("buy"), lit(0).as("sell"), col("carry"))))
        }
      MtmPass(input, cfg, Emit.Pages(if (i < last) RunEnd.Carry else RunEnd.Open))
    }
    def store(run: DataFrame): RDD[InternalRow] = {
      val pages = run.queryExecution.toRdd
      pages.localCheckpoint()
      pages
    }
    val first = slicePass(0, None)
    // EAGER (r16 lazy-checkpoint audit — see the object doc): one count
    // stores the whole slice chain, each slice's pages as slice i+1's
    // exchange first reads them; the execution id ties every job to one
    // SQL execution, as Dataset.localCheckpoint's own would
    val pages = SQLExecution.withNewExecutionId(first.queryExecution, Some("localCheckpoint")) {
      val pages = (1 to last).scanLeft(store(first))((prev, i) => store(slicePass(i, Some(prev))))
      pages.last.count()
      pages
    }
    val all = if (pages.length == 1) pages.head else spark.sparkContext.union(pages)
    (stored(spark, all, Family.Timeline), stored(spark, all, Family.Blotter),
      stored(spark, all, Family.Summary))
  }

  /** `family`'s rows of stored pages, as a frame in its schema. */
  private def stored(spark: SparkSession, pages: RDD[InternalRow], family: Family): DataFrame =
    GraftInternal.internalCreateDataFrame(spark, pages.mapPartitions(read(family)), family.schema)

  // ---- time-sliced execution (mega-symbol skew hardening, SURVEY §4) ----

  /** Time-sliced engine run: bars split into `nSlices` ranges at
    * approximate ts quantiles; each slice is [[combinedRun]]'s stored
    * pass started from the previous slice's per-symbol carries (open
    * positions, previous close and the run's [[RunStats]]). Output
    * (timeline, blotter, summary), in the public schemas of
    * [[timelineQuery]], [[blotterQuery]] and the summary surfaces, is
    * bit-for-bit equal to `MtmRunner.calculate` on the same bars —
    * spec'd in MtmEngineSpec with a planted mega-symbol.
    *
    * Why: the unsliced engine streams a whole symbol through ONE task,
    * so a mega-symbol holding half the corpus makes wall-clock equal to
    * half the corpus on one core, and a straggler task pins a 100 TB
    * scan's worth of input through one executor. Slicing bounds every
    * task's input to ~1/nSlices of the symbol and gives the scheduler a
    * rebalance point (plus a natural checkpoint seam for incremental /
    * append-only runs) at the cost of one extra job per slice. The
    * carried state is O(symbols × max_position) — tiny.
    *
    * Durability caveat: slices chain through `localCheckpoint`, whose
    * blocks are executor-local — a lost executor mid-run fails the job or
    * recomputes the chain rather than resuming. For multi-hour runs on
    * preemptible fleets, wire the inter-slice seam to durable storage
    * instead: write each slice's [[Family.Carry]] rows (O(symbols ×
    * max_position) bytes) to parquet and seed the next slice from that
    * table — same seam, restartable.
    */
  def runSliced(bars: DataFrame, cfg: PnlConfig, nSlices: Int): (DataFrame, DataFrame, DataFrame) = {
    require(nSlices >= 1, "need at least one slice")
    // approximate quantile cuts balance slice volume even when bar
    // density drifts over time; exactness is irrelevant (any cut is
    // correct, only balance varies). This costs one extra pass over the
    // bars — production jobs with natural boundaries (day files, ingest
    // batches) should pass explicit cuts instead.
    val cuts: Seq[Long] =
      if (nSlices == 1) Nil
      else bars.select(col("ts_us").cast("long")).stat.approxQuantile(
        "ts_us", (1 until nSlices).map(_.toDouble / nSlices).toArray, 0.001)
        // equal quantiles (skewed time density) would be an empty slice —
        // collapse them so the explicit-cut contract stays strict
        .map(_.toLong).distinct.sorted.toSeq
    runSliced(bars, cfg, cuts)
  }

  /** [[runSliced]] with explicit ascending cut timestamps (µs) — slice i
    * covers [cuts(i-1), cuts(i)). No pre-scan: the natural form when
    * slices follow day/batch boundaries known up front.
    */
  def runSliced(bars: DataFrame, cfg: PnlConfig, cutsUs: Seq[Long]): (DataFrame, DataFrame, DataFrame) = {
    // out-of-order or duplicate cuts would make slice ranges overlap —
    // rows in the overlap run through TWO slices and silently duplicate
    require(
      cutsUs.isEmpty || cutsUs.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"slice cuts must be strictly ascending, got $cutsUs")
    combinedRun(bars, cfg, cutsUs = cutsUs)
  }

  // ---- query surfaces (timestamps are TIMESTAMP μs) ----

  // Each public (bars, cfg) surface is one lazy MtmPass over the bars,
  // which the planner lays out in RunOrder; MtmRunner.calculate runs the
  // pass ONCE and stores it (combinedRun) instead of re-running the
  // walk per family.

  private def pass(bars: DataFrame, cfg: PnlConfig, family: Family): DataFrame =
    MtmPass(barColumns(bars), cfg, Emit.Rows(family))

  /** SURVEY #4/#5: per-bar mtm_ratio + cumulative pnl_ratio
    * (reference pnl_timeline: runner_mtm.py:136-183), one row per input
    * bar — the reference's `mtm_history` (trade_reward.py:109,166).
    */
  def timelineQuery(bars: DataFrame, cfg: PnlConfig): DataFrame =
    pass(bars, cfg, Family.Timeline)

  /** SURVEY #2/#3: the trade blotter as a query — closed trades
    * (reference `archive_*_positions_list`) plus still-open positions
    * flushed as OPEN rows (reference `outstanding_*` in Mtm_Result,
    * runner_mtm.py:191-203). pnl_norm is the reference's fee-included
    * `pnl_normalized` (models.py:60-91): ((±(exit−entry)) − fee·entry −
    * fee·entry)/entry. `pnl` is the reference's raw (price-unit) pnl
    * alongside the normalized one — ProxyTrade exposes both
    * (models.py:60-83,117-131). NOTE the derivation direction is
    * deliberately INVERTED vs the reference: models.py computes raw pnl
    * directly ((exit−entry) − 2·fee·entry) and derives normalized from
    * it, while the walk derives raw = pnl_norm × entry_price from the
    * already-computed normalized value so the engine, sliced, runner and
    * oracle surfaces stay bit-equal to each other ((x/e)·e is not
    * IEEE-bit-equal to x, so our raw pnl can differ from the reference's
    * by ULPs).
    */
  def blotterQuery(bars: DataFrame, cfg: PnlConfig): DataFrame =
    pass(bars, cfg, Family.Blotter)

  /** [[timelineQuery]] with `ts` as µs longs (`ts_us`). */
  def timeline(bars: DataFrame, cfg: PnlConfig): DataFrame =
    timelineMicros(timelineQuery(bars, cfg))

  /** [[blotterQuery]] with µs-long timestamps (`entry_ts_us`,
    * `exit_ts_us`) and without the derived `pnl`.
    */
  def blotter(bars: DataFrame, cfg: PnlConfig): DataFrame =
    blotterMicros(blotterQuery(bars, cfg))

  private[graft] def timelineMicros(tl: DataFrame): DataFrame =
    tl.select(
      col("symbol"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
      col("close"), col("buy"), col("sell"), col("mtm_ratio"), col("pnl_ratio"))

  private[graft] def blotterMicros(bl: DataFrame): DataFrame =
    bl.select(
      col("symbol"), col("direction"),
      unix_micros(col("entry_ts")).as("entry_ts_us"), col("entry_price"),
      unix_micros(col("exit_ts")).as("exit_ts_us"), col("exit_price"),
      col("pnl_norm"), col("close_reason"), col("is_closed"))

  /** SURVEY #6: per-symbol max drawdown — running peak of cum-pnl floored
    * at 0, minus current, maxed (reference runner_mtm.py:144,168-172).
    * Exact unit arithmetic in the pass ([[RunStats]]), one double
    * conversion at the end.
    */
  def maxDrawdown(bars: DataFrame, cfg: PnlConfig): DataFrame =
    pass(bars, cfg, Family.Summary).select("symbol", "max_drawdown")

  /** SURVEY #7: per-symbol Sharpe (see [[sharpe]]). The sum is exact in
    * 1e-9 units (engine-agnostic, see [[RunStats]]; error ≪ the 4-dp
    * output resolution). σ is `stddev_pop`'s update applied in bar
    * order; the DuckDB oracle's σ carries ~1e-13 relative noise,
    * absorbed by the 4-dp output.
    */
  def sharpeRatio(bars: DataFrame, cfg: PnlConfig): DataFrame =
    pass(bars, cfg, Family.Summary).select("symbol", "sharpe_ratio")

  /** SURVEY #8: per-symbol summary — total pnl (Σ mtm,
    * trade_reward.py:413-421), closed-trade count, win rate, average
    * holding seconds (reference Mtm_Result surface).
    */
  def pnlSummary(bars: DataFrame, cfg: PnlConfig): DataFrame =
    pass(bars, cfg, Family.Summary).select("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs")
}
