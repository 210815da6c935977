package graft.operators

import graft.core.{BookTrade, OpenPos, PnlConfig, TradeBook}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed mark-to-market engine — the Spark-native re-expression of
  * the reference's `Trade_Mtm_Runner.calculate` → `Mtm_Result` pipeline
  * (reference: runner_mtm.py:71-205, trade_reward.py:81-170).
  *
  * Plan shape (SURVEY.md §4): canonical bars → `repartition($"symbol")` →
  * `sortWithinPartitions(symbol, ts, event_id)` → `mapPartitions` running
  * the [[graft.core.TradeBook]] state machine per symbol-run. ONE shuffle
  * total; parallelism = #symbols spread by hash; per-task state is
  * O(open positions) and rows stream through an iterator, so a skewed
  * mega-symbol is wall-clock-bound but never OOMs. At 100 TB the symbol
  * count vastly exceeds core count, so the hash spread stays even.
  *
  * Derived outputs come from the same walk, as in the reference's own
  * loop (runner_mtm.py:144-176): each symbol run keeps a [[RunStats]]
  * accumulator that writes the cumulative `pnl_ratio` on every timeline
  * row and ends the run with one summary row (pnl, max drawdown, the
  * Sharpe inputs, closed-trade stats). The summary surfaces are
  * projections of those rows — no window or aggregate pass over the
  * timeline.
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
  */
object MtmEngine {

  /** Input bar (μs epoch; event_id tiebreaks equal timestamps). */
  private[graft] final case class EngineBar(
      symbol: Long, ts_us: Long, event_id: Long, close: Double, buy: Int, sell: Int)

  private[graft] final case class TimelinePoint(
      symbol: Long, ts_us: Long, event_id: Long, close: Double,
      buy: Int, sell: Int, mtm_ratio: Double, pnl_ratio: Double)

  private[graft] final case class BlotterRec(
      symbol: Long, direction: String, entry_ts_us: Long, entry_price: Double,
      exit_ts_us: Option[Long], exit_price: Option[Double],
      pnl_norm: Option[Double], close_reason: Option[String], is_closed: Boolean)

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

  /** The engine's only shuffle: co-locate each symbol's bars and order
    * them totally within the partition (secondary sort). AQE partition
    * coalescing is safe: symbol runs stay contiguous because a symbol
    * hashes to exactly one pre-coalesce partition.
    */
  private def sortedBars(bars: DataFrame, colocated: Boolean = false): Dataset[EngineBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val projected = bars
      .select(
        col("symbol").cast("long"), col("ts_us").cast("long"),
        col("event_id").cast("long"), col("close").cast("double"),
        col("buy").cast("int"), col("sell").cast("int"))
    // colocated: the caller guarantees each symbol's bars already share
    // a partition (a symbol-bucketed table scan — BucketedTables.bars),
    // so the engine's one exchange is elided and only the in-partition
    // secondary sort remains. Opt-in and UNCHECKED: verifying the claim
    // would itself shuffle, and split symbol runs would silently reset
    // book state mid-run — callers own the layout contract
    // (ColocatedEngineSpec pins bit-equality on the bucketed layout).
    val dist = if (colocated) projected else projected.repartition(col("symbol"))
    dist
      .sortWithinPartitions("symbol", "ts_us", "event_id")
      .as[EngineBar]
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

    def summary: SymbolSummary = SymbolSummary(
      pnl = cum.toDouble(1e9), max_drawdown = maxDd.toDouble(1e9),
      sum_x = sumX.toDouble(1e9), span_ms = (lastMs - firstMs).toDouble,
      sigma = math.sqrt(m2 / n), n_trades = nTrades, n_wins = nWins, hold_us = holdUs)
  }

  /** A finished symbol run: its open positions flushed as OPEN trades,
    * and its summary.
    */
  private final case class RunEnd(symbol: Long, open: Seq[BookTrade], summary: SymbolSummary)

  /** Per-partition runner: a fresh TradeBook and [[RunStats]] per
    * symbol-run, price_diff derived from the previous bar in-stream (no
    * window needed — the partition is already symbol-ordered).
    */
  private final class SymbolRunner(cfg: PnlConfig, trackTrades: Boolean = true)
      extends Serializable {
    private var book: TradeBook = null
    private var stats: RunStats = null
    private var symbol: Long = 0L
    private var prevClose: Double = Double.NaN

    /** The run that `b` ends, when `b` starts a new symbol after another
      * (None otherwise). Must be called before stepping `b`.
      */
    def beginBar(b: EngineBar): Option[RunEnd] =
      if (book != null && b.symbol == symbol) None
      else {
        val ended = endOfPartition()
        book = new TradeBook(cfg, trackTrades); stats = new RunStats(cfg.feeRate)
        symbol = b.symbol; prevClose = Double.NaN
        ended
      }

    /** Run one bar; returns its final mtm (accrual − fees). */
    def stepBar(b: EngineBar): Double = {
      val diff = if (prevClose.isNaN) Double.NaN else b.close - prevClose
      prevClose = b.close
      val mtm = book.step(b.ts_us, b.close, diff, b.buy == 1, b.sell == 1)
      stats.bar(b.ts_us, mtm)
      mtm
    }

    /** Cumulative pnl of the run through the last stepped bar. */
    def pnlRatio: Double = stats.pnlRatio

    /** Trades closed by the last step, counted into the run's summary. */
    def drainClosed(): IndexedSeq[BookTrade] = {
      val closed = book.drainTrades()
      closed.foreach(stats.trade)
      closed
    }

    def endOfPartition(): Option[RunEnd] =
      if (book == null) None else Some(RunEnd(symbol, book.flushOpen(), stats.summary))
  }

  /** Per-bar mtm timeline: (symbol, ts_us, event_id, close, buy, sell,
    * mtm_ratio, pnl_ratio) — the reference's `mtm_history`
    * (trade_reward.py:109,166) with its cumulative pnl, one row per
    * input bar.
    */
  def timeline(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    sortedBars(bars, colocated).mapPartitions { it =>
      // trackTrades=false: timeline consumers never drain the blotter, so
      // recording closed trades would grow per-task memory with the
      // symbol's trade count instead of O(open positions)
      val r = new SymbolRunner(cfg, trackTrades = false)
      it.map { b =>
        r.beginBar(b) // timeline ignores run ends; resets state
        val mtm = r.stepBar(b)
        TimelinePoint(b.symbol, b.ts_us, b.event_id, b.close, b.buy, b.sell, mtm, r.pnlRatio)
      }
    }.toDF()
  }

  /** Trade blotter: closed trades (reference `archive_*_positions_list`)
    * plus still-open positions flushed as OPEN rows (reference
    * `outstanding_*` in Mtm_Result, runner_mtm.py:191-203).
    * pnl_norm is the reference's fee-included `pnl_normalized`
    * (models.py:60-91): ((±(exit−entry)) − fee·entry − fee·entry)/entry.
    */
  def blotter(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val feeRate = cfg.feeRate
    sortedBars(bars, colocated).mapPartitions { it =>
      val r = new SymbolRunner(cfg)
      def toRec(sym: Long, t: BookTrade): BlotterRec =
        if (t.isClosed) {
          val pnl = BookTrade.closedPnlNorm(t, feeRate)
          BlotterRec(sym, if (t.isLong) "LONG" else "SHORT", t.entryUs, t.entryPrice,
            Some(t.exitUs), Some(t.exitPrice), Some(pnl), Some(t.reason), is_closed = true)
        } else {
          BlotterRec(sym, if (t.isLong) "LONG" else "SHORT", t.entryUs, t.entryPrice,
            None, None, None, None, is_closed = false)
        }
      def flushed(e: RunEnd) = e.open.iterator.map(toRec(e.symbol, _))
      val perBar = it.flatMap { b =>
        val ended = r.beginBar(b)
        r.stepBar(b)
        val closed = r.drainClosed()
        ended.iterator.flatMap(flushed) ++ closed.iterator.map(toRec(b.symbol, _))
      }
      // Iterator.++ takes its suffix BY NAME: the end-of-partition flush
      // is built only after perBar exhausts the partition
      perBar ++ r.endOfPartition().iterator.flatMap(flushed)
    }.toDF()
  }

  /** Unified single-pass output row, discriminated by `kind`:
    * "tl" timeline point, "bl" blotter record, "sm" symbol summary —
    * see [[engineRows]].
    */
  private[graft] final case class EngineOut(
      kind: String,
      symbol: Long, ts_us: Long = 0L, event_id: Long = 0L, close: Double = 0.0,
      buy: Int = 0, sell: Int = 0, mtm_ratio: Double = 0.0, pnl_ratio: Double = 0.0,
      direction: String = "", entry_ts_us: Long = 0L, entry_price: Double = 0.0,
      exit_ts_us: Option[Long] = None, exit_price: Option[Double] = None,
      pnl_norm: Option[Double] = None, close_reason: Option[String] = None,
      is_closed: Boolean = false, summary: Option[SymbolSummary] = None)

  /** The engine walk behind [[combinedRun]] and the summary surfaces: one
    * "sm" row per symbol run and, with `rows`, a "tl" row per bar and a
    * "bl" row per closed or flushed-open trade.
    */
  private def engineRows(cfg: PnlConfig, rows: Boolean)(
      it: Iterator[EngineBar]): Iterator[EngineOut] = {
    val r = new SymbolRunner(cfg) // trackTrades: drained per bar below
    def toBl(sym: Long, t: BookTrade): EngineOut =
      if (t.isClosed) {
        val pnl = BookTrade.closedPnlNorm(t, cfg.feeRate)
        EngineOut("bl", sym, direction = if (t.isLong) "LONG" else "SHORT",
          entry_ts_us = t.entryUs, entry_price = t.entryPrice,
          exit_ts_us = Some(t.exitUs), exit_price = Some(t.exitPrice),
          pnl_norm = Some(pnl), close_reason = Some(t.reason), is_closed = true)
      } else {
        EngineOut("bl", sym, direction = if (t.isLong) "LONG" else "SHORT",
          entry_ts_us = t.entryUs, entry_price = t.entryPrice)
      }
    def ended(e: RunEnd): Iterator[EngineOut] =
      (if (rows) e.open.iterator.map(toBl(e.symbol, _)) else Iterator.empty) ++
        Iterator.single(EngineOut("sm", e.symbol, summary = Some(e.summary)))
    val perBar = it.flatMap { b =>
      val end = r.beginBar(b)
      val mtm = r.stepBar(b)
      val closed = r.drainClosed()
      if (!rows) end.iterator.flatMap(ended)
      else Iterator.single(EngineOut("tl", b.symbol, b.ts_us, b.event_id, b.close,
          b.buy, b.sell, mtm, r.pnlRatio)) ++
        end.iterator.flatMap(ended) ++ closed.iterator.map(toBl(b.symbol, _))
    }
    // by-name ++ suffix: built only after perBar drains the partition
    perBar ++ r.endOfPartition().iterator.flatMap(ended)
  }

  /** ALL output families from ONE engine pass: one shuffle, one sort,
    * one state-machine walk, materialized once; the returned (timeline,
    * blotter, summary) frames are kind-filtered projections over the
    * stored blocks (the summary's columns: see [[summaryOf]]). Consumers that need more than one family
    * (MtmRunner.calculate) would otherwise pay the repartition+sort+walk
    * per family — exchange reuse shares the shuffle write between the
    * twin plans but re-runs the sort and the per-bar state machine.
    */
  private[graft] def combinedRun(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = bars.sparkSession
    import spark.implicits._
    val out = sortedBars(bars, colocated).mapPartitions(engineRows(cfg, rows = true))
      // EAGER (r16 lazy-checkpoint audit): the three frames are read by
      // separate actions, and one job reading two of them (a join, a
      // union) would have two independent map stages race the block
      // store, each loser re-running the whole engine pass (the
      // priciest kernel in the MTM family)
      .toDF().localCheckpoint(eager = true)
    val tl = out.filter(col("kind") === "tl")
      .select("symbol", "ts_us", "event_id", "close", "buy", "sell", "mtm_ratio", "pnl_ratio")
    val bl = out.filter(col("kind") === "bl")
      .select("symbol", "direction", "entry_ts_us", "entry_price",
        "exit_ts_us", "exit_price", "pnl_norm", "close_reason", "is_closed")
    (tl, bl, summaryOf(out))
  }

  /** The summary block alone, lazily: the pass behind the public
    * summary surfaces, which keep no timeline or blotter rows.
    */
  private def summaryRun(bars: DataFrame, cfg: PnlConfig): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    summaryOf(sortedBars(bars).mapPartitions(engineRows(cfg, rows = false)).toDF())
  }

  // ---- time-sliced execution (mega-symbol skew hardening, SURVEY §4) ----

  /** Unified slice-input row: a market bar, or (isState) the carried-in
    * book state of a symbol from the previous slice. State rows take
    * ts_us = Long.MinValue so the per-partition sort places them before
    * every bar of their symbol run.
    */
  private[graft] final case class SliceIn(
      symbol: Long, ts_us: Long, event_id: Long, close: Double, buy: Int, sell: Int,
      isState: Boolean, prevClose: Double,
      openLongs: Seq[(Long, Double)], openShorts: Seq[(Long, Double)])

  /** Unified slice-output row, discriminated by `kind`:
    * "tl" timeline point, "bl" blotter record, "st" end-of-slice state.
    */
  private[graft] final case class SliceOut(
      kind: String,
      symbol: Long, ts_us: Long = 0L, event_id: Long = 0L, close: Double = 0.0,
      buy: Int = 0, sell: Int = 0, mtm_ratio: Double = 0.0,
      direction: String = null, entry_ts_us: Long = 0L, entry_price: Double = 0.0,
      exit_ts_us: Option[Long] = None, exit_price: Option[Double] = None,
      pnl_norm: Option[Double] = None, close_reason: Option[String] = None,
      is_closed: Boolean = false,
      prevClose: Double = Double.NaN,
      openLongs: Seq[(Long, Double)] = Nil, openShorts: Seq[(Long, Double)] = Nil)

  private def sliceRunner(cfg: PnlConfig, isLast: Boolean)(
      it: Iterator[SliceIn]): Iterator[SliceOut] = {
    var book: TradeBook = null
    var symbol = 0L
    var prevClose = Double.NaN

    def blRow(sym: Long, t: BookTrade): SliceOut =
      if (t.isClosed) {
        SliceOut("bl", sym,
          direction = if (t.isLong) "LONG" else "SHORT",
          entry_ts_us = t.entryUs, entry_price = t.entryPrice,
          exit_ts_us = Some(t.exitUs), exit_price = Some(t.exitPrice),
          pnl_norm = Some(BookTrade.closedPnlNorm(t, cfg.feeRate)),
          close_reason = Some(t.reason), is_closed = true)
      } else
        SliceOut("bl", sym,
          direction = if (t.isLong) "LONG" else "SHORT",
          entry_ts_us = t.entryUs, entry_price = t.entryPrice)

    def endRun(): Seq[SliceOut] =
      if (book == null) Nil
      else if (isLast) book.flushOpen().map(t => blRow(symbol, t))
      else {
        val (ls, ss) = book.snapshotOpen()
        Seq(SliceOut("st", symbol, prevClose = prevClose,
          openLongs = ls.map(p => (p.entryUs, p.entryPrice)),
          openShorts = ss.map(p => (p.entryUs, p.entryPrice))))
      }

    val perRow = it.flatMap { r =>
      val boundary =
        if (book == null || r.symbol != symbol) {
          val fin = endRun()
          book = new TradeBook(cfg); symbol = r.symbol; prevClose = Double.NaN
          fin
        } else Nil
      if (r.isState) {
        book.restoreOpen(
          r.openLongs.map { case (ts, px) => OpenPos(ts, px, isLong = true) },
          r.openShorts.map { case (ts, px) => OpenPos(ts, px, isLong = false) })
        prevClose = r.prevClose
        boundary.iterator
      } else {
        val diff = if (prevClose.isNaN) Double.NaN else r.close - prevClose
        prevClose = r.close
        val mtm = book.step(r.ts_us, r.close, diff, r.buy == 1, r.sell == 1)
        val closed = book.drainTrades().map(t => blRow(symbol, t))
        boundary.iterator ++
          Iterator(SliceOut("tl", r.symbol, r.ts_us, r.event_id, r.close,
            r.buy, r.sell, mtm_ratio = mtm)) ++
          closed.iterator
      }
    }
    // Iterator.++ takes its suffix BY NAME: the final symbol run's
    // flush/state is built only after perRow exhausts the partition
    perRow ++ endRun().iterator
  }

  /** Time-sliced engine run: bars split into `nSlices` ranges at
    * approximate ts quantiles; each slice runs the normal
    * repartition-sort-mapPartitions pipeline seeded with the previous
    * slice's per-symbol book snapshots (open positions + previous
    * close), materialized slice-by-slice. Output (timeline, blotter) is
    * bar-for-bar identical to the unsliced engine — spec'd in
    * MtmEngineSpec with a planted mega-symbol.
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
    * blocks are executor-local with lineage truncated — a lost executor
    * mid-run fails the job unrecoverably rather than recomputing. For
    * multi-hour runs on preemptible fleets, wire the inter-slice seam
    * to durable storage instead: write each slice's end-state (the
    * O(symbols × max_position) SliceOut "st" rows) to parquet and seed
    * the next slice from that table — same seam, restartable.
    */
  def runSliced(bars: DataFrame, cfg: PnlConfig, nSlices: Int): (DataFrame, DataFrame) = {
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
  def runSliced(bars: DataFrame, cfg: PnlConfig, cutsUs: Seq[Long]): (DataFrame, DataFrame) = {
    // out-of-order or duplicate cuts would make slice ranges overlap —
    // rows in the overlap run through TWO slices and silently duplicate
    require(
      cutsUs.isEmpty || cutsUs.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"slice cuts must be strictly ascending, got $cutsUs")
    val spark = bars.sparkSession
    import spark.implicits._
    val typed = bars.select(
      col("symbol").cast("long"), col("ts_us").cast("long"),
      col("event_id").cast("long"), col("close").cast("double"),
      col("buy").cast("int"), col("sell").cast("int"))
    val cuts = cutsUs.toArray
    var state: Dataset[SliceIn] = spark.emptyDataset[SliceIn]
    val parts = (0 to cuts.length).map { i =>
      val lo = if (i == 0) None else Some(cuts(i - 1))
      val hi = if (i == cuts.length) None else Some(cuts(i))
      val isLast = i == cuts.length
      val sliceBars = typed
        .filter(lo.map(col("ts_us") >= _).getOrElse(lit(true))
          && hi.map(col("ts_us") < _).getOrElse(lit(true)))
        .as[EngineBar]
        .map(b => SliceIn(b.symbol, b.ts_us, b.event_id, b.close, b.buy, b.sell,
          isState = false, Double.NaN, Nil, Nil))
      // LAZY local checkpoint: marks the slice output for storage without
      // launching a job per slice — the consumer's single action computes
      // the whole slice chain as one job (5× fewer job launches), each
      // slice's partitions are stored as they are first computed, and
      // slice i+1 (and the final union) read the stored partitions
      // instead of recomputing 0..i.
      // SAFE LAZY (r16 audit): unlike the multi-branch shapes flipped
      // eager this round, no two stages can read slice i's blocks
      // concurrently — slice i's only same-job consumers are slice
      // i+1's map stage and the final-union result stage, and the
      // latter transitively depends on the LAST slice's shuffle, which
      // orders it after every chain stage. Caveat recorded: a caller
      // consuming BOTH returned frames in one job would put two
      // unordered branches on the last slice — today's only sliced
      // caller (q_trades_sliced) reads the blotter frame alone.
      val out = sliceBars.union(state)
        .repartition(col("symbol"))
        .sortWithinPartitions("symbol", "ts_us", "event_id")
        .as[SliceIn]
        .mapPartitions(sliceRunner(cfg, isLast))
        .toDF()
        .localCheckpoint(eager = false)
      state = out.filter(col("kind") === "st")
        .select("symbol", "prevClose", "openLongs", "openShorts")
        .as[(Long, Double, Seq[(Long, Double)], Seq[(Long, Double)])]
        .map { case (sym, pc, ls, ss) =>
          SliceIn(sym, Long.MinValue, 0L, 0.0, 0, 0, isState = true, pc, ls, ss)
        }
      out
    }
    val tl = parts.map(_.filter(col("kind") === "tl")
      .select("symbol", "ts_us", "event_id", "close", "buy", "sell", "mtm_ratio"))
      .reduce(_.unionAll(_))
    val bl = parts.map(_.filter(col("kind") === "bl")
      .select("symbol", "direction", "entry_ts_us", "entry_price",
        "exit_ts_us", "exit_price", "pnl_norm", "close_reason", "is_closed"))
      .reduce(_.unionAll(_))
    (tl, bl)
  }

  // ---- query-surface wrappers (timestamps restored to TIMESTAMP μs) ----

  // Each public (bars, cfg) surface runs its own lazy pass;
  // MtmRunner.calculate materializes the engine ONCE (combinedRun) and
  // projects every frame from the stored rows instead of re-running the
  // state machine per metric.

  /** SURVEY #4/#5: per-bar mtm_ratio + cumulative pnl_ratio
    * (reference pnl_timeline: runner_mtm.py:136-183).
    */
  def timelineQuery(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    timelineQueryFrom(timeline(bars, cfg, colocated))

  private[graft] def timelineQueryFrom(tl: DataFrame): DataFrame =
    tl.select(
      col("symbol"), timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
      col("close"), col("buy"), col("sell"), col("mtm_ratio"), col("pnl_ratio"))

  /** SURVEY #2/#3: the trade blotter as a query. */
  def blotterQuery(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    blotterQueryFrom(blotter(bars, cfg, colocated))

  /** `pnl` is the reference's raw (price-unit) pnl alongside the
    * normalized one — ProxyTrade exposes both (models.py:60-83,117-131).
    * NOTE the derivation direction is deliberately INVERTED vs the
    * reference: models.py computes raw pnl directly
    * ((exit−entry) − 2·fee·entry) and derives normalized from it, while
    * we derive raw = pnl_norm × entry_price from the already-computed
    * normalized value so the engine, sliced, runner and oracle surfaces
    * stay bit-equal to each other ((x/e)·e is not IEEE-bit-equal to x,
    * so our raw pnl can differ from the reference's by ULPs).
    */
  private[graft] def blotterQueryFrom(bl: DataFrame): DataFrame =
    bl.select(
      col("symbol"), col("direction"),
      timestamp_micros(col("entry_ts_us")).as("entry_ts"), col("entry_price"),
      timestamp_micros(col("exit_ts_us")).as("exit_ts"), col("exit_price"),
      col("pnl_norm"), (col("pnl_norm") * col("entry_price")).as("pnl"),
      col("close_reason"), col("is_closed"))

  /** SURVEY #6: per-symbol max drawdown — running peak of cum-pnl floored
    * at 0, minus current, maxed (reference runner_mtm.py:144,168-172).
    * Exact unit arithmetic in the pass ([[RunStats]]), one double
    * conversion at the end.
    */
  def maxDrawdown(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summaryRun(bars, cfg).select("symbol", "max_drawdown")

  /** SURVEY #7: per-symbol Sharpe, reference formula
    * (trade_reward.py:423-450): ms-resolution period, slippage 1e-6,
    * population std, √(365·24) annualization, −1e50 when σ=0. The sum
    * is exact in 1e-9 units (engine-agnostic, see [[RunStats]]; error
    * ≪ the 4-dp output resolution) and the final 4-dp rounding is
    * floor(x·1e4 + 0.5)/1e4 — `round()` would reintroduce the
    * engine-specific tie semantics the unit scheme exists to avoid. σ
    * is `stddev_pop`'s update applied in bar order; the DuckDB oracle's
    * σ carries ~1e-13 relative noise, absorbed by the 4-dp output.
    */
  def sharpeRatio(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summaryRun(bars, cfg).select("symbol", "sharpe_ratio")

  /** SURVEY #8: per-symbol summary — total pnl (Σ mtm,
    * trade_reward.py:413-421), closed-trade count, win rate, average
    * holding seconds (reference Mtm_Result surface).
    */
  def pnlSummary(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summaryRun(bars, cfg).select("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs")

  /** The per-symbol summary block from engine output's "sm" rows:
    * symbol, pnl, n_trades, win_rate, avg_holding_secs, max_drawdown,
    * sharpe_ratio. The rate and the holding time are null for a symbol
    * with no closed trade.
    */
  private def summaryOf(out: DataFrame): DataFrame = {
    val n = col("n_trades").cast("double")
    // span_ms = 0 (every bar of a symbol inside ONE millisecond, with
    // price movement so σ > 0) must yield the IEEE result DuckDB's
    // double division produces — ±inf by the sign of sum_x, NaN at
    // 0/0 — NOT evaluate the raw division: under ANSI mode (the
    // Spark 4 default) x/0.0 ERRORS the job. Found by the degenerate-bar
    // probe, pinned in MtmEngineSpec. σ > 0 here (the σ = 0 guard below
    // fires first), so dividing by it never flips the sign.
    val raw = when(col("span_ms") =!= 0.0,
        col("sum_x") / (col("span_ms") / lit(1000.0) / lit(3600.0)) /
          col("sigma") * lit(math.sqrt(8760.0)))
      .when(col("sum_x") > 0.0, lit(Double.PositiveInfinity))
      .when(col("sum_x") < 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))
    out.filter(col("kind") === "sm").select(col("symbol"), col("summary.*")).select(
      col("symbol"), col("pnl"), col("n_trades"),
      when(col("n_trades") > 0, col("n_wins").cast("double") / n).as("win_rate"),
      when(col("n_trades") > 0, col("hold_us").cast("double") / n / lit(1000000.0))
        .as("avg_holding_secs"),
      col("max_drawdown"),
      when(col("sigma") === 0.0, lit(-1e50))
        // finite guard: a single-ms symbol gives span 0 → raw ±inf/NaN,
        // which Spark's floor(double)→LONG would mangle (Long.MaxValue /
        // 0) while DuckDB's floor keeps them — pass non-finite through
        // unrounded on both sides (abs(NaN) < k is false in both)
        .when(abs(raw) < lit(1e14),
          floor(raw * lit(1e4) + lit(0.5)).cast("double") / lit(1e4))
        .otherwise(raw)
        .as("sharpe_ratio"))
  }
}
