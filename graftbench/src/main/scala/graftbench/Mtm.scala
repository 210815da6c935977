package graftbench

import graft.{Sessions, Tables}
import graft.core.{InventoryMode, PnlConfig}
import graft.operators.{MtmEngine, MtmRunner}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks shared by the batch MTM workloads. */
object MtmCheck {
  /** Per-symbol pnl and closed-trade count of a `hyperOptAdapter`
    * summary against the replay, with the adapter's do-nothing floor.
    */
  def summary(rows: Array[Row], ref: Replay.Result): Option[String] = {
    if (rows.length != ref.bySymbol.size)
      return Some(s"summary has ${rows.length} symbols, replay ${ref.bySymbol.size}")
    rows.iterator.flatMap { r =>
      val sym = r.getAs[Long]("symbol")
      ref.bySymbol.get(sym) match {
        case None => Some(s"summary symbol $sym not in the input")
        case Some(e) =>
          val want = if (math.abs(e.pnl) < 1e-12) -1e50 else e.pnl
          val got = r.getAs[Double]("pnl")
          val n = r.getAs[Long]("n_trades")
          if (java.lang.Double.compare(got, want) != 0) Some(s"symbol $sym pnl $got, replay $want")
          else if (n != e.closedTrades) Some(s"symbol $sym n_trades $n, replay ${e.closedTrades}")
          else None
      }
    }.nextOption()
  }

  /** Per-symbol close-reason counts of the blotter against the replay. */
  def reasons(trades: DataFrame, ref: Replay.Result): Option[String] = {
    val got = trades.filter(col("is_closed")).groupBy("symbol", "close_reason").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = ref.bySymbol.iterator.flatMap { case (s, e) =>
      Seq((s, "SIGNAL") -> e.signal, (s, "ROI") -> e.roi, (s, "STOP_LOSS") -> e.stoploss)
    }.filter(_._2 > 0).toMap
    if (got == want) None
    else {
      val k = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)).get
      Some(s"close reasons of $k: ${got.getOrElse(k, 0L)}, replay ${want.getOrElse(k, 0L)}")
    }
  }

  def rowsDigest(rows: Array[Row]): Long =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted).toLong

  /** Order-independent digest of a frame's rows, computed in Spark. */
  def frameDigest(df: DataFrame): Long =
    df.select(expr(s"bit_xor(xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")}))"))
      .head().getLong(0)
}

/** `mtm_deep`: symbols with long histories; the ROI ladder, stop-loss,
  * fees and max_position=3 WORST_PRICE. One op is `MtmRunner.calculate`,
  * the summary collected through `hyperOptAdapter` (the reference's
  * hyper-opt use), timeline and trades materialised to `noop`.
  */
final class MtmDeep(seed: Long) extends Workload {
  val spec = Gen.BarSpec(symbols = 64, bars = 10000, sigma = 0.004, buyP = 0.02, sellP = 0.02)
  private val StreamBatches = 6
  val cfg = PnlConfig(
    roi = Map(0 -> 0.05, 30 -> 0.02, 240 -> 0.008), stoploss = -0.03,
    enableShortPosition = true, maxPositionPerSymbol = 3, feeRate = 0.001,
    laidBackTax = 0.0001, inventoryMode = InventoryMode.WorstPrice)

  private var replayBars: Replay.Bars = _
  private var ref: Replay.Result = _
  private var dir: String = _
  private var bars: DataFrame = _
  private var firstDigest: Option[Long] = None
  private var streamFailure: Option[String] = None

  val rowsPerOp: Long = spec.symbols.toLong * spec.bars
  // measured on a 4-core host: after the JVM's first op, two more (the
  // second in the timed loop's session) bring the op time within about
  // 10% of the timed ops'; with one, the timed ops are slower and spread
  // more
  val settleOps = 2

  def generate(spark: SparkSession, dir: String): Unit = {
    Gen.writeEvents(spark, seed, spec, s"$dir/main", 4)
    replayBars = Replay.materialize(Gen.allBars(seed, spec))
    ref = Replay.run(replayBars, cfg)
  }

  def register(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    bars = MtmEngine.barsFromEvents(Tables.events(spark, s"$dir/main"))
  }

  def op(i: Int, tr: Tracer): Any = {
    val res = tr.span("MtmRunner.calculate")(MtmRunner.calculate(bars, cfg))
    val adapted = tr.span("MtmRunner.hyperOptAdapter")(MtmRunner.hyperOptAdapter(res.summary))
    val summary = tr.span("MtmRunner.summary")(adapted.collect())
    tr.span("MtmRunner.timeline")(Workload.noop(res.timeline))
    tr.span("MtmRunner.trades")(Workload.noop(res.trades))
    (res, summary)
  }

  def scan(spark: SparkSession): Unit =
    Workload.noop(MtmEngine.barsFromEvents(Tables.events(spark, s"$dir/main")))

  def check(i: Int, out: Any): Option[String] = {
    val (res, summary) = out.asInstanceOf[(MtmRunner.MtmResult, Array[Row])]
    val failure = MtmCheck.summary(summary, ref)
      .orElse(MtmCheck.reasons(res.trades, ref))
      .orElse {
        val d = MtmCheck.rowsDigest(summary) * 31 +
          MtmCheck.frameDigest(res.timeline.select("symbol", "ts", "event_id", "close", "mtm_ratio")) * 17 +
          MtmCheck.frameDigest(res.trades)
        if (firstDigest.isEmpty) firstDigest = Some(d)
        if (firstDigest.contains(d)) None else Some(s"output digest $d differs from the first op's")
      }
    Sessions.dropAllCaches(res.summary.sparkSession)
    failure
  }

  /** The streaming layer runs here too: the same book, fed as
    * micro-batches (see [[StreamProbe]]), traced like an op.
    */
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    tr.attach(spark.sparkContext)
    val (stream, failure) =
      try new StreamProbe(seed).run(spark, tr, dir, StreamBatches)
      finally tr.detach()
    streamFailure = failure
    stream ++ Map(
      "TradeBook.bars_per_s" -> Stats.median((1 to 3).map(_ => Replay.run(replayBars, cfg).barsPerS)),
      "TradeBook.closes_signal" -> ref.closes("SIGNAL").toDouble,
      "TradeBook.closes_roi" -> ref.closes("ROI").toDouble,
      "TradeBook.closes_stoploss" -> ref.closes("STOP_LOSS").toDouble)
  }

  /** A failed streaming check fails the traced run's last op. */
  override def finish(spark: SparkSession, ops: Int): Map[Int, String] =
    streamFailure.map(m => (ops - 1) -> s"streaming probe: $m").toMap
}
