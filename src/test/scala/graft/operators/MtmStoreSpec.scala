package graft.operators

import graft.Sessions
import graft.core.{InventoryMode, PnlConfig}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `MtmRunner.calculate`'s stored pass: per-family pages of UnsafeRows
  * behind an eager local checkpoint. The stored frames must equal the
  * lazy surfaces bit for bit, cost at most 100 bytes of block-store
  * memory per input bar, serve one job that reads two of them without
  * re-running the pass, and keep their schemas on empty input.
  */
class MtmStoreSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  /** The `mtm_deep` shape: ROI ladder, stop-loss, shorts, fees, tax and
    * three WORST_PRICE positions per side.
    */
  private val cfg = PnlConfig(
    roi = Map(0 -> 0.05, 30 -> 0.02, 240 -> 0.008), stoploss = -0.03,
    enableShortPosition = true, maxPositionPerSymbol = 3, feeRate = 0.001,
    laidBackTax = 0.0001, inventoryMode = InventoryMode.WorstPrice)

  /** `n` one-minute bars per symbol of `symbols`: a positive random-walk
    * close and ~2% buy and ~2% sell signals, all from the bar's id.
    */
  private def genBars(symbols: Seq[(Long, Long)]): DataFrame =
    symbols.map { case (sym, n) =>
      spark.range(n).select(
        lit(sym).as("symbol"),
        (lit(1700000000000000L) + col("id") * 60000000L).as("ts_us"),
        (lit(sym) * 10000000L + col("id")).as("event_id"),
        (lit(100.0) + sin(col("id") / 500.0 + sym) * 20.0 +
          pmod(xxhash64(col("id"), lit(sym)), lit(1000L)) / 1000.0).as("close"),
        when(pmod(xxhash64(col("id"), lit(sym), lit(1)), lit(50L)) === 0, 1).otherwise(0).as("buy"),
        when(pmod(xxhash64(col("id"), lit(sym), lit(2)), lit(50L)) === 0, 1).otherwise(0).as("sell"))
    }.reduce(_.unionAll(_))

  /** Runs `calculate` and returns it with the one RDD it persisted. */
  private def calculateStored(bars: DataFrame): (MtmRunner.MtmResult, RDD[_]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = MtmRunner.calculate(bars, cfg)
    val stored = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(stored.size == 1, s"calculate should store one RDD, stored ${stored.keys}")
    (res, stored.head._2)
  }

  /** Rows as a multiset, doubles by bit pattern (so -0.0 ≠ 0.0 and NaN
    * equals NaN, as `Double.compare == 0`); nulls are equal.
    */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Multiset equality, reporting a few differing rows (not the bags). */
  private def assertSameBag(what: String, got: Map[Seq[Any], Int], want: Map[Seq[Any], Int]): Unit = {
    val gotOnly = got.toSet.diff(want.toSet).take(3)
    val wantOnly = want.toSet.diff(got.toSet).take(3)
    assert(gotOnly.isEmpty && wantOnly.isEmpty, s"$what: got-only $gotOnly, want-only $wantOnly")
  }

  test("stored memory per input bar is at most 100 bytes") {
    val bars = genBars((1L to 16L).map(_ -> 4000L))
    val (_, stored) = calculateStored(bars)
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == stored.id).get
    assert(info.numCachedPartitions == info.numPartitions && info.memSize > 0,
      s"the pass must be stored in memory: $info")
    val perBar = info.memSize.toDouble / (16 * 4000)
    assert(perBar <= 100.0, s"stored $perBar bytes per bar")
    stored.unpersist(blocking = true)
  }

  test("a timeline spanning several pages reads back bit-equal to the lazy surfaces") {
    // ~120k timeline rows of one symbol ≈ 9 MB: three 4 MB pages in one
    // partition, plus small symbols sharing the other partitions
    val bars = genBars(Seq(7L -> 120000L) ++ (1L to 5L).map(_ -> 3000L))
    val (res, stored) = calculateStored(bars)
    val tlPages = stored.asInstanceOf[RDD[InternalRow]]
      .mapPartitions(it => Iterator(it.count(_.getInt(0) == MtmEngine.Family.Timeline.id)))
      .collect().max
    assert(tlPages >= 2, s"fixture premise: one partition's timeline spans $tlPages pages")

    assertSameBag("timeline", bag(res.timeline), bag(MtmEngine.timelineQuery(bars, cfg)))
    assertSameBag("trades", bag(res.trades), bag(MtmEngine.blotterQuery(bars, cfg)))
    val summary = res.summary
    assertSameBag("pnlSummary",
      bag(summary.select("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs")),
      bag(MtmEngine.pnlSummary(bars, cfg)))
    assertSameBag("maxDrawdown",
      bag(summary.select("symbol", "max_drawdown")), bag(MtmEngine.maxDrawdown(bars, cfg)))
    assertSameBag("sharpeRatio",
      bag(summary.select("symbol", "sharpe_ratio")), bag(MtmEngine.sharpeRatio(bars, cfg)))
    assert(summary.count() == 6)
    stored.unpersist(blocking = true)
  }

  test("one job reading two stored frames returns the right rows without re-running the pass") {
    val bars = genBars((1L to 8L).map(_ -> 2000L))
    val (res, stored) = calculateStored(bars)
    def readsStoredPagesOnly(df: DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Range (") && !p.contains("MtmPass") && p.contains("ExistingRDD"),
        s"the job must read the stored pages, not the bars:\n$p")
    }
    val joined = res.timeline.join(res.summary.select("symbol", "pnl", "n_trades"), "symbol")
    readsStoredPagesOnly(joined)
    val wantJoined = MtmEngine.timelineQuery(bars, cfg)
      .join(MtmEngine.pnlSummary(bars, cfg).select("symbol", "pnl", "n_trades"), "symbol")
    assertSameBag("timeline join summary", bag(joined), bag(wantJoined))
    assert(joined.count() == bars.count())

    val twice = res.trades.union(res.trades)
    readsStoredPagesOnly(twice)
    val want = bag(MtmEngine.blotterQuery(bars, cfg))
    assert(want.nonEmpty)
    assertSameBag("trades union trades", bag(twice), want.map { case (k, n) => k -> 2 * n })
    stored.unpersist(blocking = true)
  }

  test("empty bars give three empty frames with the public schemas") {
    val bars = genBars(Seq(1L -> 10L)).filter(lit(false))
    val res = MtmRunner.calculate(bars, cfg)
    def schema(fields: (String, DataType, Boolean)*) =
      StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
    val timeline = schema(
      ("symbol", LongType, false), ("ts", TimestampType, false), ("event_id", LongType, false),
      ("close", DoubleType, false), ("buy", IntegerType, false), ("sell", IntegerType, false),
      ("mtm_ratio", DoubleType, false), ("pnl_ratio", DoubleType, false))
    val trades = schema(
      ("symbol", LongType, false), ("direction", StringType, true),
      ("entry_ts", TimestampType, false), ("entry_price", DoubleType, false),
      ("exit_ts", TimestampType, true), ("exit_price", DoubleType, true),
      ("pnl_norm", DoubleType, true), ("pnl", DoubleType, true),
      ("close_reason", StringType, true), ("is_closed", BooleanType, false))
    val summary = schema(
      ("symbol", LongType, false), ("pnl", DoubleType, true), ("n_trades", LongType, true),
      ("win_rate", DoubleType, true), ("avg_holding_secs", DoubleType, true),
      ("max_drawdown", DoubleType, true), ("sharpe_ratio", DoubleType, true))
    for ((name, df, want) <- Seq(
        ("timeline", res.timeline, timeline), ("trades", res.trades, trades),
        ("summary", res.summary, summary),
        ("timelineQuery", MtmEngine.timelineQuery(bars, cfg), timeline),
        ("blotterQuery", MtmEngine.blotterQuery(bars, cfg), trades))) {
      assert(df.schema == want, s"$name schema")
      assert(df.collect().isEmpty, s"$name must be empty")
    }
    assert(res.queryDict.collect().isEmpty)
  }
}
