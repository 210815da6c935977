package graft.operators

import graft.{Sessions, Tables}
import graft.core.{PnlConfig, RefSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-vs-sequential parity: the MtmEngine mapPartitions operator
  * must reproduce, per symbol, exactly what the scalar reference replica
  * (RefSim) computes over that symbol's time-ordered bars — across
  * configs including ROI ladders, stop-loss, fees and max-position (the
  * SURVEY §2 #9/#10 spec-level correctness gate).
  *
  * The engine's in-pass derived outputs (cumulative pnl_ratio, pnl, trade
  * stats, max drawdown, Sharpe) are checked against the window and
  * aggregate passes over the timeline and blotter that computed them
  * before, kept here as the reference. Equality is bit-for-bit
  * (`Double.compare == 0`, nulls equal), including for cumulative sums
  * past Long range, and a per-bar unit overflow fails both with the same
  * named error.
  */
class MtmEngineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  /** (symbol → time-ordered bars (tsUs, eventId, close, diff, buy, sell)),
    * ordered by (ts_us, event_id) — the event_id must survive into the
    * comparison keys or duplicate-timestamp bars would collapse in maps.
    */
  private lazy val barsBySymbol: Map[Long, Seq[(Long, Long, Double, Double, Boolean, Boolean)]] = {
    val rows = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
      .orderBy("symbol", "ts_us", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4) == 1, r.getInt(5) == 1))
    rows.groupBy(_._1).map { case (sym, rs) =>
      sym -> rs.toSeq.sortBy(r => (r._2, r._3))
        .foldLeft((List.empty[(Long, Long, Double, Double, Boolean, Boolean)], Double.NaN)) {
          case ((acc, prev), (_, ts, eid, close, b, s)) =>
            val diff = if (prev.isNaN) Double.NaN else close - prev
            ((ts, eid, close, diff, b, s) :: acc, close)
        }._1.reverse
    }
  }

  // ---- reference definitions (window / aggregate passes) ----

  private def seqWindow =
    Window.partitionBy("symbol").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def cumUnits(c: org.apache.spark.sql.Column) =
    sum(ExactNum.units(c, 1e9)).over(seqWindow)

  private def refPnlRatio(tl: DataFrame): DataFrame =
    tl.select(col("symbol"), col("ts_us"), col("event_id"),
      ExactNum.toDouble(cumUnits(col("mtm_ratio")), 1e9).as("pnl_ratio"))

  private def refMaxDrawdown(tl: DataFrame): DataFrame =
    tl.withColumn("cum", cumUnits(col("mtm_ratio")))
      .withColumn("runmax", max(col("cum")).over(seqWindow))
      .groupBy("symbol")
      .agg(ExactNum.toDouble(
        max(greatest(col("runmax"), lit(0).cast("decimal(38,0)")) - col("cum")), 1e9)
        .as("max_drawdown"))

  private def refSharpe(tl: DataFrame): DataFrame = {
    val xs = col("mtm_ratio") - lit(0.000001)
    val raw = when(col("span_ms") =!= 0.0,
        col("sum_x") / (col("span_ms") / lit(1000.0) / lit(3600.0)) /
          col("sigma") * lit(math.sqrt(8760.0)))
      .when(col("sum_x") > 0.0, lit(Double.PositiveInfinity))
      .when(col("sum_x") < 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))
    tl.withColumn("ms", expr("ts_us div 1000 - (CASE WHEN ts_us % 1000 < 0 THEN 1 ELSE 0 END)"))
      .groupBy("symbol")
      .agg(
        ExactNum.sumExact(xs, 1e9).as("sum_x"),
        (max(col("ms")) - min(col("ms"))).cast("double").as("span_ms"),
        stddev_pop(xs).as("sigma"))
      .select(
        col("symbol"),
        when(col("sigma").isNull || col("sigma") === 0.0, lit(-1e50))
          .when(abs(raw) < lit(1e14),
            floor(raw * lit(1e4) + lit(0.5)).cast("double") / lit(1e4))
          .otherwise(raw)
          .as("sharpe_ratio"))
  }

  private def refPnlSummary(tl: DataFrame, bl: DataFrame): DataFrame = {
    val pnlAgg = tl.groupBy("symbol").agg(ExactNum.sumExact(col("mtm_ratio"), 1e9).as("pnl"))
    val tradeAgg = bl
      .filter(col("is_closed"))
      .groupBy("symbol")
      .agg(
        count(lit(1)).as("n_trades"),
        count(when(col("pnl_norm") > 0.0, 1)).as("n_wins"),
        sum(col("exit_ts_us") - col("entry_ts_us")).as("hold_us"))
    pnlAgg.join(tradeAgg, Seq("symbol"), "left").select(
      col("symbol"), col("pnl"),
      coalesce(col("n_trades"), lit(0L)).as("n_trades"),
      (col("n_wins").cast("double") / col("n_trades").cast("double")).as("win_rate"),
      (col("hold_us").cast("double") / col("n_trades").cast("double") / lit(1000000.0))
        .as("avg_holding_secs"))
  }

  private def refSummary(tl: DataFrame, bl: DataFrame): DataFrame =
    refPnlSummary(tl, bl)
      .join(refMaxDrawdown(tl), Seq("symbol"), "left")
      .join(refSharpe(tl), Seq("symbol"), "left")

  // ---- comparison ----

  private val summaryCols =
    Seq("pnl", "n_trades", "win_rate", "avg_holding_secs", "max_drawdown", "sharpe_ratio")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case _ => a == b // null == null
  }

  /** symbol → the named columns' values. */
  private def bySymbol(df: DataFrame, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select(col("symbol") +: cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> cols.indices.map(i => r.get(i + 1))).toMap

  private def assertSame[K](what: String, got: Map[K, Seq[Any]], want: Map[K, Seq[Any]]): Unit = {
    assert(got.keySet == want.keySet, s"$what: key sets differ")
    for ((k, w) <- want; g = got(k); i <- w.indices)
      assert(same(g(i), w(i)), s"$what $k column $i: got ${g(i)}, reference ${w(i)}")
  }

  private def pnlRatios(df: DataFrame): Map[(Long, Long, Long), Seq[Any]] =
    df.select("symbol", "ts_us", "event_id", "pnl_ratio").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> Seq(r.get(3))).toMap

  /** Every in-pass surface equals the reference over `bars`. */
  private def checkParity(bars: DataFrame, cfg: PnlConfig): Unit = {
    val (tlPub, blPub, _) = MtmEngine.combinedRun(bars, cfg)
    val (tl, bl) = (MtmEngine.timelineMicros(tlPub), MtmEngine.blotterMicros(blPub))
    val wantRatios = pnlRatios(refPnlRatio(tl))
    assert(wantRatios.nonEmpty)
    assertSame("combined pnl_ratio", pnlRatios(tl), wantRatios)
    assertSame("timeline pnl_ratio", pnlRatios(MtmEngine.timeline(bars, cfg)), wantRatios)

    val want = bySymbol(refSummary(tl, bl), summaryCols)
    assertSame("calculate summary",
      bySymbol(MtmRunner.calculate(bars, cfg).summary, summaryCols), want)
    def wantOf(c: String*) = want.map { case (s, v) => s -> c.map(n => v(summaryCols.indexOf(n))) }
    assertSame("pnlSummary", bySymbol(MtmEngine.pnlSummary(bars, cfg), summaryCols.take(4)),
      wantOf(summaryCols.take(4): _*))
    assertSame("maxDrawdown", bySymbol(MtmEngine.maxDrawdown(bars, cfg), Seq("max_drawdown")),
      wantOf("max_drawdown"))
    assertSame("sharpeRatio", bySymbol(MtmEngine.sharpeRatio(bars, cfg), Seq("sharpe_ratio")),
      wantOf("sharpe_ratio"))
  }

  private val configs: Seq[(String, PnlConfig)] = Seq(
    "default" -> PnlConfig.default,
    "long_short" -> PnlConfig(enableShortPosition = true),
    "fees_tax" -> PnlConfig(feeRate = 0.001, laidBackTax = 0.0001),
    "roi_stoploss" -> PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1, 1440 -> 0.02),
      stoploss = -0.15, enableShortPosition = true),
    "max_position_3" -> PnlConfig(maxPositionPerSymbol = 3, enableShortPosition = true)
  )

  for ((name, cfg) <- configs) {
    test(s"timeline parity vs scalar replica: $name") {
      val got = MtmEngine.timeline(
          MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
        .select("symbol", "ts_us", "event_id", "mtm_ratio")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
      var checked = 0
      for ((sym, bars) <- barsBySymbol) {
        val exp = RefSim.run(cfg, bars.map { case (ts, _, c, d, b, s) => (ts, c, d, b, s) }).mtm
        bars.zip(exp).foreach { case ((ts, eid, _, _, _, _), e) =>
          val g = got((sym, ts, eid))
          // addition order across open positions may differ → 1e-12 tol
          assert(math.abs(g - e) <= 1e-12 * math.max(1.0, math.abs(e)),
            s"symbol $sym ts $ts eid $eid: engine $g vs replica $e")
          checked += 1
        }
      }
      assert(checked == got.size && checked > 0)
    }

    test(s"blotter parity vs scalar replica: $name") {
      val got = MtmEngine.blotter(
          MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(7)) "OPEN" else r.getString(7)))
        .toSet
      val exp = barsBySymbol.flatMap { case (sym, bars) =>
        val r = RefSim.run(cfg, bars.map { case (ts, _, c, d, b, s) => (ts, c, d, b, s) })
        r.closed.map(t => (sym, if (t.long) "LONG" else "SHORT", t.entryUs, t.exitUs, t.reason)) ++
          r.open.map(t => (sym, if (t.long) "LONG" else "SHORT", t.entryUs, -1L, "OPEN"))
      }.toSet
      assert(got == exp)
    }

    test(s"in-pass summaries equal the window/aggregate reference bit for bit: $name") {
      checkParity(MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
    }
  }

  /** A frame's rows as a multiset: doubles by their bits (so equal
    * means `Double.compare == 0`), nulls equal.
    */
  private def rowBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** `sliced`'s (timeline, blotter, summary) equal `want`'s — every
    * column, bit for bit, as multisets (so a dropped or doubled row at a
    * slice boundary is caught).
    */
  private def assertSlicedSame(
      what: String, sliced: (DataFrame, DataFrame, DataFrame), want: MtmRunner.MtmResult): Unit =
    for ((family, got, exp) <- Seq(("timeline", sliced._1, want.timeline),
        ("blotter", sliced._2, want.trades), ("summary", sliced._3, want.summary))) {
      assert(got.schema == exp.schema, s"$what $family schema")
      val (g, e) = (rowBag(got), rowBag(exp))
      assert(e.nonEmpty, s"$what $family: test premise")
      assert(g == e, s"$what $family" +
        s"\nsliced-only: ${(g.toSet -- e.toSet).take(5)}" +
        s"\nunsliced-only: ${(e.toSet -- g.toSet).take(5)}")
    }

  test("time-sliced run equals the unsliced engine under a planted mega-symbol") {
    // collapse half the users into symbol 777 → one symbol carries ~50%
    // of all bars (the skew case slicing exists for); event_id keeps
    // every bar unique within the merged stream
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
      .withColumn("symbol", when(col("symbol") % 2 === 0, lit(777L)).otherwise(col("symbol")))
    val cfg = PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1), stoploss = -0.15,
      enableShortPosition = true, maxPositionPerSymbol = 2, feeRate = 0.001)
    // identical arithmetic path per bar (the carry preserves position
    // order, the previous close and the run's exact sums) → bit-exact
    assertSlicedSame("4 slices", MtmEngine.runSliced(bars, cfg, nSlices = 4),
      MtmRunner.calculate(bars, cfg))
  }

  test("time-sliced run matches under adversarial explicit cuts; bad cuts rejected") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val cfg = PnlConfig(roi = Map(0 -> 0.2), stoploss = -0.15, enableShortPosition = true)
    val Array(minTs, maxTs) = bars
      .agg(min(col("ts_us")), max(col("ts_us"))).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val want = MtmRunner.calculate(bars, cfg)
    val span = maxTs - minTs
    // degenerate cut sets: empty slices at both ends (cuts outside the
    // data range), a cut exactly ON the min (first slice empty), dense
    // cuts clustered in one corner, and a seeded random ascending draw
    val rnd = new scala.util.Random(11)
    val randomCuts = Seq.fill(6)(minTs + (rnd.nextDouble() * span).toLong)
      .distinct.sorted
    val cutSets = Seq(
      Seq(minTs - 1000L, maxTs + 1000L),
      Seq(minTs),
      Seq(minTs + span / 100, minTs + span / 50, minTs + span / 25),
      randomCuts)
    for (cuts <- cutSets)
      assertSlicedSame(s"cuts $cuts", MtmEngine.runSliced(bars, cfg, cuts), want)
    // overlapping/unsorted cuts would silently duplicate rows — rejected
    intercept[IllegalArgumentException] {
      MtmEngine.runSliced(bars, cfg, Seq(minTs + 2000L, minTs + 1000L))
    }
    intercept[IllegalArgumentException] {
      MtmEngine.runSliced(bars, cfg, Seq(minTs + 1000L, minTs + 1000L))
    }
  }

  test("a carry that crosses an empty slice is restored and re-emitted unchanged") {
    import spark.implicits._
    val sec = 1000000L
    def b(sym: Long, t: Long, close: Double, buy: Int = 0, sell: Int = 0) =
      (sym, t * sec, sym * 100 + t, close, buy, sell)
    // symbol 1 holds three longs and symbol 2 two shorts at cut 1 (5 s),
    // and neither has a bar in [5 s, 8 s); after 8 s the carried entries
    // are closed by ROI (the restored entry prices and times) and by
    // FIFO signals (the restored order). Symbol 3 fills the middle
    // slice; symbol 4 has no bar after cut 1, so its two longs and its
    // summary come out of carries only.
    val bars = Seq(
      b(1, 1, 10.0, buy = 1), b(1, 2, 10.5, buy = 1), b(1, 3, 10.3, buy = 1),
      b(1, 10, 11.0), b(1, 11, 10.8, sell = 1), b(1, 12, 10.9),
      b(2, 1, 20.0, sell = 1), b(2, 2, 19.0, sell = 1), b(2, 3, 19.5),
      b(2, 10, 18.0, buy = 1), b(2, 11, 18.5),
      b(3, 1, 5.0, buy = 1), b(3, 2, 5.1), b(3, 3, 5.2), b(3, 4, 5.0), b(3, 6, 4.9),
      b(3, 7, 5.3, sell = 1), b(3, 10, 5.5), b(3, 12, 5.4),
      b(4, 1, 7.0, buy = 1), b(4, 2, 7.3, buy = 1), b(4, 3, 7.2)
    ).toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
    val cfg = PnlConfig(roi = Map(0 -> 0.08), enableShortPosition = true,
      maxPositionPerSymbol = 3, feeRate = 0.001, laidBackTax = 0.0001)
    val want = MtmRunner.calculate(bars, cfg)
    // premise: the positions open at 5 s, per symbol, in the unsliced run
    val openAtCut = want.trades
      .filter(col("entry_ts") < timestamp_micros(lit(5 * sec)) &&
        (col("exit_ts").isNull || col("exit_ts") >= timestamp_micros(lit(8 * sec))))
      .groupBy("symbol").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(openAtCut == Map(1L -> 3L, 2L -> 2L, 4L -> 2L), s"premise: $openAtCut")
    // [4.5 s, 5 s) and [12.5 s, ∞) hold no bar at all
    for (cuts <- Seq(Seq(5 * sec, 8 * sec), Seq(4 * sec + sec / 2, 5 * sec, 8 * sec, 12 * sec + sec / 2)))
      assertSlicedSame(s"cuts $cuts", MtmEngine.runSliced(bars, cfg, cuts), want)
  }

  test("engine is insensitive to input row order") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val scrambled = bars.orderBy(rand(seed = 7))
    val a = MtmEngine.timelineQuery(bars, PnlConfig.default)
      .orderBy("symbol", "ts", "event_id").collect().toSeq
    val b = MtmEngine.timelineQuery(scrambled, PnlConfig.default)
      .orderBy("symbol", "ts", "event_id").collect().toSeq
    assert(a == b)
  }

  private def degenerateBars: DataFrame = {
    import spark.implicits._
    Seq(
      (10L, 1000L * 1000, 1L, 100.0, 1, 0), (10L, 2000L * 1000, 2L, 100.0, 0, 0),
      (10L, 3000L * 1000, 3L, 100.0, 0, 0), // constant price: sigma = 0
      (20L, 5000L * 1000, 4L, 50.0, 1, 0), // single bar
      (30L, 6000L * 1000, 5L, 10.0, 1, 0), // three bars inside ms 6000,
      (30L, 6000L * 1000 + 300, 6L, 20.0, 0, 0), // rising: sigma > 0,
      (30L, 6000L * 1000 + 600, 7L, 40.0, 0, 0), // span_ms = 0
      (40L, 7000L * 1000, 8L, 5.0, 0, 0), (40L, 8000L * 1000, 9L, 6.0, 0, 0) // no signals
    ).toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
  }

  test("degenerate bars: constant price, single bar, and sub-ms symbols don't crash sharpe") {
    // Regression for the ANSI span_ms=0 division (r13): a symbol whose
    // bars ALL land inside one millisecond, with price movement so
    // σ > 0, used to error the job at sharpe materialization
    // (DIVIDE_BY_ZERO — count() masked it via column pruning). The
    // guarded expression must yield the IEEE value DuckDB's double
    // division produces: +inf here (rising prices ⇒ sum_x > 0).
    // Constant-price and single-bar symbols take the σ = 0 sentinel.
    val bars = degenerateBars
    val sharpe = MtmEngine.sharpeRatio(bars, PnlConfig.default)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sharpe(10L) == -1e50, "constant price must take the sigma=0 sentinel")
    assert(sharpe(20L) == -1e50, "single bar must take the sigma=0 sentinel")
    assert(sharpe(30L).isPosInfinity,
      s"sub-ms rising symbol must be +inf (IEEE x/0), got ${sharpe(30L)}")
    // the sibling queries flow the same degenerate bars without error —
    // including the no-signal symbol (n_trades = 0 through pnlSummary's
    // win-rate/holding divisions)
    assert(MtmEngine.maxDrawdown(bars, PnlConfig.default).collect().length == 4)
    assert(MtmEngine.pnlSummary(bars, PnlConfig.default).collect().length == 4)
    assert(MtmEngine.timelineQuery(bars, PnlConfig.default).collect().length == 9)
  }

  test("timeline row count equals bar count; one row per bar") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val n = bars.count()
    assert(MtmEngine.timeline(bars, PnlConfig.default).count() == n)
  }

  test("in-pass summaries equal the reference on degenerate bars") {
    checkParity(degenerateBars, PnlConfig.default)
    checkParity(degenerateBars,
      PnlConfig(feeRate = 0.001, laidBackTax = 0.0001, enableShortPosition = true))
  }

  /** A long entered at a tiny positive price: each later bar's mtm is
    * its price jump ÷ 1e-3.
    */
  private def jumpBars(symbol: Long, closes: Seq[Double]): Seq[(Long, Long, Long, Double, Int, Int)] =
    closes.zipWithIndex.map { case (c, i) =>
      (symbol, (i + 1) * 1000000L, symbol * 100 + i, c, if (i == 0) 1 else 0, 0)
    }

  /** Per-bar mtm ≈ ±9e9 (9e18 units, just under 2^63) on symbol 1: the
    * cumulative reaches ≈ 2.7e19 units after its 4th bar (4 s) and the
    * drawdown back to ≈ 0 as much.
    */
  private def longRangeBars: DataFrame = {
    import spark.implicits._
    val p = 1e-3
    (jumpBars(1L, Seq(p, p + 9e6, p + 1.8e7, p + 2.7e7, p + 1.8e7, p + 9e6, p)) ++
      jumpBars(2L, Seq(10.0, 11.0, 9.5, 12.0)))
      .toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
  }

  test("cumulative units past Long range match the DECIMAL reference exactly, never wrapping") {
    val bars = longRangeBars
    val (tlPub, _, sm) = MtmEngine.combinedRun(bars, PnlConfig.default)
    val peakUnits = refPnlRatio(MtmEngine.timelineMicros(tlPub)).filter(col("symbol") === 1L)
      .agg(max(col("pnl_ratio"))).head().getDouble(0) * 1e9
    assert(peakUnits > 2.0 * Long.MaxValue, s"test premise: peak $peakUnits units")
    val dd = sm.filter(col("symbol") === 1L).select("max_drawdown").head().getDouble(0) * 1e9
    assert(dd > 2.0 * Long.MaxValue, s"drawdown $dd units must not wrap")
    checkParity(bars, PnlConfig.default)
  }

  test("a unit sum past Long range crosses a slice cut exactly") {
    val bars = longRangeBars
    val (tlPub, blPub, _) = MtmEngine.combinedRun(bars, PnlConfig.default)
    val (tl, bl) = (MtmEngine.timelineMicros(tlPub), MtmEngine.blotterMicros(blPub))
    // the cut falls after symbol 1's 4th bar, where the cumulative and
    // the peak are past 2^64 units: the carry's hi words are nonzero
    val cut = 4500000L
    val atCut = refPnlRatio(tl).filter(col("symbol") === 1L && col("ts_us") < cut)
      .agg(max(col("pnl_ratio"))).head().getDouble(0) * 1e9
    assert(atCut > 18446744073709551616.0, s"test premise: $atCut units at the cut")
    val sliced = MtmEngine.runSliced(bars, PnlConfig.default, Seq(cut))
    assertSame("sliced summary", bySymbol(sliced._3, Seq("pnl", "max_drawdown")),
      bySymbol(refSummary(tl, bl), Seq("pnl", "max_drawdown")))
    assertSlicedSame("one cut", sliced, MtmRunner.calculate(bars, PnlConfig.default))
  }

  test("a single bar's unit overflow fails with the ExactNum.units error, like the reference") {
    import spark.implicits._
    val p = 1e-3
    // mtm ≈ 1e10 → |mtm·1e9 + 0.5| ≈ 1e19 ≥ 2^63
    val bars = jumpBars(1L, Seq(p, p + 1e7)).toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
    def failure(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val msg = "ExactNum.units overflow at scale 1.0E9"
    // the reference over the same per-bar mtm (the pass itself can no
    // longer produce an unquantized timeline for this input)
    val tl = Seq((1L, 1000000L, 100L, 0.0), (1L, 2000000L, 101L, 1e10))
      .toDF("symbol", "ts_us", "event_id", "mtm_ratio")
    assert(failure(refPnlRatio(tl).collect()).contains(msg), "reference premise")
    for ((name, run) <- Seq[(String, () => Any)](
        "timelineQuery" -> (() => MtmEngine.timelineQuery(bars, PnlConfig.default).collect()),
        "pnlSummary" -> (() => MtmEngine.pnlSummary(bars, PnlConfig.default).collect()),
        "maxDrawdown" -> (() => MtmEngine.maxDrawdown(bars, PnlConfig.default).collect()),
        "sharpeRatio" -> (() => MtmEngine.sharpeRatio(bars, PnlConfig.default).collect()),
        "calculate" -> (() => MtmRunner.calculate(bars, PnlConfig.default).summary.collect())))
      assert(failure(run()).contains(msg), s"$name must fail with the named overflow")
  }
}
