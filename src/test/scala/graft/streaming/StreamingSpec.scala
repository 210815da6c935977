package graft.streaming

import graft.{Sessions, Tables}
import graft.core.PnlConfig
import graft.operators.{Analytics, MtmEngine, MtmRunner}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming parity specs (SURVEY §2 #29-30): MemoryStream
  * feeds real sf0.001 rows in chronological chunks; the streaming
  * results must equal their batch twins.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** sf0.001's bars as stream input, in (ts_us, event_id) order. */
  private def streamBars(): Array[StreamingJobs.StreamBar] =
    MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
      .select("symbol", "ts_us", "event_id", "close", "buy", "sell")
      .orderBy("ts_us", "event_id")
      .collect()
      .map(r => StreamingJobs.StreamBar(
        r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4), r.getInt(5)))

  /** Every field of each trade, doubles as raw bits, as a multiset. */
  private def tradeBag(trades: Seq[StreamingJobs.StreamTrade]) =
    trades.map(t => (t.symbol, t.direction, t.entry_ts_us, bits(t.entry_price), t.exit_ts_us,
        bits(t.exit_price), bits(t.pnl_norm), bits(t.pnl), t.close_reason))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  /** `MtmEngine.blotterQuery`'s closed rows on sf0.001, as stream trades. */
  private def batchClosed(cfg: PnlConfig): Seq[StreamingJobs.StreamTrade] = {
    import spark.implicits._
    MtmEngine.blotterQuery(MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
      .filter(col("is_closed"))
      .select(col("symbol"), col("direction"), unix_micros(col("entry_ts")).as("entry_ts_us"),
        col("entry_price"), unix_micros(col("exit_ts")).as("exit_ts_us"), col("exit_price"),
        col("pnl_norm"), col("pnl"), col("close_reason"))
      .as[StreamingJobs.StreamTrade].collect().toSeq
  }

  test("#29 watermarked tumbling agg matches the batch twin on closed windows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    final case class Ev(ts: java.sql.Timestamp, event_type: String, value: Double)
    val rows = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .orderBy("ts")
      .as[(java.sql.Timestamp, String, Double)]
      .collect()
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingJobs.tumblingAgg(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      stream.addData(h1.toSeq); q.processAllAvailable()
      stream.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("tumbling")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // batch twin, restricted to windows closed by the final watermark
    val maxTs = rows.map(_._1.getTime).max
    val watermarkMs = maxTs - 2L * 3600 * 1000
    val exp = Analytics.tumblingAgg(Tables.events(spark, sfDir))
      .filter(unix_millis(col("wstart")) + 3600000L <= watermarkMs)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(exp.nonEmpty)
    exp.foreach { case (k, (n, total)) =>
      assert(got.contains(k), s"missing closed window $k")
      assert(got(k)._1 == n && math.abs(got(k)._2 - total) < 1e-9, s"window $k mismatch")
    }
  }

  test("#30 streaming blotter matches the batch blotter's closed trades") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val bars = streamBars()
    val cfg = PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1), stoploss = -0.15,
      enableShortPosition = true, maxPositionPerSymbol = 2, feeRate = 0.001)
    val stream = MemoryStream[StreamingJobs.StreamBar]
    val q = StreamingJobs.mtmBlotterStream(stream.toDS(), cfg)
      .writeStream.format("memory").queryName("blotterstream").outputMode(OutputMode.Append).start()
    try {
      bars.grouped(math.max(1, bars.length / 3 + 1)).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    // every field, bit for bit: the stream runs the batch walk
    val got = tradeBag(spark.table("blotterstream").as[StreamingJobs.StreamTrade].collect().toSeq)
    val exp = tradeBag(batchClosed(cfg))
    assert(exp.nonEmpty && got == exp)
  }

  test("#15 streaming session windows match the batch sessionizer on closed sessions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
      .orderBy("ts")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingJobs.sessionAgg(stream.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      stream.addData(h1.toSeq); q.processAllAvailable()
      stream.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val gapMs = 30L * 60 * 1000
    val got = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
        (r.getLong(3), r.getTimestamp(2).getTime - gapMs, r.getDouble(4)))
      .toMap
    // batch twin, restricted to sessions closed by the final watermark
    // (stream emits a session once watermark > last event + gap)
    val watermarkMs = rows.map(_._2.getTime).max - 2L * 3600 * 1000
    val exp = Analytics.sessionize(Tables.events(spark, sfDir))
      .filter(unix_millis(col("session_end")) + gapMs < watermarkMs)
      .select("user_id", "session_start", "n_events", "session_end", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getTimestamp(3).getTime, r.getDouble(4)))
      .toMap
    assert(exp.nonEmpty)
    exp.foreach { case (k, (n, end, v)) =>
      assert(got.contains(k), s"missing closed session $k")
      val (gn, gend, gv) = got(k)
      assert(gn == n && gend == end && math.abs(gv - v) < 1e-9, s"session $k mismatch")
    }
  }

  test("corpus ingest stream: quality gate + watermark-bounded exact dedup") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = new java.sql.Timestamp(1700000000000L)
    def ts(offsetMin: Long) = new java.sql.Timestamp(t0.getTime + offsetMin * 60000L)
    val good = "The quick brown fox jumps over the lazy dog and it is a fine day " * 8
    val good2 = "Lorem ipsum dolor sit amet and the story goes on and on in that way " * 8
    val junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamingJobs.corpusIngestStream(
        stream.toDF().toDF("ingest_ts", "doc_id", "text"),
        minQuality = 0.5, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("ingest").outputMode(OutputMode.Append).start()
    try {
      // b1: one good doc, one junk doc (gated), b2: an exact duplicate of
      // the good doc within the horizon (dropped) + a new good doc
      stream.addData(Seq((ts(0), 1L, good), (ts(0), 2L, junk)))
      q.processAllAvailable()
      stream.addData(Seq((ts(10), 3L, good), (ts(10), 4L, good2)))
      q.processAllAvailable()
      val ids1 = spark.table("ingest").collect().map(_.getLong(1)).toSet
      assert(ids1 == Set(1L, 4L), s"expected quality-gated dedup'd {1,4}, got $ids1")
      // advance event time far past the horizon: doc 1's fingerprint
      // state expires, so a late re-ingest of the same text re-admits
      stream.addData(Seq((ts(120), 5L, good2 + " tail marker of the third batch")))
      q.processAllAvailable()
      stream.addData(Seq((ts(125), 6L, good)))
      q.processAllAvailable()
      val ids2 = spark.table("ingest").collect().map(_.getLong(1)).toSet
      assert(ids2 == Set(1L, 4L, 5L, 6L), s"expired duplicate should re-admit, got $ids2")
    } finally q.stop()
  }

  test("#30 MTM stream plan reuses the explicit exchange+sort (lazy time-ordered groups)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[StreamingJobs.StreamBar]
    val q = StreamingJobs.mtmTimelineStream(stream.toDS(), PnlConfig.default)
      .writeStream.format("memory").queryName("planshape").outputMode(OutputMode.Append).start()
    try {
      stream.addData(Seq(StreamingJobs.StreamBar(1L, 1000000L, 1L, 10.0, 1, 0)))
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("FlatMapGroupsWithState"))
      // exactly the one explicit shuffle and the one 3-column local sort —
      // the planner must not add a key-only re-sort (group laziness depends
      // on the iterator arriving time-ordered) or a second exchange
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
      val sorts = "Sort \\[[^\\]]*\\]".r.findAllIn(plan).toList
      assert(sorts.length == 1 && sorts.head.contains("ts_us") && sorts.head.contains("event_id"), plan)
    } finally q.stop()
  }

  test("#30 MTM streams plan on a vanilla SparkSession (strategy self-registers)") {
    // a library user won't build sessions through graft.Sessions — the
    // LocalSortHint strategy must self-register on whatever session the
    // dataframe carries, or planning dies with 'no strategy for plan'
    val plain = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("plain").getOrCreate()
    import plain.implicits._
    val bars = Seq(
      StreamingJobs.StreamBar(1L, 1000000L, 1L, 10.0, 1, 0),
      StreamingJobs.StreamBar(1L, 2000000L, 2L, 12.0, 0, 1)).toDS()
    // batch-mode execution of the same flatMapGroupsWithState plan —
    // exercises analysis + planning of LocalSortHint on the plain session
    val out = StreamingJobs.mtmBlotterStream(bars, PnlConfig.default).collect()
    assert(out.length == 1 && out.head.pnl_norm == 0.2)
  }

  test("#30 idle symbol is evicted with an EVICTED flush and restores cleanly on re-appearance") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.StreamBar
    val us = 1000000L; val hour = 3600L * us
    val t0 = 1700000000L * us
    val stream = MemoryStream[StreamBar]
    val q = StreamingJobs.mtmBlotterStream(stream.toDS(), PnlConfig.default,
        watermarkDelay = "0 seconds", evictAfterMs = 3600L * 1000)
      .writeStream.format("memory").queryName("evict").outputMode(OutputMode.Append).start()
    try {
      // b1: sym1 opens @100; sym2 heartbeat. b2/b3: sym2 advances event
      // time 4h past sym1's last bar → sym1's 1h idle timeout fires in b3.
      stream.addData(Seq(StreamBar(1, t0, 1, 100.0, 1, 0), StreamBar(2, t0, 2, 50.0, 0, 0)))
      q.processAllAvailable()
      stream.addData(Seq(StreamBar(2, t0 + 4 * hour, 3, 51.0, 0, 0)))
      q.processAllAvailable()
      stream.addData(Seq(StreamBar(2, t0 + 4 * hour + 60 * us, 4, 52.0, 0, 0)))
      q.processAllAvailable()
      val afterEvict = spark.table("evict").collect()
      assert(afterEvict.length == 1, afterEvict.mkString("; "))
      val ev = afterEvict.head
      assert(ev.getLong(0) == 1 && ev.getString(8) == "EVICTED"
        && ev.getLong(2) == t0 && ev.getDouble(3) == 100.0
        && ev.getLong(4) == t0 && ev.getDouble(5) == 100.0 && ev.getDouble(6) == 0.0)
      // re-appearance starts from a FLAT book: buy@120 then sell@130 is a
      // fresh SIGNAL trade — were the old state alive, max-position 1
      // would block the buy and the sell would close the t0 position.
      stream.addData(Seq(
        StreamBar(1, t0 + 5 * hour, 5, 120.0, 1, 0),
        StreamBar(1, t0 + 6 * hour, 6, 130.0, 0, 1)))
      q.processAllAvailable()
      val trades = spark.table("evict").collect().filter(_.getLong(0) == 1L)
      assert(trades.length == 2, trades.mkString("; "))
      val sig = trades.find(_.getString(8) == "SIGNAL").get
      assert(sig.getLong(2) == t0 + 5 * hour && sig.getDouble(3) == 120.0
        && sig.getDouble(5) == 130.0)
    } finally q.stop()
  }

  test("#30 cross-batch out-of-order bar is dropped, never stepped backward") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.StreamBar
    val us = 1000000L; val hour = 3600L * us
    val t0 = 1700000000L * us
    val stream = MemoryStream[StreamBar]
    // generous watermark: the 11:30-style bar below is NOT late by the
    // watermark's standard — only by the symbol's own processed clock
    val q = StreamingJobs.mtmTimelineStream(stream.toDS(), PnlConfig.default,
        watermarkDelay = "24 hours")
      .writeStream.format("memory").queryName("ooo").outputMode(OutputMode.Append).start()
    try {
      stream.addData(Seq(
        StreamBar(1, t0, 1, 100.0, 1, 0),
        StreamBar(1, t0 + 2 * hour, 2, 110.0, 0, 0)))
      q.processAllAvailable()
      // older than the symbol's last processed bar (t0+2h) but within
      // the watermark: stepping it would accrue 90-110 backwards
      stream.addData(Seq(StreamBar(1, t0 + 1 * hour, 3, 90.0, 0, 0)))
      q.processAllAvailable()
      stream.addData(Seq(StreamBar(1, t0 + 3 * hour, 4, 120.0, 0, 0)))
      q.processAllAvailable()
      val got = spark.table("ooo").collect()
        .map(r => (r.getLong(1), r.getDouble(3))).toMap
      assert(!got.contains(t0 + 1 * hour), "the regressing bar must be dropped")
      // the t0+3h bar accrues against close 110 (the last PROCESSED bar),
      // not against the dropped bar's 90: (120-110)/100
      assert(got(t0 + 3 * hour) == (120.0 - 110.0) / 100.0,
        s"book stepped the dropped bar: ${got.toSeq.sortBy(_._1)}")
    } finally q.stop()
  }

  test("#30 a redelivered bar (same ts and event id) is dropped across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.StreamBar
    val us = 1000000L; val hour = 3600L * us
    val t0 = 1700000000L * us
    // bar1 mutates state (opens a long); an at-least-once source may
    // hand it back at the head of any later batch. Without the
    // (ts_us, event_id) high-water mark the replay re-opened the
    // position and re-emitted the point, so the redelivered run is
    // asserted EQUAL to the clean run — duplicate emission, double
    // open (bar2's mtm would double), and double fees all surface here.
    val bar1 = StreamBar(1, t0, 1, 100.0, 1, 0)
    val bar2 = StreamBar(1, t0 + hour, 2, 110.0, 0, 0)
    def run(name: String)(batches: Seq[Seq[StreamBar]]): Seq[(Long, Long, Double)] = {
      val stream = MemoryStream[StreamBar]
      val q = StreamingJobs.mtmTimelineStream(stream.toDS(), PnlConfig.default,
          watermarkDelay = "24 hours")
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        spark.table(name).collect().toSeq
          .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2))
      } finally q.stop()
    }
    val clean = run("rd_clean")(Seq(Seq(bar1), Seq(bar2)))
    val redelivered =
      run("rd_dup")(Seq(Seq(bar1), Seq(bar1), Seq(bar1, bar2)))
    assert(redelivered == clean,
      s"redelivery changed the stream: $redelivered vs $clean")
  }

  test("#32 streaming asof join matches the batch AsofJoin, carrying state across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.{AsofIn, AsofMatch}
    // the same derivation as the batch q_asof_join wiring: purchases
    // probe (side 1), per-(user, ts) deduped clicks quote (side 0)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id").as("key"), unix_micros(col("ts")).as("ts_us"),
      lit(1).as("side"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("event_id"), expr("max_by(value, event_id)").as("value"))
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("ts_us"),
        lit(0).as("side"), col("event_id"), col("value"))
    val expected = graft.operators.AsofJoin(
        purchases.drop("side"), clicks.drop("side"), Seq("key"), "ts_us")
      .collect().map { r =>
        AsofMatch(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Double]))
      }.toSet
    assert(expected.nonEmpty && expected.exists(_.r_ts_us.nonEmpty),
      "test premise: some purchases have a prevailing click")
    // three in-event-time-order micro-batches (global ts split preserves
    // per-key order): prevailing clicks from batch 1 must answer
    // purchases in batches 2-3 through the one-row carry state
    val all = purchases.unionByName(clicks).as[AsofIn].collect()
      .sortBy(r => (r.ts_us, r.event_id))
    val batches = all.grouped(math.max(1, (all.length + 2) / 3)).toSeq
    assert(batches.size == 3)
    val stream = MemoryStream[AsofIn]
    val q = StreamingJobs.asofJoinStream(stream.toDS(), watermarkDelay = "1000 days")
      .writeStream.format("memory").queryName("asof_par").outputMode(OutputMode.Append).start()
    val got =
      try {
        batches.foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
        spark.table("asof_par").as[AsofMatch].collect().toSet
      } finally q.stop()
    assert(got == expected,
      s"asof stream diverged: extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
    // prove the cross-batch carry actually ran: some match's prevailing
    // click is older than the last batch's earliest timestamp
    val lastBatchStart = batches.last.head.ts_us
    assert(got.exists(m => m.ts_us >= lastBatchStart && m.r_ts_us.exists(_ < lastBatchStart)),
      "no match exercised the cross-batch carry")
    // batch-mode execution of the same stream job agrees too
    val batchRun = StreamingJobs.asofJoinStream(all.toSeq.toDS()).collect().toSet
    assert(batchRun == expected, "batch-mode asof stream run diverged")
  }

  test("#30 batch execution of the blotter stream flushes open positions") {
    import spark.implicits._
    import StreamingJobs.StreamBar
    val us = 1000000L
    val t0 = 1700000000L * us
    // one closed trade (buy@100 -> sell@110) and one still-open buy@120
    val bars = Seq(
      StreamBar(1, t0, 1, 100.0, 1, 0),
      StreamBar(1, t0 + us, 2, 110.0, 0, 1),
      StreamBar(1, t0 + 2 * us, 3, 120.0, 1, 0)).toDS()
    val got = StreamingJobs.mtmBlotterStream(bars, PnlConfig.default).collect()
    assert(got.length == 2, got.mkString("; "))
    val open = got.find(_.close_reason == "EVICTED").get
    assert(open.entry_ts_us == t0 + 2 * us && open.entry_price == 120.0,
      "the open position must flush through the eviction path in batch mode")
    assert(got.exists(_.close_reason == "SIGNAL"))
    // on real bars: the EVICTED rows are calculate's OPEN rows, closed at
    // their symbol's last bar
    val cfg = PnlConfig(enableShortPosition = true, maxPositionPerSymbol = 3)
    val real = streamBars()
    val evicted = StreamingJobs.mtmBlotterStream(real.toSeq.toDS(), cfg).collect()
      .filter(_.close_reason == "EVICTED")
    val stillOpen = MtmRunner.calculate(MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
      .trades.filter(!col("is_closed"))
      .select(col("symbol"), col("direction"), unix_micros(col("entry_ts")), col("entry_price"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), bits(r.getDouble(3))))
    assert(stillOpen.nonEmpty, "premise: some position is still open at the end")
    def bag[K](ks: Seq[K]) = ks.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(bag(evicted.toSeq.map(t => (t.symbol, t.direction, t.entry_ts_us, bits(t.entry_price))))
      == bag(stillOpen.toSeq))
    val lastBar = real.groupBy(_.symbol).map { case (s, bs) => s -> bs.last }
    evicted.foreach { t =>
      val b = lastBar(t.symbol)
      assert(t.exit_ts_us == b.ts_us && bits(t.exit_price) == bits(b.close), s"$t vs last bar $b")
    }
  }

  test("#30 timeline stream restarts from a flat book after eviction") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.StreamBar
    val us = 1000000L; val hour = 3600L * us
    val t0 = 1700000000L * us
    val stream = MemoryStream[StreamBar]
    val q = StreamingJobs.mtmTimelineStream(stream.toDS(), PnlConfig.default,
        watermarkDelay = "0 seconds", evictAfterMs = 3600L * 1000)
      .writeStream.format("memory").queryName("evicttl").outputMode(OutputMode.Append).start()
    try {
      stream.addData(Seq(StreamBar(1, t0, 1, 100.0, 1, 0), StreamBar(2, t0, 2, 50.0, 0, 0)))
      q.processAllAvailable()
      stream.addData(Seq(StreamBar(2, t0 + 4 * hour, 3, 51.0, 0, 0)))
      q.processAllAvailable()
      stream.addData(Seq(StreamBar(2, t0 + 4 * hour + 60 * us, 4, 52.0, 0, 0)))
      q.processAllAvailable()
      // sym1 re-appears: with the t0 position evicted the book is flat, so
      // the bar accrues nothing (0.0); live state would accrue 20/100
      stream.addData(Seq(StreamBar(1, t0 + 5 * hour, 5, 120.0, 0, 0)))
      q.processAllAvailable()
      val pt = spark.table("evicttl").collect()
        .find(r => r.getLong(0) == 1L && r.getLong(1) == t0 + 5 * hour).get
      assert(pt.getDouble(3) == 0.0)
    } finally q.stop()
  }

  test("#30 streaming blotter parity holds across engine configs and chunkings") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val bars = streamBars()
    val trials = Seq(
      ("fees_tax", PnlConfig(feeRate = 0.001, laidBackTax = 0.0001), 2),
      ("lifo_maxpos", PnlConfig(enableShortPosition = true, maxPositionPerSymbol = 3,
        inventoryMode = graft.core.InventoryMode.Lifo), 5),
      ("roi_sl_fees", PnlConfig(roi = Map(0 -> 0.15, 120 -> 0.05), stoploss = -0.1,
        enableShortPosition = true, feeRate = 0.0005), 4))
    for (((name, cfg, nChunks), ti) <- trials.zipWithIndex) {
      val stream = MemoryStream[StreamingJobs.StreamBar]
      val q = StreamingJobs.mtmBlotterStream(stream.toDS(), cfg)
        .writeStream.format("memory").queryName(s"bs$ti").outputMode(OutputMode.Append).start()
      try {
        bars.grouped(math.max(1, bars.length / nChunks + 1)).foreach { chunk =>
          stream.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val got = tradeBag(spark.table(s"bs$ti").as[StreamingJobs.StreamTrade].collect().toSeq)
      val exp = tradeBag(batchClosed(cfg))
      assert(exp.nonEmpty && got == exp, s"trial $name ($nChunks chunks) diverged")
    }
  }

  test("#30 blotter stream restarted on its checkpoint equals an uninterrupted run") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingJobs.{StreamBar, StreamTrade}
    val bars = streamBars()
    val cfg = PnlConfig(roi = Map(0 -> 0.15, 120 -> 0.05), stoploss = -0.1,
      enableShortPosition = true, maxPositionPerSymbol = 3, feeRate = 0.0005)
    val chunks = bars.grouped(bars.length / 6 + 1).map(_.toSeq).toSeq
    // a symbol's bars are ~10 h apart on average: at a 6 h horizon some
    // symbols are evicted at every batch, so timeouts cross the restart
    // as well as carries
    val evictMs = 6L * 3600 * 1000
    /** Runs `parts` as consecutive queries on one checkpoint; returns the
      * output and its length after each part.
      */
    def run(tag: String, parts: Seq[Seq[Seq[StreamBar]]]): (Seq[StreamTrade], Seq[Int]) = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_restart_$tag").toString
      val stream = MemoryStream[StreamBar]
      val out = scala.collection.mutable.ArrayBuffer.empty[StreamTrade]
      val sink: (org.apache.spark.sql.Dataset[StreamTrade], Long) => Unit =
        (ds, _) => out ++= ds.collect()
      val sizes = parts.map { part =>
        val q = StreamingJobs.mtmBlotterStream(stream.toDS(), cfg, "0 seconds", evictMs)
          .writeStream.option("checkpointLocation", ckpt).foreachBatch(sink).start()
        try part.foreach { c => stream.addData(c); q.processAllAvailable() } finally q.stop()
        out.length
      }
      (out.toSeq, sizes)
    }
    val (whole, _) = run("whole", Seq(chunks))
    val (restarted, sizes) = run("split", Seq(chunks.take(3), chunks.drop(3)))
    assert(whole.exists(_.close_reason == "EVICTED"), "premise: some symbol is evicted")
    // the restarted query closed positions opened before the restart: the
    // book came back through the state store
    val restartUs = chunks(3).head.ts_us
    assert(restarted.drop(sizes.head).exists(_.entry_ts_us < restartUs),
      "no trade crossed the restart")
    assert(tradeBag(restarted) == tradeBag(whole))
  }

  test("stratified sampling and split assignment run unchanged on streams") {
    // both are stateless projections/filters, so the SAME operator code
    // applies to a readStream DataFrame — and because the keys are
    // content-derived (never rand()), the streamed sample equals the
    // batch sample row-for-row regardless of chunking
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rates = Map("purchase" -> 1.0, "click" -> 0.25, "view" -> 0.05)
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect()
    val stream = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val sampled = graft.operators.Sampling.stratifiedSample(
      stream.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"), rates)
    assert(sampled.isStreaming, "operator must compose with readStream")
    val q = sampled.writeStream.format("memory").queryName("stream_sample")
      .outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 3)
      stream.addData(h1.toSeq); q.processAllAvailable()
      stream.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_sample").select("event_id")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.operators.Sampling.stratifiedSample(Tables.events(spark, sfDir), rates)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == batch, s"streamed sample diverged: ±${(got diff batch).size + (batch diff got).size}")
    // splitAssign composes the same way
    val split = graft.operators.Sampling.splitAssign(
      stream.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.isStreaming)
  }

  test("mixture resample + shuffle-bucket routing: batch-fit tables apply to streams unchanged") {
    // the fit-once / apply-streaming contract (SURVEY §2 #47/#48): the
    // rate table and the bucket cut table are BATCH-fit artifacts; the
    // apply halves are stateless content-keyed projections, so the same
    // operator code composes with a readStream and the streamed output
    // equals the batch output row-for-row under ANY micro-batch
    // chunking. (shuffle_pos itself stays a batch compaction — a stream
    // cannot rank an order it hasn't finished seeing — the spec instead
    // ties the streamed bucket routing to the batch rank order.)
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val target = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val thresholds = Sampling.mixtureThresholds(docs, target)
    val batchKept = Sampling.mixtureResample(docs, target)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val rows = docs.select("doc_id", "source", "lang")
      .as[(Long, String, String)].collect()
    for ((nChunks, tag) <- Seq(2 -> "a", 5 -> "b")) {
      val stream = MemoryStream[(Long, String, String)]
      val streamed = Sampling.applyMixture(
        stream.toDF().toDF("doc_id", "source", "lang"), thresholds)
      assert(streamed.isStreaming, "applyMixture must compose with readStream")
      val q = streamed.writeStream.format("memory").queryName(s"mix$tag")
        .outputMode(OutputMode.Append).start()
      try rows.grouped(math.max(1, rows.length / nChunks + 1)).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(s"mix$tag").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchKept,
        s"$nChunks-chunk streamed mixture diverged from batch: " +
          s"±${(got diff batchKept).size + (batchKept diff got).size}")
    }

    // bucket routing: frozen cuts place streamed docs exactly where the
    // batch compaction ranked them — each streamed bucket must map to a
    // contiguous, bucket-ordered shuffle_pos range of the batch output
    val buckets = 32
    val cuts = Sampling.shuffleCuts(docs, buckets)
    val stream = MemoryStream[(Long, String, String)]
    val routed = Sampling.assignShuffleBuckets(
      stream.toDF().toDF("doc_id", "source", "lang"), cuts)
    assert(routed.isStreaming, "assignShuffleBuckets must compose with readStream")
    val q = routed.writeStream.format("memory").queryName("route")
      .outputMode(OutputMode.Append).start()
    try rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
      stream.addData(chunk.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamBucket = spark.table("route").select("doc_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchPos = Sampling.shuffleShard(docs, 16, buckets)
      .select("doc_id", "shuffle_pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamBucket.keySet == batchPos.keySet)
    val ranges = streamBucket.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, m) =>
      val ps = m.keys.map(batchPos)
      (b, ps.min, ps.max, ps.size)
    }
    ranges.foreach { case (b, lo, hi, n) =>
      assert(hi - lo + 1 == n, s"bucket $b: batch positions not contiguous [$lo,$hi] for $n docs")
    }
    ranges.sliding(2).foreach {
      case Seq((b1, _, hi1, _), (b2, lo2, _, _)) =>
        assert(hi1 < lo2, s"buckets $b1/$b2 overlap in batch order")
      case _ =>
    }
  }

  test("#30 flatMapGroupsWithState MTM engine matches the batch engine") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val bars = streamBars()
    val cfg = PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1), stoploss = -0.15, enableShortPosition = true)
    val stream = MemoryStream[StreamingJobs.StreamBar]
    val q = StreamingJobs.mtmTimelineStream(stream.toDS(), cfg)
      .writeStream.format("memory").queryName("mtmstream").outputMode(OutputMode.Append).start()
    try {
      // three chronological chunks — state must carry across micro-batches
      bars.grouped(math.max(1, bars.length / 3 + 1)).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("mtmstream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val exp = MtmEngine.timeline(
        MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(6)).toMap
    assert(exp.nonEmpty && got.size == exp.size)
    exp.foreach { case (k, v) =>
      assert(got.contains(k) && bits(got(k)) == bits(v), s"bar $k: stream ${got.get(k)} vs batch $v")
    }
  }

  test("corpus ingest stream: redaction + gopher rules match batch stage-for-stage under any chunking") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.TextOps
    // plant an email into every doc, then the structure plants: a doc
    // mix the gopher gate partly keeps and partly drops, and where
    // redaction changes every fingerprint — so a stream that skipped
    // either stage (or ran them in the wrong order relative to the
    // fingerprint) could not match the batch fingerprint set
    val input = TextOps.withPlantedStructure(
      Tables.documents(spark, sfDir).selectExpr(
        "doc_id",
        "concat('ping u', cast(doc_id as string), '@ex', cast(doc_id % 5 as string), '.org ', text) AS text"))
    // batch twin of the ingest's stateless stages 0-2; the dedup stage
    // compares as the SURVIVING FINGERPRINT SET — which member of a
    // duplicate group wins is arrival-order-dependent, the set is not
    val minQuality = 0.5
    val redactedB = input.select(col("doc_id"),
      graft.functions.PiiRedact.redacted(col("text")).getField("clean").as("text"))
    val gatedB = redactedB.filter(TextOps.gopherKeepExpr(col("text")))
    val scoredB = gatedB.filter(TextOps.qualityExpr(col("text")) >= minQuality)
    val batchFps = scoredB.select(TextOps.fingerprintExpr(col("text")).as("fp"))
      .distinct().as[String].collect().toSet
    // the gate must be non-vacuous for the parity to mean anything
    val nTotal = input.count(); val nGated = gatedB.count()
    assert(nGated > 0 && nGated < nTotal, s"gopher gate vacuous: kept $nGated of $nTotal")
    assert(batchFps.nonEmpty)

    val t0 = new java.sql.Timestamp(1700000000000L)
    val rows = input.as[(Long, String)].collect().map { case (id, text) => (t0, id, text) }
    for ((nChunks, tag) <- Seq(2 -> "a", 5 -> "b")) {
      val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
      val q = StreamingJobs.corpusIngestStream(
          stream.toDF().toDF("ingest_ts", "doc_id", "text"),
          minQuality = minQuality, watermarkDelay = "2 hours",
          redactPii = true, gopherRules = true)
        .writeStream.format("memory").queryName(s"ingestrg$tag")
        .outputMode(OutputMode.Append).start()
      try rows.grouped(math.max(1, rows.length / nChunks + 1)).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(s"ingestrg$tag").select("fp_md5", "text").collect()
      val gotFps = out.map(_.getString(0)).toSet
      assert(gotFps == batchFps,
        s"$nChunks-chunk streamed ingest diverged from batch stages: " +
          s"±${(gotFps diff batchFps).size + (batchFps diff gotFps).size}")
      // redaction observable in the emitted rows themselves, not just
      // via the fingerprint: every planted address is gone
      assert(out.forall(r => !r.getString(1).contains("@")),
        "unredacted email escaped the streamed ingest")
    }
  }
}
