package graft.operators

import graft.{Sessions, Tables}
import graft.core.PnlConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The user-facing runner surface: Mtm_Result parts agree with the
  * underlying engine queries, and the HyperOpt adapter clamps degenerate
  * results exactly like the reference (runner_mtm.py:207-236).
  */
class MtmRunnerSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  test("calculate() summary joins pnl, drawdown, and sharpe per symbol") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val res = MtmRunner.calculate(bars, PnlConfig.default)
    val rows = res.summary.collect()
    assert(rows.nonEmpty)
    assert(res.summary.columns.toSet ==
      Set("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs", "max_drawdown", "sharpe_ratio"))
    assert(res.timeline.count() > 0 && res.trades.count() > 0)
    // drawdown column equals the standalone operator
    val dd = MtmEngine.maxDrawdown(bars, PnlConfig.default)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("max_drawdown")) == dd(r.getLong(0)))
    }
  }

  test("queryDict mirrors to_query_dict: ids, metrics, epochs, archive sizes") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val meta = MtmRunner.RunMeta(
      strategyId = Some("strat-1"), batchId = Some("batch-7"),
      dataKey = Some("sf0.001/events"), strategyName = Some("momentum"),
      params = Map("roi" -> "none"))
    val res = MtmRunner.calculate(bars, PnlConfig.default, meta)
    val qd = res.queryDict
    // the reference's fields_queryable list (models.py:236-255), plus
    // symbol because this engine is multi-symbol
    assert(qd.columns.toSeq == Seq(
      "symbol", "batch_id", "data_key", "strategy_name", "strategy_id",
      "pnl", "max_drawdown", "sharpe_ratio",
      "mkt_start_epoch", "mkt_end_epoch", "run_start_epoch", "run_end_epoch",
      "long_trades_archive_size", "short_trades_archive_size",
      "long_trades_outstanding_size", "short_trades_outstanding_size"))
    val rows = qd.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(r.fieldIndex("batch_id")) == "batch-7")
      assert(r.getString(r.fieldIndex("strategy_id")) == "strat-1")
      assert(r.getLong(r.fieldIndex("mkt_start_epoch")) <= r.getLong(r.fieldIndex("mkt_end_epoch")))
      assert(r.getLong(r.fieldIndex("run_start_epoch")) <= r.getLong(r.fieldIndex("run_end_epoch")))
    }
    // archive sizes agree with a direct count over the trades frame
    val s0 = rows.head
    val sym = s0.getLong(0)
    val expected = res.trades
      .filter(col("symbol") === sym && col("direction") === "LONG" && col("is_closed"))
      .count()
    assert(s0.getLong(s0.fieldIndex("long_trades_archive_size")) == expected)
    // default-config runs (long-only) must report zero short archives
    rows.foreach(r => assert(r.getLong(r.fieldIndex("short_trades_archive_size")) == 0L))
  }

  test("hyperopt adapter clamps near-zero pnl to the sentinel floor/ceiling") {
    import spark.implicits._
    val df = Seq(
      (1L, 0.0, 0.5),    // degenerate
      (2L, 1e-13, 0.2),  // degenerate (below 1e-12)
      (3L, 0.25, 0.1)    // healthy
    ).toDF("symbol", "pnl", "max_drawdown")
    val out = MtmRunner.hyperOptAdapter(df)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((-1e50, 1e50)))
    assert(out(2L) == ((-1e50, 1e50)))
    assert(out(3L) == ((0.25, 0.1)))
    // without a drawdown column only pnl is clamped
    val noDd = MtmRunner.hyperOptAdapter(Seq((1L, 0.0)).toDF("symbol", "pnl"))
    assert(noDd.columns.toSeq == Seq("symbol", "pnl"))
    assert(noDd.collect().head.getDouble(1) == -1e50)
  }

  /** The adapter as the chain of `withColumn`s it replaced. */
  private def adapterChain(summary: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val flagged = summary
      .withColumn("_degen", abs(col("pnl")) < 1e-12)
      .withColumn("pnl", when(col("_degen"), lit(-1e50)).otherwise(col("pnl")))
    val clamped =
      if (summary.columns.contains("max_drawdown"))
        flagged.withColumn(
          "max_drawdown", when(col("_degen"), lit(1e50)).otherwise(col("max_drawdown")))
      else flagged
    clamped.drop("_degen")
  }

  test("hyperopt adapter's one projection equals the withColumn chain on both summary shapes") {
    import spark.implicits._
    val full = Seq[(Long, java.lang.Double, Long, java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double)](
      (1L, 0.0, 0L, null, null, 0.5, -1e50),
      (2L, 1e-13, 2L, 0.5, 60.0, 0.2, 1.25),
      (3L, -1e-13, 1L, 0.0, 30.0, 0.1, -0.5),
      (4L, -0.0, 0L, null, null, 0.0, -1e50),
      (5L, 0.25, 3L, 1.0, 10.0, 0.1, 2.0),
      (6L, 1e-12, 1L, 1.0, 5.0, 0.3, 0.7),
      (7L, null, 0L, null, null, null, null)
    ).toDF("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs", "max_drawdown", "sharpe_ratio")
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    for ((name, summary) <- Seq(
        "with max_drawdown" -> full,
        "without max_drawdown" -> full.drop("max_drawdown"),
        "calculate's summary" -> MtmRunner.calculate(bars, PnlConfig.default).summary,
        "pnlSummary" -> MtmEngine.pnlSummary(bars, PnlConfig.default))) {
      val got = MtmRunner.hyperOptAdapter(summary)
      val want = adapterChain(summary)
      assert(got.schema == want.schema, s"$name schema")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      val (g, w) = (rows(got), rows(want))
      assert(g.length == w.length && g.nonEmpty, s"$name row count")
      for ((gr, wr) <- g.zip(w); (a, b) <- gr.zip(wr)) {
        val same = (a, b) match {
          case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
          case _ => a == b
        }
        assert(same, s"$name: got $gr, chain $wr")
      }
    }
  }

  test("approx tumbling agg stays within rsd of the exact distinct counts") {
    val exact = Analytics.tumblingAgg(Tables.events(spark, sfDir))
      .select("wstart", "event_type", "n_users")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = Analytics.tumblingAggApprox(Tables.events(spark, sfDir), rsd = 0.05)
      .select("wstart", "event_type", "n_users_approx")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(2.0, 0.25 * n), s"window $k: $n vs ${approx(k)}")
    }
  }
}
