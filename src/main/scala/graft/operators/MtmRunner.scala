package graft.operators

import graft.core.PnlConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing API mirroring the reference's public surface:
  * `Trade_Mtm_Runner.calculate(symbol, buy_df, sell_df) → Mtm_Result`
  * (reference: runner_mtm.py:71-205) — except Spark-native and
  * multi-symbol: one call computes every symbol's result from one
  * distributed pipeline instead of a per-symbol pandas loop.
  */
object MtmRunner {

  /** Caller-supplied bookkeeping identity of a run — the reference
    * `Mtm_Result`'s id block (models.py:205-208,221: strategy_id,
    * batch_id, data_key, strategy_name, params). The reference's
    * `calculate()` leaves these at their defaults for external callers
    * to fill; here they ride in at call time.
    */
  final case class RunMeta(
      strategyId: Option[String] = None,
      batchId: Option[String] = None,
      dataKey: Option[String] = None,
      strategyName: Option[String] = None,
      params: Map[String, String] = Map.empty)

  /** The reference's `Mtm_Result` (models.py:203-234), re-expressed as
    * DataFrames over one materialized engine pass: `summary` carries the scalar block (pnl,
    * max_drawdown, sharpe_ratio per symbol), `timeline` the pnl_timeline
    * dict, `trades` the archive + outstanding lists. `meta` and the run
    * epochs are the bookkeeping block; `queryDict` is the
    * `to_query_dict()` surface (models.py:236-255).
    */
  final case class MtmResult(
      summary: DataFrame,
      timeline: DataFrame,
      trades: DataFrame,
      meta: RunMeta = RunMeta(),
      runStartEpoch: Long = 0L,
      runEndEpoch: Long = 0L) {

    /** The reference's `to_query_dict()` as a per-symbol DataFrame: id
      * fields, scalar metrics, market/run epochs (seconds), and the four
      * archive/outstanding sizes (`to_Dict`'s derived size fields,
      * models.py:229-234). Market epochs come from the data itself;
      * run epochs bracket the `calculate` call, which runs the engine pass
      * eagerly (the frames read its stored pages).
      */
    def queryDict: DataFrame = {
      val mkt = timeline.groupBy("symbol").agg(
        expr("min(unix_micros(ts)) div 1000000").as("mkt_start_epoch"),
        expr("max(unix_micros(ts)) div 1000000").as("mkt_end_epoch"))
      val sizes = trades.groupBy("symbol").agg(
        sum(when(col("direction") === "LONG" && col("is_closed"), 1L).otherwise(0L))
          .as("long_trades_archive_size"),
        sum(when(col("direction") === "SHORT" && col("is_closed"), 1L).otherwise(0L))
          .as("short_trades_archive_size"),
        sum(when(col("direction") === "LONG" && !col("is_closed"), 1L).otherwise(0L))
          .as("long_trades_outstanding_size"),
        sum(when(col("direction") === "SHORT" && !col("is_closed"), 1L).otherwise(0L))
          .as("short_trades_outstanding_size"))
      summary
        .join(mkt, Seq("symbol"), "left")
        .join(sizes, Seq("symbol"), "left")
        .select(
          col("symbol"),
          lit(meta.batchId.orNull).cast("string").as("batch_id"),
          lit(meta.dataKey.orNull).cast("string").as("data_key"),
          lit(meta.strategyName.orNull).cast("string").as("strategy_name"),
          lit(meta.strategyId.orNull).cast("string").as("strategy_id"),
          col("pnl"), col("max_drawdown"), col("sharpe_ratio"),
          col("mkt_start_epoch"), col("mkt_end_epoch"),
          lit(runStartEpoch).as("run_start_epoch"),
          lit(runEndEpoch).as("run_end_epoch"),
          coalesce(col("long_trades_archive_size"), lit(0L)).as("long_trades_archive_size"),
          coalesce(col("short_trades_archive_size"), lit(0L)).as("short_trades_archive_size"),
          coalesce(col("long_trades_outstanding_size"), lit(0L)).as("long_trades_outstanding_size"),
          coalesce(col("short_trades_outstanding_size"), lit(0L)).as("short_trades_outstanding_size"))
    }
  }

  /** Run the full MTM calculation for every symbol in `bars`.
    *
    * @param bars canonical bar view: (symbol, ts_us, event_id, close,
    *             buy, sell) — see [[MtmEngine.barsFromEvents]].
    * @param meta caller bookkeeping ids threaded into [[MtmResult.queryDict]].
    */
  def calculate(
      bars: DataFrame,
      cfg: PnlConfig = PnlConfig.default,
      meta: RunMeta = RunMeta()): MtmResult = {
    val runStart = System.currentTimeMillis() / 1000L
    // ONE engine pass, stored here, for every part: the pass writes the
    // timeline (with its cumulative pnl_ratio), the blotter and one
    // summary row per symbol run into per-family pages, and each frame
    // below reads its own family's pages — no join, window or aggregate
    // re-reads them
    val (timeline, trades, summary) = MtmEngine.combinedRun(bars, cfg)
    MtmResult(
      summary = summary,
      timeline = timeline,
      trades = trades,
      meta = meta,
      runStartEpoch = runStart,
      runEndEpoch = System.currentTimeMillis() / 1000L)
  }

  /** The reference's `HyperOptPnlCalculator_Adapter`
    * (runner_mtm.py:207-236): a near-zero pnl is mapped to the sentinel
    * floor (−1e50) and its drawdown to the ceiling (1e50) so hyper-opt
    * search never selects a do-nothing parameterization.
    */
  def hyperOptAdapter(summary: DataFrame): DataFrame = {
    // ONE projection (each withColumn would re-analyse the whole plan);
    // every rewrite reads the INPUT pnl, so the flag is taken before pnl
    // is rewritten
    val degen = abs(col("pnl")) < 1e-12
    summary.select(summary.columns.toIndexedSeq.map {
      case "pnl" => when(degen, lit(-1e50)).otherwise(col("pnl")).as("pnl")
      case "max_drawdown" =>
        when(degen, lit(1e50)).otherwise(col("max_drawdown")).as("max_drawdown")
      case c => col(s"`${c.replace("`", "``")}`")
    }: _*)
  }
}
