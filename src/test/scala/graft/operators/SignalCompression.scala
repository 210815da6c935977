package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed-form window-function plans for the DEFAULT config engine
  * (long-only, max_position=1, signal-close only, no fees) — the
  * SURVEY §4 "SignalCompression" variant. With no ROI/stop-loss
  * feedback, consecutive duplicate signals are no-ops, so the trade
  * blotter is exactly the B→S pairs of the run-length-compressed signal
  * stream, and the mtm timeline is a range join of bars against those
  * trades. Pure window/join plans, no per-row JVM state objects.
  * Test-tree reference: no query plans through it. It is the Spark twin
  * of the DuckDB oracle's closed-form blotter, and SignalCompressionSpec
  * uses it as an independent cross-check of the MtmEngine state machine.
  */
object SignalCompression {

  /** Trade blotter for the default config from the canonical bar view
    * (symbol, ts_us, event_id, close, buy, sell). Output schema matches
    * [[MtmEngine.blotterQuery]].
    */
  def blotter(bars: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("symbol").orderBy("ts_us", "event_id")
    // run-length compression: keep the first signal of each same-action run
    val runs = bars
      .filter(col("buy") === 1 || col("sell") === 1)
      .withColumn("action", when(col("buy") === 1, "B").otherwise("S"))
      .withColumn("pa", lag("action", 1).over(byTime))
      .filter(col("pa").isNull || col("action") =!= col("pa"))
      .withColumn("rn", row_number().over(byTime))
    // drop the (at most one, by alternation) leading SELL run — a sell
    // with no position is a no-op when shorts are disabled
    val firstBuy = runs.filter(col("action") === "B")
      .groupBy("symbol").agg(min(col("rn")).as("rn0"))
    val seq = runs.join(firstBuy, "symbol").filter(col("rn") >= col("rn0"))
    val byRun = Window.partitionBy("symbol").orderBy("rn")
    seq
      .withColumn("exit_ts_us", lead("ts_us", 1).over(byRun))
      .withColumn("exit_eid", lead("event_id", 1).over(byRun))
      .withColumn("exit_price", lead("close", 1).over(byRun))
      .filter(col("action") === "B")
      // raw (price-unit) pnl = pnl_norm × entry_price, in the same column
      // position as MtmEngine.blotterQuery (…, pnl_norm, pnl,
      // close_reason, is_closed) so positional consumers agree
      .withColumn("pn", when(col("exit_ts_us").isNotNull,
        (col("exit_price") - col("close") - lit(0.0) * col("close") - lit(0.0) * col("close"))
          / col("close")))
      .select(
        col("symbol"),
        lit("LONG").as("direction"),
        timestamp_micros(col("ts_us")).as("entry_ts"),
        col("close").as("entry_price"),
        timestamp_micros(col("exit_ts_us")).as("exit_ts"),
        col("exit_eid"),
        col("exit_price"),
        col("pn").as("pnl_norm"),
        (col("pn") * col("close")).as("pnl"),
        when(col("exit_ts_us").isNotNull, lit("SIGNAL")).as("close_reason"),
        col("exit_ts_us").isNotNull.as("is_closed"))
  }

  /** [[blotter]] without the internal exit_eid column — the public
    * blotter schema, matching [[MtmEngine.blotterQuery]].
    */
  def blotterQuery(bars: DataFrame): DataFrame = blotter(bars).drop("exit_eid")

  /** Per-bar mtm timeline + cumulative pnl for the default config:
    * price-movement lag window, then an equi-join on symbol with the
    * trade-interval predicate (entry strictly before the bar; the exit
    * bar still accrues, ties broken by event_id). Output schema matches
    * [[MtmEngine.timelineQuery]].
    */
  def timeline(bars: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("symbol").orderBy("ts_us", "event_id")
    val pm = bars.withColumn("pm", col("close") - lag("close", 1).over(byTime))
    val trades = blotter(bars).select(
      col("symbol"), unix_micros(col("entry_ts")).as("t_entry_us"),
      col("entry_price"), unix_micros(col("exit_ts")).as("t_exit_us"),
      col("exit_eid").as("t_exit_eid"))
    // active interval (entry, exit] in (ts, event_id) lexicographic order:
    // the engine removes a trade during its exit bar AFTER accrual, so the
    // exit bar itself accrues but later same-timestamp bars do not
    val joined = pm.join(trades,
      pm("symbol") === trades("symbol") &&
        col("t_entry_us") < col("ts_us") &&
        (col("t_exit_us").isNull || col("ts_us") < col("t_exit_us") ||
          (col("ts_us") === col("t_exit_us") && col("event_id") <= col("t_exit_eid"))),
      "left")
    val cum = Window.partitionBy(pm("symbol")).orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn(
        "mtm_ratio",
        when(col("entry_price").isNotNull && col("pm").isNotNull,
          col("pm") / col("entry_price")).otherwise(lit(0.0)))
      // same 1e-9 unit quantization as MtmEngine's cumulative ([[ExactNum]])
      .withColumn("pnl_ratio",
        ExactNum.toDouble(sum(ExactNum.units(col("mtm_ratio"), 1e9)).over(cum), 1e9))
      .select(
        pm("symbol"), timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("close"), col("buy"), col("sell"), col("mtm_ratio"), col("pnl_ratio"))
  }
}
