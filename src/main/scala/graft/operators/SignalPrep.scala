package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Signal preparation: the Spark-native equivalent of the reference's
  * `Trade_Mtm_Runner._prepare_df_for_analysis`
  * (reference: runner_mtm.py:100-117) — merge buy/sell signal frames with
  * the close-price timeline and derive the per-bar price movement
  * `close(t) - close(t-1)`.
  *
  * The canonical bar view maps the synthetic `events` table onto the
  * reference's input contract: one time series per symbol with
  * (ts, close, buy, sell). `user_id` plays the symbol, `value` the close
  * price, `event_type='purchase'` a buy signal, `'click'` a sell signal.
  * `event_id` breaks timestamp ties so ordering is total and
  * deterministic.
  *
  * Scale notes: the only wide operation is the lag window, which
  * shuffle-partitions by symbol — the same partitioning the downstream
  * MTM engine needs, so Catalyst reuses the exchange. No row explosion,
  * column-pruned scan.
  */
object SignalPrep {

  /** Per-symbol ordered window; event_id tiebreaks equal timestamps. */
  val barWindow = Window.partitionBy("symbol").orderBy("ts", "event_id")

  /** events → (symbol, ts, event_id, close, buy, sell). */
  def bars(events: DataFrame): DataFrame =
    events.select(
      col("user_id").as("symbol"),
      col("ts"),
      col("event_id"),
      col("value").as("close"),
      when(col("event_type") === "purchase", 1).otherwise(0).as("buy"),
      when(col("event_type") === "click", 1).otherwise(0).as("sell")
    )

  /** bars + price_movement (close diff within symbol, null on first bar —
    * the reference's `close.diff(1)` NaN semantics: a NaN diff contributes
    * zero MTM, models.py:92-104).
    */
  def withPriceMovement(bars: DataFrame): DataFrame =
    bars.withColumn(
      "price_movement",
      col("close") - lag("close", 1).over(barWindow)
    )

  /** Full prepared view straight from the raw events table. */
  def prepared(events: DataFrame): DataFrame = withPriceMovement(bars(events))

  // private[graft], not private: Catalyst's generated (de)serializers
  // live outside this class and cannot touch java-private types
  private[graft] final case class EmaBar(
      symbol: Long, ts_us: Long, event_id: Long, close: Double)
  private[graft] final case class EmaPoint(
      symbol: Long, ts_us: Long, event_id: Long, close: Double, ema: Double)

  /** Exponential moving average — the genuinely ORDER-DEPENDENT
    * indicator no window frame can express (every bar's value depends
    * on the whole prefix): ema₀ = close₀; emaₜ = α·closeₜ + (1−α)·emaₜ₋₁.
    * Runs in the MTM engine's layout, stated rather than built: a
    * sorted group per symbol in [[MtmEngine.RunOrder]], so the planner
    * adds one symbol exchange and the secondary sort, and no exchange
    * over input already clustered by symbol (a bucketed table). Each
    * group streams through an O(1)-state iterator — a skewed
    * mega-symbol never buffers. The recurrence is evaluated as the
    * identical IEEE double expression on both the engine and the DuckDB
    * recursive-CTE oracle, so outputs hash-match bit-for-bit.
    */
  def ema(events: DataFrame, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    val order = MtmEngine.RunOrder
    events
      .select(
        col("user_id").cast("long").as("symbol"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long"),
        col("value").cast("double").as("close"))
      .groupBy(col(order.head)).as[Long, EmaBar]
      .flatMapSortedGroups(order.tail.map(col): _*) { (_, bars) =>
        val b0 = bars.next()
        bars.scanLeft(EmaPoint(b0.symbol, b0.ts_us, b0.event_id, b0.close, b0.close)) { (prev, b) =>
          EmaPoint(b.symbol, b.ts_us, b.event_id, b.close, alpha * b.close + (1.0 - alpha) * prev.ema)
        }
      }
      .toDF()
  }

  /** Rolling bar indicators over an n-bar trailing frame — the feature
    * columns a signal-generation strategy reads (SMA, rolling high/low,
    * n-bar momentum, bars-in-frame count). All four share ONE window
    * frame over the engine's canonical (symbol, ts, event_id) order, so
    * the plan is a single symbol exchange + one sort — the same
    * partitioning the MTM engine reuses downstream.
    *
    * Numeric discipline: the SMA is an order-dependent float sum, so the
    * frame sum runs over `floor(close·1e6 + 0.5)` unit longs and divides
    * back in doubles (the engine-agnostic quantization every cumulative
    * oracle here uses — a raw double `avg` would disagree with any other
    * engine's summation order in the last ulps). min/max/momentum/count
    * are exact as-is.
    */
  def indicators(events: DataFrame, nBars: Int = 20): DataFrame = {
    require(nBars >= 1, s"nBars must be >= 1, got $nBars")
    val frame = barWindow.rowsBetween(-(nBars - 1), Window.currentRow)
    val unit = ExactNum.units(col("close"), 1e6)
    withPriceMovement(bars(events))
      .withColumn("sma",
        (sum(unit).over(frame).cast("double") / lit(1e6)) /
          count(lit(1)).over(frame).cast("double"))
      .withColumn("roll_min", min(col("close")).over(frame))
      .withColumn("roll_max", max(col("close")).over(frame))
      .withColumn("momentum",
        (unit - lag(unit, nBars - 1).over(barWindow)).cast("double") / lit(1e6))
      .withColumn("n_in_frame", count(lit(1)).over(frame))
  }
}
