package graft.indicators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Technical-indicator engine: the Spark-native re-expression of the
  * reference's grouped-map pandas UDF (reference `spark-streaming.py:
  * 164-194`), which computes SMA-20, EMA-20, RSI-14 and MACD per
  * (coin_id, exchange) time series.
  *
  * Design (SURVEY.md §2.6-2.7, §2.12): every indicator is a window
  * expression over ONE shared window spec — `partitionBy(keys).orderBy(ts)`
  * — so the physical plan contains a single exchange + sort feeding a
  * single `Window` operator that evaluates all indicators in one pass.
  * No UDFs, no per-group materialization; at scale the cost is exactly one
  * hash shuffle on the series key.
  *
  * pandas-parity details encoded here (SURVEY.md §7.4):
  *   - `rolling(n).mean()` yields null until n rows are seen
  *     (`min_periods` defaults to the window size) → we mask with a
  *     row-count-over-frame check.
  *   - `ewm(span, adjust=False)` seeds y0 = x0 → see [[Ewma]].
  *   - RSI divides mean-gain by mean-loss; pandas float semantics give
  *     `rs=∞ → RSI=100` when loss=0 ∧ gain>0, and `NaN` when both are 0.
  *     We encode both branches explicitly (null for the NaN case) rather
  *     than relying on IEEE division, so the DuckDB oracle (where x/0 is
  *     NULL) can express identical semantics.
  *   - RSI uses the 14-row simple mean of clipped deltas (Cutler's RSI,
  *     what the reference computes) — NOT Wilder smoothing.
  */
object Indicators {

  /** Rolling mean over the trailing `n` rows, null until `n` rows seen
    * (pandas `rolling(n).mean()` parity; reference `spark-streaming.py:170`). */
  def rollingMeanMasked(value: Column, w: WindowSpec, n: Int): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    when(count(value).over(frame) === n, avg(value).over(frame))
  }

  /** Per-key lag difference (pandas `diff()`; reference `spark-streaming.py:174`). */
  def diff(value: Column, w: WindowSpec): Column =
    value - lag(value, 1).over(w)

  /** Positive / negative move components for RSI (reference
    * `spark-streaming.py:175-176`). */
  def gain(delta: Column): Column = when(delta > 0, delta).otherwise(0.0)
  def loss(delta: Column): Column = when(delta < 0, -delta).otherwise(0.0)

  /** Cutler's RSI over `n` periods from avg gain / avg loss columns.
    * Explicit zero-handling mirrors pandas float division (∞ → 100,
    * 0/0 → null). */
  def rsiFromAverages(avgGain: Column, avgLoss: Column): Column =
    when(avgGain.isNull || avgLoss.isNull, lit(null).cast("double"))
      .when(avgLoss === 0.0 && avgGain === 0.0, lit(null).cast("double"))
      .when(avgLoss === 0.0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))

  /** EMA with pandas `ewm(span, adjust=False)` semantics — custom Catalyst
    * window function, see [[Ewma]]. */
  def ema(spark: SparkSession, value: Column, span: Int, w: WindowSpec): Column =
    Ewma.bySpan(spark, value, span).over(w)

  /** Attach the reference's full indicator set to a keyed time-series
    * DataFrame in one Window pass.
    *
    * @param df     input with key columns, an orderable ts column and a
    *               numeric value column
    * @param keys   series key (reference: coin_id, exchange)
    * @param order  ordering columns — include a unique tiebreaker for
    *               determinism (e.g. ts, event_id)
    * @param value  the price-like column
    */
  def withIndicators(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val delta = diff(value, w)
    val w14 = w.rowsBetween(-13, 0)
    // gains/losses need the delta column materialized before a second
    // window layer; Spark collapses both into one Window operator when the
    // specs match.
    val spark = df.sparkSession
    val withDelta = df
      .withColumn("delta", delta)
      .withColumn("sma_20", rollingMeanMasked(value, w, 20))
      .withColumn("ema_12", ema(spark, value, 12, w))
      .withColumn("ema_20", ema(spark, value, 20, w))
      .withColumn("ema_26", ema(spark, value, 26, w))
    // pandas parity: `delta.where(delta>0, 0)` maps the leading-NaN delta to
    // 0 (not NaN), so the 14-row rolling mean of gains is first valid at the
    // 14th ROW of the series — mask on frame row count, not non-null deltas.
    val rows14 = count(lit(1)).over(w14)
    val avgGain = when(rows14 === 14, avg(gain(col("delta"))).over(w14))
    val avgLoss = when(rows14 === 14, avg(loss(col("delta"))).over(w14))
    withDelta
      .withColumn("rsi_14", rsiFromAverages(avgGain, avgLoss))
      .withColumn("macd", col("ema_12") - col("ema_26"))
  }

  /** Wilder-smoothed RSI over `n` periods — the OTHER standard RSI, the
    * variant the reference does NOT compute (it uses Cutler's simple
    * mean; `spark-streaming.py:175-176`). Wilder's recurrence is
    *   avg_t = (avg_{t-1}·(n−1) + x_t) / n,
    * seeded at row n with the simple mean of the first n values — i.e. an
    * EWMA with α = 1/n whose first input is the seed mean. Encoded with
    * the existing [[Ewma]] window function over a constructed series:
    * null before row n (EWMA carries null state through), the seed mean
    * AT row n, the raw gain/loss after it. Same single-Window cost as
    * every other indicator.
    *
    * Adds columns wg (smoothed gain), wl (smoothed loss), rsi_wilder. */
  def withWilderRsi(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      n: Int = 14): DataFrame = {
    val spark = df.sparkSession
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val frameN = w.rowsBetween(-(n - 1), 0)
    val rn = row_number().over(w)
    // stage 1: materialize the seeded series (window exprs can't nest
    // inside the ewma argument); same window spec → same sort, one pass
    val staged = df
      .withColumn("__delta", diff(value, w))
      .withColumn("__rn", rn)
      .withColumn("__sg",
        when(col("__rn") < n, lit(null).cast("double"))
          .when(col("__rn") === n, avg(gain(diff(value, w))).over(frameN))
          .otherwise(gain(col("__delta"))))
      .withColumn("__sl",
        when(col("__rn") < n, lit(null).cast("double"))
          .when(col("__rn") === n, avg(loss(diff(value, w))).over(frameN))
          .otherwise(loss(col("__delta"))))
    // stage 2: α=1/n EWMA over the seeded series IS Wilder smoothing
    val alpha = 1.0 / n
    staged
      .withColumn("wg", Ewma.byAlpha(spark, col("__sg"), alpha).over(w))
      .withColumn("wl", Ewma.byAlpha(spark, col("__sl"), alpha).over(w))
      .withColumn("rsi_wilder", rsiFromAverages(col("wg"), col("wl")))
      .drop("__rn", "__sg", "__sl", "__delta")
  }

  /** Holt level+trend smoothing per event-type series ([[Holt]]): one
    * shared window spec (one exchange + sort), the coupled two-cell
    * recurrence evaluated incrementally by WindowExec, and a one-step
    * forecast from the emitted (level, trend) struct. The event_id
    * predicate prunes the scan (raw column) and bounds the DuckDB
    * oracle's recursion depth. */
  def holtSmoothing(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    graft.util.Tables.events(spark, dir)
      .filter(col("event_id") < 5000)
      .withColumn("h", Holt(spark, col("value"), alpha, beta).over(w))
      // 1e-6-quantized BIGINT gates: the recurrence's doubles are
      // bit-identical across engines, but their 6dp roundings sat on
      // exact half-way ties (scanner-verified on level/trend/forecast)
      .select(col("event_id"), col("event_type"),
        round(col("h.level") * 1e6).cast("long").as("level_q6"),
        round(col("h.trend") * 1e6).cast("long").as("trend_q6"),
        round((col("h.level") + col("h.trend")) * 1e6).cast("long")
          .as("forecast_q6"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** One-step-ahead forecast evaluation of the Holt smoother — the
    * model-selection companion (is level+trend actually better than
    * last-value-carried-forward on this series? which (α, β)?): per
    * series, MAE and RMSE of (s_t + b_t) against the realized next
    * value. Errors quantize to 1e-3 integer units BEFORE the sums
    * (|err| ≲ 5e5 milli-units squared × series length stays well inside
    * BIGINT), so both moments are partitioning-invariant; the final
    * divisions and the IEEE-correctly-rounded sqrt are the only float
    * steps. Forecast and next-value ride the SAME window spec — one
    * exchange + sort total. */
  def forecastEval(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    graft.util.Tables.events(spark, dir)
      .filter(col("event_id") < 5000)
      .withColumn("h", Holt(spark, col("value"), alpha, beta).over(w))
      .withColumn("next_v", lead(col("value"), 1).over(w))
      .filter(col("next_v").isNotNull)
      .withColumn("err_q",
        round((col("h.level") + col("h.trend") - col("next_v")) * 1000)
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("err_q"))).as("sae"),
        sum(col("err_q") * col("err_q")).as("sse"))
      .select(col("event_type"), col("n"),
        round(col("sae").cast("double") / col("n").cast("double") / 1000.0, 6)
          .as("mae"),
        round(sqrt(col("sse").cast("double") / col("n").cast("double")) / 1000.0, 6)
          .as("rmse"))
      .orderBy(col("event_type"))
  }

  /** Model comparison: Holt one-step forecast vs the last-value-
    * carried-forward baseline, per series, in ONE pass (both forecasts
    * and the realized next value ride the same window spec). The
    * `improvement` column is 1 − rmse_holt/rmse_lvcf — positive means
    * the trend model earns its keep on that series, and a negative
    * value is the honest "ship the naive baseline" answer. Same
    * 1e-3-integer moment quantization as [[forecastEval]]. */
  def forecastCompare(spark: SparkSession, dir: String,
      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    graft.util.Tables.events(spark, dir)
      .filter(col("event_id") < 5000)
      .withColumn("h", Holt(spark, col("value"), alpha, beta).over(w))
      .withColumn("next_v", lead(col("value"), 1).over(w))
      .filter(col("next_v").isNotNull)
      .withColumn("eh",
        round((col("h.level") + col("h.trend") - col("next_v")) * 1000)
          .cast("long"))
      .withColumn("el",
        round((col("value") - col("next_v")) * 1000).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("eh") * col("eh")).as("sseh"),
        sum(col("el") * col("el")).as("ssel"))
      .select(col("event_type"), col("n"),
        round(sqrt(col("sseh").cast("double") / col("n").cast("double")) / 1000.0, 6)
          .as("rmse_holt"),
        round(sqrt(col("ssel").cast("double") / col("n").cast("double")) / 1000.0, 6)
          .as("rmse_lvcf"),
        // ssel=0 means LVCF was perfect (constant series): the ratio is
        // undefined — emit null rather than NaN/Infinity
        when(col("ssel") === 0, lit(null).cast("double"))
          .otherwise(round(lit(1.0) -
            sqrt(col("sseh").cast("double") / col("ssel").cast("double")), 6))
          .as("improvement"))
      .orderBy(col("event_type"))
  }
}
