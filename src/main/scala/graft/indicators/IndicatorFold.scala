package graft.indicators

import java.sql.Timestamp
import java.util.Objects

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.model.Schemas.IndicatorRow

/** The reference's indicator set (SMA-20, EMA-20, RSI-14, MACD) folded
  * row by row over ONE series in time order: a ring of the last 20 prices
  * (the SMA-20 frame, and the 15 prices behind RSI-14's 14 deltas), three
  * EMA accumulators and the row count. O(1) state, about 50 flops a row.
  *
  * Bit-identical to [[Indicators.withIndicators]], not merely close:
  *   - SMA-20 and the RSI averages sum their frame oldest to newest from
  *     0.0 and divide by the frame length, as Spark's `avg` re-aggregates a
  *     sliding ROWS frame;
  *   - the EMAs step with the same `α·x + (1−α)·y` expression as [[Ewma]],
  *     seeded by the first non-null price;
  *   - the same masks: SMA-20 needs 20 non-null prices in its 20-row frame,
  *     RSI-14 needs 14 rows (not values) and maps 0/0 to null and loss = 0
  *     to 100.
  *
  * Null prices follow the window semantics: an EMA carries its state over
  * them, and a delta with a null on either side (or the series' first
  * delta) counts as a 0.0 gain and loss. A NaN delta is a gain, as Spark
  * orders NaN above every number.
  */
final class IndicatorFold {
  import IndicatorFold._

  private val prices = new Array[Double](Ring)
  private val present = new Array[Boolean](Ring)
  private var n = 0L
  private var seeded = false
  private var e12, e20, e26 = 0.0

  /** Rows folded so far. */
  def rows: Long = n
  /** EMA accumulators; meaningful once a non-null price was folded. */
  def ema12: Double = e12
  def ema20: Double = e20
  def ema26: Double = e26

  /** The trailing min(rows, 20) prices, oldest first. */
  def recent: List[Double] = {
    val k = math.min(n, Ring).toInt
    List.tabulate(k)(i => prices(slot(k - 1 - i)))
  }

  /** Start a new series. */
  def reset(): Unit = { n = 0L; seeded = false }

  /** Resume a series from carried state: its last min(rows, 20) prices,
    * oldest first, non-null, and its EMA accumulators. */
  def restore(recent: Seq[Double], ema12: Double, ema20: Double, ema26: Double,
      rows: Long): Unit = {
    require(recent.size == math.min(rows, Ring),
      s"${recent.size} trailing prices for $rows rows")
    n = rows - recent.size
    recent.foreach(store(_, isPresent = true))
    e12 = ema12; e20 = ema20; e26 = ema26
    seeded = rows > 0
  }

  def push(price: Double): Unit = {
    store(price, isPresent = true)
    if (seeded) {
      e12 = A12 * price + B12 * e12
      e20 = A20 * price + B20 * e20
      e26 = A26 * price + B26 * e26
    } else {
      e12 = price; e20 = price; e26 = price
      seeded = true
    }
  }

  def pushNull(): Unit = store(0.0, isPresent = false)

  /** The indicators of the last folded row. */
  def emit(coinId: String, exchange: String, ts: Timestamp): IndicatorRow =
    IndicatorRow(coinId, exchange, ts, sma20, Option.when(seeded)(e20), rsi14,
      Option.when(seeded)(e12 - e26))

  private def store(price: Double, isPresent: Boolean): Unit = {
    val i = (n % Ring).toInt
    prices(i) = price
    present(i) = isPresent
    n += 1
  }

  /** Ring slot of the row `back` rows before the newest. */
  private def slot(back: Int): Int = ((n - 1 - back) % Ring).toInt

  private def sma20: Option[Double] =
    if (n < 20) None
    else {
      var sum = 0.0
      var full = true
      var back = 19
      while (back >= 0) {
        val i = slot(back)
        full &&= present(i)
        sum += prices(i)
        back -= 1
      }
      if (full) Some(sum / 20.0) else None
    }

  private def rsi14: Option[Double] =
    if (n < 14) None
    else {
      var gains = 0.0
      var losses = 0.0
      var back = 13
      while (back >= 0) {
        // the delta into the row `back` rows before the newest
        val cur = slot(back)
        val prev = slot(back + 1)
        val known = back + 1 < n && present(cur) && present(prev)
        val d = if (known) prices(cur) - prices(prev) else 0.0
        gains += (if (known && (d > 0 || d.isNaN)) d else 0.0)
        losses += (if (known && d < 0) -d else 0.0)
        back -= 1
      }
      val avgGain = gains / 14.0
      val avgLoss = losses / 14.0
      if (avgLoss == 0.0 && avgGain == 0.0) None
      else if (avgLoss == 0.0) Some(100.0)
      else Some(100.0 - 100.0 / (1.0 + avgGain / avgLoss))
    }
}

object IndicatorFold {
  private val Ring = 20
  private val A12 = Ewma.alpha(12)
  private val A20 = Ewma.alpha(20)
  private val A26 = Ewma.alpha(26)
  private val B12 = 1.0 - A12
  private val B20 = 1.0 - A20
  private val B26 = 1.0 - A26

  /** Indicator rows of every (coin_id, exchange) series in `price`
    * (columns coin_id, exchange, timestamp, price), in one pass: one hash
    * exchange on the series key, then [[foldSeries]]. */
  def derive(price: DataFrame): Dataset[IndicatorRow] =
    foldSeries(price.repartition(col("coin_id"), col("exchange")))

  /** [[derive]] over rows already partitioned so that each series lies in
    * one partition: a sort within partitions by (key, timestamp) and one
    * fold per series. Adds no exchange. */
  def foldSeries(price: DataFrame): Dataset[IndicatorRow] = {
    val spark = price.sparkSession
    import spark.implicits._
    price
      .select(col("coin_id"), col("exchange"), col("timestamp"), col("price"))
      .sortWithinPartitions(col("coin_id"), col("exchange"), col("timestamp"))
      .as[(String, String, Timestamp, Option[Double])]
      .mapPartitions(foldSorted)
  }

  private def foldSorted(
      rows: Iterator[(String, String, Timestamp, Option[Double])]): Iterator[IndicatorRow] = {
    val fold = new IndicatorFold
    var started = false
    var coin: String = null
    var exchange: String = null
    rows.map { case (c, e, ts, price) =>
      if (!started || !Objects.equals(c, coin) || !Objects.equals(e, exchange)) {
        fold.reset()
        started = true; coin = c; exchange = e
      }
      price.fold(fold.pushNull())(fold.push)
      fold.emit(c, e, ts)
    }
  }
}
