package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.indicators.{IndicatorFold, Indicators}

/** Property test of the fused per-series kernel against the window
  * formulation it replaces: on random series of every awkward shape the
  * two must agree exactly — `exceptAll` both ways is empty. */
class IndicatorFoldSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("coin_id", "exchange", "timestamp", "sma_20", "ema_20", "rsi_14", "macd")

  private def window(df: DataFrame): DataFrame =
    Indicators.withIndicators(df, Seq("coin_id", "exchange"), Seq(col("timestamp")), col("price"))
      .select(cols.map(col): _*)

  private def fold(df: DataFrame, from: org.apache.spark.sql.Column): DataFrame =
    IndicatorFold.derive(df, from).toDF().select(cols.map(col): _*)

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  private type Row4 = (String, String, Timestamp, Option[Double])

  /** One series per (shape, length), prices drawn from `rng`, rows in a
    * shuffled order so the kernel's sort is exercised. */
  private def series(seed: Int): Seq[Row4] = {
    val rng = new scala.util.Random(seed)
    val lengths = Seq(1, 2, 13, 14, 15, 19, 20, 21, 35, 60)
    type Shape = Int => Option[Double]
    def walk(nullP: Double): Shape = {
      var p = 100.0
      i => { p += rng.nextGaussian(); if (rng.nextDouble() < nullP) None else Some(p) }
    }
    val shapes: Seq[(String, () => Shape)] = Seq(
      "walk" -> (() => walk(0.0)),
      "nullwalk" -> (() => walk(0.15)),
      "const" -> (() => _ => Some(42.0)),
      "rise" -> (() => i => Some(10.0 + i * 0.25)),
      "fall" -> (() => i => Some(1000.0 - i * 3.5)),
      // integer steps: many zero deltas, RSI often 0/0 over flat stretches
      "steps" -> (() => _ => Some(rng.nextInt(3).toDouble)),
      // magnitudes 1e-3 .. 1e8: a different summation order shows here
      "wild" -> (() => _ => Some(math.pow(10, rng.nextDouble() * 11 - 3))),
      "allnull" -> (() => _ => None),
      "nan" -> (() => i => if (i % 7 == 3) Some(Double.NaN) else Some(50.0 + rng.nextDouble())),
      "nullrun" -> (() => i => if (i >= 5 && i < 9) None else Some(7.0 + i % 4)))
    val rows = for {
      (name, mk) <- shapes
      n <- lengths
      shape = mk()
      i <- 0 until n
    } yield (s"s$seed-$name", s"len$n", new Timestamp(1700000000000L + i * 60000L), shape(i))
    // a series whose key is null, as the window partitions it
    val nullKey = (0 until 16).map(i =>
      (s"s$seed-nullkey", null: String, new Timestamp(1700000000000L + i * 60000L),
        Some(rng.nextDouble())))
    rng.shuffle(rows ++ nullKey)
  }

  test("kernel equals withIndicators exactly on random series of every shape") {
    val df = (1 to 3).flatMap(series).toDF("coin_id", "exchange", "timestamp", "price")
      .repartition(3)
    val expected = window(df)
    val got = fold(df, lit(null).cast("timestamp"))
    assert(got.count() === df.count())
    assertSame(got, expected)
    // the shapes reach every branch: null masks, RSI 0/0, loss = 0, RSI < 100
    val rsi = got.select("rsi_14").as[Option[Double]].collect()
    assert(rsi.contains(None) && rsi.contains(Some(100.0)) && rsi.exists(_.exists(_ < 100.0)))
    assert(got.where(col("sma_20").isNotNull).count() > 0)
    assert(got.where(col("ema_20").isNull).count() > 0)
  }

  test("a row is emitted from its series' `from` on, with the whole-series values") {
    val df = series(4).toDF("coin_id", "exchange", "timestamp", "price")
    // cut each series at its 12th minute; series shorter than that emit nothing
    val cut = new Timestamp(1700000000000L + 11 * 60000L)
    val withFrom = df.withColumn("from",
      when(col("coin_id").endsWith("const"), lit(null).cast("timestamp")).otherwise(lit(cut)))
    val got = fold(withFrom, col("from"))
    val expected = window(df)
      .where(col("coin_id").endsWith("const") || col("timestamp") >= lit(cut))
    assertSame(got, expected)
  }

  test("an empty input folds to nothing") {
    val df = Seq.empty[Row4].toDF("coin_id", "exchange", "timestamp", "price")
    assert(fold(df, lit(null).cast("timestamp")).count() === 0)
  }

  test("restore resumes a series exactly where an uninterrupted fold is") {
    val rng = new scala.util.Random(11)
    val prices = Seq.fill(45)(100.0 + rng.nextGaussian())
    val ts = new Timestamp(0L)
    val whole = new IndicatorFold
    val wholeRows = prices.map { p => whole.push(p); whole.emit("c", "x", ts) }
    (1 until prices.size).foreach { cut =>
      val head = new IndicatorFold
      prices.take(cut).foreach(head.push)
      val resumed = new IndicatorFold
      resumed.restore(head.recent, head.ema12, head.ema20, head.ema26, head.rows)
      val tail = prices.drop(cut).map { p => resumed.push(p); resumed.emit("c", "x", ts) }
      assert(tail === wholeRows.drop(cut), s"cut at $cut")
    }
  }
}
