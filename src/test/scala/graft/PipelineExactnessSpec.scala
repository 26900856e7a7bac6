package graft

import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.indicators.Indicators
import graft.ingest.Envelope
import graft.sink.Router
import graft.streaming.Pipeline

/** The micro-batch indicator contract: after every `processBatch`, the
  * stored `technical_indicators` equal `Indicators.withIndicators` over the
  * stored `price_data` exactly (`exceptAll` both ways is empty), although
  * each batch re-derives only the rows its touched series can change. */
class PipelineExactnessSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** (coin_id, exchange, minute, price); a null exchange or price is sent as JSON null. */
  private type Tick = (String, String, Int, Option[Double])

  private def envelope(ticks: Seq[Tick]): DataFrame = {
    def str(s: String) = if (s == null) "null" else s""""$s""""
    val price = ticks.map { case (c, e, m, p) =>
      s"""{"coin_id":${str(c)},"exchange":${str(e)},"timestamp":"${t0.plusMinutes(m).format(fmt)}",""" +
        s""""price":${p.fold("null")(_.toString)},"volume_24h":1.0,"percent_change_24h":0.0}"""
    }.mkString(",")
    Seq(s"""{"coins":[{"id":"binance_BTC","name":"Bitcoin","symbol":"BTC"}],"price_data":[$price],""" +
      s""""ohlc_data":[],"coin_market_cap":[{"coin_symbol":"btc","market_cap_percentage":50.0}]}""")
      .toDF("value")
  }

  private val rng = new scala.util.Random(17)
  private def walk(c: String, e: String, minutes: Seq[Int]): Seq[Tick] =
    minutes.map(m => (c, e, m, Some(100.0 + rng.nextGaussian() * 3)))

  private val A = ("binance_BTC", "binance")
  private val B = ("kraken_BTC", "kraken")
  private val C = ("binance_ETH", "binance")
  private val D = ("coinbase_SOL", "coinbase")

  /** Rows of `technical_indicators` not in the oracle, plus oracle rows missing from it. */
  private def mismatches(sink: String): Long = {
    val cols = Seq("coin_id", "exchange", "timestamp", "sma_20", "ema_20", "rsi_14", "macd").map(col)
    val price = spark.read.parquet(s"$sink/price_data")
    val expected = Indicators.withIndicators(price, Seq("coin_id", "exchange"),
      Seq(col("timestamp")), col("price")).select(cols: _*)
    val actual = spark.read.parquet(s"$sink/technical_indicators").select(cols: _*)
    expected.exceptAll(actual).count() + actual.exceptAll(expected).count()
  }

  test("stored indicators equal withIndicators over the stored prices after every batch") {
    val sink = Files.createTempDirectory("exact-sink").toString
    def run(ticks: Seq[Tick]): Unit = Pipeline.processBatch(spark, envelope(ticks), sink)

    // a long series, one shorter than the RSI window, one with null prices
    run(walk(A._1, A._2, 0 until 30) ++ walk(B._1, B._2, 0 until 5) ++
      walk(C._1, C._2, 0 until 25).map(t => if (t._3 == 7 || t._3 == 20) t.copy(_4 = None) else t))
    assert(mismatches(sink) === 0)
    assert(spark.read.parquet(s"$sink/technical_indicators").count() === 60)

    // past keys re-sent with new prices (one twice in the batch), a null
    // price replaced by a value, B still shorter than 14 rows
    run(walk(A._1, A._2, Seq(10, 11, 33) ++ (30 until 35)) ++ walk(A._1, A._2, 33 to 33) ++
      walk(B._1, B._2, 5 until 10) ++ walk(C._1, C._2, 7 to 7) ++ Seq((C._1, C._2, 25, None)))
    assert(mismatches(sink) === 0)

    // a series first seen late, a row older than all of A's history, B
    // crossing the RSI window, a series with a null key
    run(walk(D._1, D._2, 0 until 16) ++ walk(A._1, A._2, -5 to -5) ++ walk(B._1, B._2, 10 until 21) ++
      walk("binance_XRP", null, 0 until 15))
    assert(mismatches(sink) === 0)
    assert(spark.read.parquet(s"$sink/technical_indicators").count() ===
      spark.read.parquet(s"$sink/price_data").count())
  }

  test("a batch re-run after only its entity writes repairs the indicators") {
    val sink = Files.createTempDirectory("replay-sink").toString
    Pipeline.processBatch(spark, envelope(walk(A._1, A._2, 0 until 30) ++ walk(D._1, D._2, 0 until 3)), sink)
    assert(mismatches(sink) === 0)

    val batch = envelope(walk(A._1, A._2, (20 to 22) ++ (30 until 32)) ++ walk(D._1, D._2, 3 until 18))
    // the crash: the entity upserts ran, the indicator upsert did not
    val d = Envelope.demux(Envelope.parse(batch))
    Router.writeBatch(spark, sink, Seq(d.coins, d.price, d.ohlc, d.marketCap))
    assert(mismatches(sink) > 0)
    // the replay of the same input
    Pipeline.processBatch(spark, batch, sink)
    assert(mismatches(sink) === 0)
  }

  test("backfill (no changed series) rebuilds every series") {
    val sink = Files.createTempDirectory("backfill-sink").toString
    Pipeline.processBatch(spark, envelope(walk(A._1, A._2, 0 until 25) ++ walk(B._1, B._2, 0 until 16)), sink)
    Files.walk(java.nio.file.Paths.get(sink, "technical_indicators"))
      .sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    Pipeline.deriveIndicators(spark, sink)
    assert(mismatches(sink) === 0)
    assert(spark.read.parquet(s"$sink/technical_indicators").count() === 41)
  }
}
