package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.indicators.Indicators
import graft.ingest.Envelope
import graft.sink.Router
import graft.streaming.Pipeline

/** The micro-batch sink contract: after every `processBatch`, the stored
  * `price_data` equals a last-write-wins oracle over every price row sent,
  * in batch order, and the stored `technical_indicators` equal
  * `Indicators.withIndicators` over the stored `price_data`; each is
  * checked exactly (`exceptAll` both ways is empty). */
class PipelineExactnessSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** One price row; a null key part or a None value is sent as JSON null. */
  private final case class Tick(coin: String, exchange: String, minute: Int, price: Option[Double],
      volume: Option[Double] = Some(1.0), change: Option[Double] = Some(0.0)) {
    def key: (String, String, Int) = (coin, exchange, minute)
    def ts: String = t0.plusMinutes(minute).format(fmt)
  }

  private def envelope(ticks: Seq[Tick]): DataFrame = {
    def str(s: String) = if (s == null) "null" else s""""$s""""
    def num(x: Option[Double]) = x.fold("null")(_.toString)
    val price = ticks.map { t =>
      s"""{"coin_id":${str(t.coin)},"exchange":${str(t.exchange)},"timestamp":"${t.ts}",""" +
        s""""price":${num(t.price)},"volume_24h":${num(t.volume)},"percent_change_24h":${num(t.change)}}"""
    }.mkString(",")
    Seq(s"""{"coins":[{"id":"binance_BTC","name":"Bitcoin","symbol":"BTC"}],"price_data":[$price],""" +
      s""""ohlc_data":[],"coin_market_cap":[{"coin_symbol":"btc","market_cap_percentage":50.0}]}""")
      .toDF("value")
  }

  /** Last-write-wins over every price row sent, batch by batch: a later
    * batch replaces a stored row; within one batch the row that sorts
    * first on (price, volume_24h, percent_change_24h) descending wins,
    * nulls last and NaN above every number, as Spark orders them. */
  private final class PriceOracle {
    private val rows = mutable.Map[(String, String, Int), Tick]()
    private val desc: Ordering[Option[Double]] = (a, b) => (a, b) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(x), Some(y)) => java.lang.Double.compare(y, x)
    }
    private val first: Ordering[Tick] =
      Ordering.by((t: Tick) => (t.price, t.volume, t.change))(Ordering.Tuple3(desc, desc, desc))

    def add(batch: Seq[Tick]): Unit =
      batch.groupBy(_.key).foreach { case (k, ts) => rows(k) = ts.min(first) }

    def size: Int = rows.size

    def df: DataFrame =
      rows.values.toSeq.map(t => (t.coin, t.exchange, t.ts, t.price, t.volume, t.change))
        .toDF("coin_id", "exchange", "ts", "price", "volume_24h", "percent_change_24h")
        .select(col("coin_id"), col("exchange"), to_timestamp(col("ts")).as("timestamp"),
          col("price"), col("volume_24h"), col("percent_change_24h"))
  }

  private def differ(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** Stored prices not in the oracle, plus oracle rows missing from them. */
  private def priceMismatches(sink: String, oracle: PriceOracle): Long = {
    val expected = oracle.df
    differ(expected, spark.read.parquet(s"$sink/price_data").select(expected.columns.map(col).toIndexedSeq: _*))
  }

  /** Rows of `technical_indicators` not in the oracle, plus oracle rows missing from it. */
  private def mismatches(sink: String): Long = {
    val cols = Seq("coin_id", "exchange", "timestamp", "sma_20", "ema_20", "rsi_14", "macd").map(col)
    val price = spark.read.parquet(s"$sink/price_data")
    val expected = Indicators.withIndicators(price, Seq("coin_id", "exchange"),
      Seq(col("timestamp")), col("price")).select(cols: _*)
    differ(expected, spark.read.parquet(s"$sink/technical_indicators").select(cols: _*))
  }

  /** Run one batch and check both tables against their oracles. */
  private def step(sink: String, oracle: PriceOracle, ticks: Seq[Tick]): Unit = {
    Pipeline.processBatch(spark, envelope(ticks), sink)
    oracle.add(ticks)
    assert(priceMismatches(sink, oracle) === 0)
    assert(mismatches(sink) === 0)
  }

  private val rng = new scala.util.Random(17)
  private def walk(c: String, e: String, minutes: Seq[Int]): Seq[Tick] =
    minutes.map(m => Tick(c, e, m, Some(100.0 + rng.nextGaussian() * 3)))

  private val A = ("binance_BTC", "binance")
  private val B = ("kraken_BTC", "kraken")
  private val C = ("binance_ETH", "binance")
  private val D = ("coinbase_SOL", "coinbase")

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally walk.close()
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  test("stored indicators equal withIndicators over the stored prices after every batch") {
    val sink = Files.createTempDirectory("exact-sink").toString
    val oracle = new PriceOracle
    def run(ticks: Seq[Tick]): Unit = step(sink, oracle, ticks)

    // a long series, one shorter than the RSI window, one with null prices
    run(walk(A._1, A._2, 0 until 30) ++ walk(B._1, B._2, 0 until 5) ++
      walk(C._1, C._2, 0 until 25).map(t => if (t.minute == 7 || t.minute == 20) t.copy(price = None) else t))
    assert(spark.read.parquet(s"$sink/technical_indicators").count() === 60)

    // past keys re-sent with new prices (one twice in the batch), a null
    // price replaced by a value, B still shorter than 14 rows
    run(walk(A._1, A._2, Seq(10, 11, 33) ++ (30 until 35)) ++ walk(A._1, A._2, 33 to 33) ++
      walk(B._1, B._2, 5 until 10) ++ walk(C._1, C._2, 7 to 7) ++ Seq(Tick(C._1, C._2, 25, None)))

    // in-batch duplicate keys that differ only in volume or in change,
    // with nulls on either side; a NaN price beating a number; a past key
    // re-sent as NaN; duplicates of a key with a null part
    run(Seq(
      Tick(A._1, A._2, 40, Some(5.0), volume = Some(2.0)), Tick(A._1, A._2, 40, Some(5.0), volume = Some(3.0)),
      Tick(A._1, A._2, 41, Some(5.0), volume = None), Tick(A._1, A._2, 41, Some(5.0), volume = Some(0.5)),
      Tick(A._1, A._2, 42, Some(5.0), change = None), Tick(A._1, A._2, 42, Some(5.0), change = Some(-3.0)),
      Tick(A._1, A._2, 43, Some(5.0), change = Some(-1.0)), Tick(A._1, A._2, 43, Some(5.0), change = Some(2.0)),
      Tick(C._1, C._2, 26, Some(100.0)), Tick(C._1, C._2, 26, Some(Double.NaN)),
      Tick(C._1, C._2, 3, Some(Double.NaN)),
      Tick(null, "kraken", 0, Some(1.0), volume = None), Tick(null, "kraken", 0, Some(1.0), change = None)))
    val stored = spark.read.parquet(s"$sink/price_data")
    assert(stored.where(isnan(col("price"))).count() === 2)
    assert(stored.where(col("coin_id").isNull).select("volume_24h", "percent_change_24h")
      .as[(Option[Double], Option[Double])].collect().toSeq === Seq((Some(1.0), None)))

    // a series first seen late, a row older than all of A's history, B
    // crossing the RSI window, a series with a null key
    run(walk(D._1, D._2, 0 until 16) ++ walk(A._1, A._2, -5 to -5) ++ walk(B._1, B._2, 10 until 21) ++
      walk("binance_XRP", null, 0 until 15))
    assert(spark.read.parquet(s"$sink/technical_indicators").count() === oracle.size)
    assert(spark.read.parquet(s"$sink/price_data").count() === oracle.size)
  }

  test("a batch re-run after only its entity writes repairs the indicators") {
    val sink = Files.createTempDirectory("replay-sink").toString
    Pipeline.processBatch(spark, envelope(walk(A._1, A._2, 0 until 30) ++ walk(D._1, D._2, 0 until 3)), sink)
    assert(mismatches(sink) === 0)

    val batch = envelope(walk(A._1, A._2, (20 to 22) ++ (30 until 32)) ++ walk(D._1, D._2, 3 until 18))
    // the crash: the entity upserts ran, the indicator upsert did not
    val d = Envelope.demux(Envelope.parse(batch))
    for (df <- Seq(d.coins, d.price, d.ohlc, d.marketCap); table <- Router.route(df))
      Router.upsert(spark, df, table, sink)
    assert(mismatches(sink) > 0)
    // the replay of the same input
    Pipeline.processBatch(spark, batch, sink)
    assert(mismatches(sink) === 0)
  }

  test("a batch re-run after a crash between the price and indicator swaps makes both exact") {
    val sink = Files.createTempDirectory("swap-crash-sink").toString
    val oracle = new PriceOracle
    step(sink, oracle, walk(A._1, A._2, 0 until 30) ++ walk(B._1, B._2, 0 until 10))
    val indicators = Paths.get(sink, "technical_indicators")
    val previous = Files.createTempDirectory("previous-indicators").resolve("t")
    copyTree(indicators, previous)

    val ticks = walk(A._1, A._2, (25 to 27) ++ (30 until 33)) ++ walk(B._1, B._2, 10 until 20) ++
      walk(D._1, D._2, 0 until 15)
    step(sink, oracle, ticks)
    // the crash: price_data was swapped in, technical_indicators was not,
    // and its staged copy is left behind (stale, as if half written)
    deleteTree(indicators)
    copyTree(previous, indicators)
    copyTree(previous, Paths.get(sink, ".technical_indicators.tmp"))
    assert(priceMismatches(sink, oracle) === 0)
    assert(mismatches(sink) > 0)
    // the replay of the same input
    step(sink, oracle, ticks)
    assert(!Files.exists(Paths.get(sink, ".technical_indicators.tmp")))
    assert(spark.read.parquet(indicators.toString).count() === oracle.size)
  }

  test("backfill (no changed series) rebuilds every series") {
    val sink = Files.createTempDirectory("backfill-sink").toString
    Pipeline.processBatch(spark, envelope(walk(A._1, A._2, 0 until 25) ++ walk(B._1, B._2, 0 until 16)), sink)
    deleteTree(Paths.get(sink, "technical_indicators"))
    Pipeline.deriveIndicators(spark, sink)
    assert(mismatches(sink) === 0)
    assert(spark.read.parquet(s"$sink/technical_indicators").count() === 41)
  }
}
