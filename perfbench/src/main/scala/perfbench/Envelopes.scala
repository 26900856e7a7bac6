package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

/** One price row as generated, before JSON encoding. */
final case class PriceRow(coinId: String, exchange: String, ts: LocalDateTime,
    price: Double, volume: Double, change: Option[Double])

/** One generated envelope: the JSON `value` string the pipeline receives,
  * plus the price rows it carries (for the last-write-wins oracle). */
final case class GenEnvelope(index: Int, value: String, price: Seq[PriceRow],
    rows: Int) {
  /** The row the freshness read looks for: the envelope's newest event
    * time, first key in generation order. */
  def newest: PriceRow = price.maxBy(_.ts)(Ordering.fromLessThan(_ isBefore _))
}

/** Seeded envelope source shaped like the reference's producer: every
  * 5 minutes one JSON document with 20 coins × 9 exchanges of price, OHLC
  * and coin rows plus the top-10 market-cap shares. Each envelope after
  * the first also re-sends a tenth of the previous envelope's price keys
  * with corrected values, so the sink's last-write-wins path replaces
  * stored rows instead of only appending. The same seed yields the same
  * envelopes. */
final class Envelopes(seed: Long) {
  import Envelopes._

  private val rnd = new Random(seed)
  private val keys: IndexedSeq[(String, String, String)] =
    for (ex <- Exchanges; (sym, _, _) <- Coins) yield (s"${ex}_$sym", ex, sym)
  private val basePrice: Map[String, Double] = Coins.map { case (s, _, p) => s -> p }.toMap
  // per-exchange premium: the same coin trades at slightly different prices
  private val premium: Map[String, Double] =
    Exchanges.map(e => e -> (1.0 + (rnd.nextDouble() - 0.5) * 0.004)).toMap
  private val last = mutable.Map[String, Double]()
  private var prevPrice: Seq[PriceRow] = Nil
  private var next = 0

  def take(n: Int): Seq[GenEnvelope] = Seq.fill(n)(nextEnvelope())

  def nextEnvelope(): GenEnvelope = {
    val i = next
    next += 1
    val ts = Start.plusMinutes(5L * i)
    val tsStr = ts.format(Iso)
    val sb = new StringBuilder(64 * 1024)
    val price = keys.map { case (id, ex, sym) =>
      val prev = last.getOrElse(id, basePrice(sym) * premium(ex))
      val p = prev * math.exp(rnd.nextGaussian() * 0.002)
      last(id) = p
      PriceRow(id, ex, ts, p, round2(basePrice(sym) * 1e4 * math.exp(rnd.nextGaussian())),
        nullable(round6(rnd.nextGaussian() * 2.0)))
    }
    val resent = if (prevPrice.isEmpty) Nil
      else rnd.shuffle(prevPrice).take(prevPrice.size / 10).map(r =>
        r.copy(price = r.price * (1.0 + rnd.nextGaussian() * 0.001)))
    val allPrice = price ++ resent
    sb.append("{\"coins\":[")
    keys.zipWithIndex.foreach { case ((id, ex, sym), k) =>
      if (k > 0) sb.append(',')
      val name = Coins.find(_._1 == sym).get._2
      sb.append(s"""{"id":"$id","name":"$name","symbol":"$sym","exchange":"$ex"}""")
    }
    sb.append("],\"price_data\":[")
    allPrice.zipWithIndex.foreach { case (r, k) =>
      if (k > 0) sb.append(',')
      sb.append(s"""{"coin_id":"${r.coinId}","exchange":"${r.exchange}","timestamp":"${r.ts.format(Iso)}",""")
      sb.append(s""""price":${r.price},"volume_24h":${r.volume},"percent_change_24h":${json(r.change)}}""")
    }
    sb.append("],\"ohlc_data\":[")
    price.zipWithIndex.foreach { case (r, k) =>
      if (k > 0) sb.append(',')
      val open = r.price * (1.0 + rnd.nextGaussian() * 0.001)
      val hi = math.max(open, r.price) * (1.0 + rnd.nextDouble() * 0.001)
      val lo = math.min(open, r.price) * (1.0 - rnd.nextDouble() * 0.001)
      sb.append(s"""{"coin_id":"${r.coinId}","exchange":"${r.exchange}","timestamp":"$tsStr","timeframe":"5m",""")
      sb.append(s""""open":$open,"high":$hi,"low":$lo,"close":${r.price},"change":${json(nullable(r.price - open))}}""")
    }
    sb.append("],\"coin_market_cap\":[")
    Coins.take(10).zipWithIndex.foreach { case ((sym, _, _), k) =>
      if (k > 0) sb.append(',')
      val share = round6(McapShare(k) * (1.0 + rnd.nextGaussian() * 0.01))
      sb.append(s"""{"coin_symbol":"${sym.toLowerCase}","market_cap_percentage":$share}""")
    }
    sb.append("]}")
    prevPrice = price
    GenEnvelope(i, sb.toString, allPrice,
      rows = allPrice.size + price.size + keys.size + 10)
  }

  private def nullable(v: Double): Option[Double] =
    if (rnd.nextDouble() < 0.1) None else Some(v)
}

object Envelopes {
  val Start: LocalDateTime = LocalDateTime.of(2024, 6, 13, 0, 0, 0)
  val Iso: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  /** The fixed market-cap stamp handed to `processBatch` (never the clock). */
  val McapTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-13 00:00:00")

  val Exchanges: IndexedSeq[String] = IndexedSeq(
    "binance", "coinbase", "kraken", "bitfinex", "okx", "kucoin", "bybit", "gateio", "htx")
  val Coins: IndexedSeq[(String, String, Double)] = IndexedSeq(
    ("BTC", "Bitcoin", 65000.0), ("ETH", "Ethereum", 3500.0), ("USDT", "Tether", 1.0),
    ("BNB", "BNB", 600.0), ("SOL", "Solana", 150.0), ("XRP", "XRP", 0.5),
    ("USDC", "USD Coin", 1.0), ("ADA", "Cardano", 0.45), ("DOGE", "Dogecoin", 0.15),
    ("AVAX", "Avalanche", 35.0), ("TRX", "TRON", 0.12), ("DOT", "Polkadot", 7.0),
    ("LINK", "Chainlink", 17.0), ("MATIC", "Polygon", 0.7), ("TON", "Toncoin", 7.5),
    ("SHIB", "Shiba Inu", 0.00002), ("LTC", "Litecoin", 85.0), ("BCH", "Bitcoin Cash", 480.0),
    ("UNI", "Uniswap", 10.0), ("XLM", "Stellar", 0.11))
  private val McapShare = IndexedSeq(54.1, 17.3, 4.6, 3.6, 3.1, 1.2, 1.3, 0.7, 0.9, 0.6)

  private def round6(v: Double): Double = math.rint(v * 1e6) / 1e6
  private def round2(v: Double): Double = math.rint(v * 1e2) / 1e2
  private def json(v: Option[Double]): String = v.fold("null")(_.toString)
}
