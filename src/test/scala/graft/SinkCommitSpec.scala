package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}

import graft.indicators.IndicatorFold
import graft.ingest.Envelope
import graft.sink.Router
import graft.streaming.Pipeline

/** A micro-batch lands as one unit. Starting from a sink built by two
  * batches, a third batch is cut at every step of its commit. Recovery
  * alone then leaves all five tables exactly as two batches or as three
  * left them, never a mix, and replaying the batch leaves the sink of a
  * clean three-batch run with nothing else in its directory. */
class SinkCommitSpec extends SparkSpec {
  import spark.implicits._

  /** The tables in the order `processBatch` stages and installs them. */
  private val Tables = Seq("coins", "ohlc_data", "coin_market_cap", "price_data", "technical_indicators")
  private val mcapTs = Some(Timestamp.valueOf("2024-01-01 00:00:00"))

  /** Batch `n` changes every table: a renamed and a new coin, new and
    * re-sent price and OHLC keys, a new market-cap share. */
  private def envelope(n: Int): DataFrame = {
    val minutes = (5 * n - 1) until (5 * n + 5)
    def ts(m: Int) = f"2024-01-01T${m / 60}%02d:${m % 60}%02d:00.000000"
    val series = Seq(("binance_BTC", "binance"), ("kraken_BTC", "kraken"), ("binance_ETH", "binance"))
    val coins = Seq(s"""{"id":"binance_BTC","name":"Bitcoin $n","symbol":"BTC"}""",
      s"""{"id":"binance_C$n","name":"Coin $n","symbol":"C$n"}""")
    val price = for ((c, e) <- series; m <- minutes) yield
      s"""{"coin_id":"$c","exchange":"$e","timestamp":"${ts(m)}","price":${100 + m + n * 0.25},""" +
        s""""volume_24h":$n.0,"percent_change_24h":0.5}"""
    val ohlc = for ((c, e) <- series; m <- minutes) yield
      s"""{"coin_id":"$c","exchange":"$e","timestamp":"${ts(m)}","timeframe":"5m","open":$m.0,""" +
        s""""high":${m + 1}.0,"low":${m - 1}.0,"close":${m + n * 0.5},"change":0.1}"""
    Seq(s"""{"coins":[${coins.mkString(",")}],"price_data":[${price.mkString(",")}],""" +
      s""""ohlc_data":[${ohlc.mkString(",")}],"coin_market_cap":[{"coin_symbol":"btc",""" +
      s""""market_cap_percentage":${40 + n}.0}]}""").toDF("value")
  }

  private def copy(sink: Path): Path = {
    val to = Files.createTempDirectory("commit-cut")
    FileUtils.copyDirectory(sink.toFile, to.toFile)
    to
  }

  /** The two-batch sink, and the clean three-batch sink built on a copy of it. */
  private lazy val (twoBatches, threeBatches) = {
    val two = Files.createTempDirectory("commit-two")
    Seq(1, 2).foreach(n => Pipeline.processBatch(spark, envelope(n), two.toString, mcapTs))
    val three = copy(two)
    Pipeline.processBatch(spark, envelope(3), three.toString, mcapTs)
    (two, three)
  }

  /** Every table's rows, as a multiset: two sinks hold the same tables
    * exactly when `exceptAll` both ways is empty for each. */
  private def contents(sink: Path): Map[String, Map[Row, Int]] = Tables.map { t =>
    t -> spark.read.parquet(s"$sink/$t").collect().groupBy(identity).view.mapValues(_.length).toMap
  }.toMap

  private lazy val (two, three) = (contents(twoBatches), contents(threeBatches))

  /** The tables whose rows differ from `expected`'s. */
  private def mismatches(sink: Path, expected: Map[String, Map[Row, Int]]): Seq[String] = {
    val got = contents(sink)
    Tables.filter(t => got(t) != expected(t))
  }

  private def entries(sink: Path): Set[String] = sink.toFile.list().toSet

  /** Batch 3's five tables staged onto the two-batch sink, the way
    * `processBatch` stages them. */
  private lazy val staged: Path = {
    val sink = copy(twoBatches)
    val dir = sink.toString
    val d = Envelope.demux(Envelope.parse(envelope(3)), mcapTs)
    val merged = Router.merge(spark, d.price, "price_data", dir, cluster = Seq("coin_id", "exchange"))
    val rows = Map(
      "coins" -> Router.merge(spark, d.coins, "coins", dir),
      "ohlc_data" -> Router.merge(spark, d.ohlc, "ohlc_data", dir),
      "coin_market_cap" -> Router.merge(spark, d.marketCap, "coin_market_cap", dir),
      "price_data" -> merged,
      "technical_indicators" -> IndicatorFold.foldSeries(merged).toDF())
    Tables.foreach(t => Router.stage(rows(t), t, dir))
    sink
  }

  /** A copy of the two-batch sink holding the first `k` of batch 3's staged tables. */
  private def stagedSink(k: Int): Path = {
    val sink = copy(twoBatches)
    Tables.take(k).foreach(t =>
      FileUtils.copyDirectory(staged.resolve(s".$t.tmp").toFile, sink.resolve(s".$t.tmp").toFile))
    sink
  }

  /** Write the record for all five staged tables and install the first `k`. */
  private def installed(sink: Path, k: Int): Unit = {
    Router.writeRecord(sink.toString, Tables)
    Tables.take(k).foreach(Router.install(sink.toString, _))
  }

  /** A crash point: how many tables batch 3 staged, the commit steps run
    * after that, and whether the batch counts as committed there
    * (recovery rolls it forward). */
  private final case class Cut(name: String, stages: Int, steps: Path => Unit, committed: Boolean)

  private val cuts: Seq[Cut] =
    (1 to 5).map(k => Cut(s"after $k of 5 stages, no record", k, _ => (), committed = false)) ++
    Seq(Cut("with a torn record", 5,
      s => Files.write(s.resolve("._commit.tmp"), Tables.take(2).asJava), committed = false)) ++
    (0 to 5).map(k => Cut(s"with the record written and $k of 5 installed", 5, installed(_, k), committed = true)) ++
    Seq(
      Cut("inside an install, after the old table is deleted", 5, { s =>
        installed(s, 2)
        FileUtils.deleteDirectory(s.resolve(Tables(2)).toFile)
      }, committed = true),
      Cut("after the record is cleared", 5, { s =>
        installed(s, 5)
        Router.clearRecord(s.toString)
      }, committed = true))

  test("every batch changes every table") {
    assert(Tables.forall(t => two(t) != three(t)))
  }

  for (cut <- cuts)
    test(s"a batch cut ${cut.name} recovers to one batch and replays to a clean run") {
      val sink = stagedSink(cut.stages)
      cut.steps(sink)
      Router.recover(sink.toString)
      assert(mismatches(sink, if (cut.committed) three else two) === Seq.empty)
      assert(entries(sink) === Tables.toSet)

      Pipeline.processBatch(spark, envelope(3), sink.toString, mcapTs)
      assert(mismatches(sink, three) === Seq.empty)
      assert(entries(sink) === Tables.toSet)
    }
}
