package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, udf}

import graft.indicators.IndicatorFold
import graft.ingest.Envelope
import graft.sink.Router
import graft.streaming.Pipeline

/** What one micro-batch costs in Spark jobs, and what it names them: a
  * warm `processBatch` onto an existing sink runs a bounded number of
  * jobs, each described by the table it commits, parses each envelope
  * once, and the price merge and the indicator fold share one exchange. */
class PipelineJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Tables = Seq("coins", "price_data", "technical_indicators", "ohlc_data", "coin_market_cap")
  private val Coins = Seq("BTC", "ETH", "SOL")
  private val Exchanges = Seq("binance", "kraken")

  /** One envelope with all four arrays filled, stamped at `minute`. */
  private def envelope(minute: Int): String = {
    val ts = f"2024-01-01T${minute / 60}%02d:${minute % 60}%02d:00.000000"
    val series = for (c <- Coins; e <- Exchanges) yield (s"${e}_$c", e)
    val coins = Coins.map(c => s"""{"id":"binance_$c","name":"$c","symbol":"$c"}""")
    val price = series.map { case (c, e) =>
      s"""{"coin_id":"$c","exchange":"$e","timestamp":"$ts","price":${100.0 + minute % 7},""" +
        s""""volume_24h":1.0,"percent_change_24h":0.5}"""
    }
    val ohlc = series.map { case (c, e) =>
      s"""{"coin_id":"$c","exchange":"$e","timestamp":"$ts","timeframe":"5m","open":1.0,""" +
        s""""high":2.0,"low":0.5,"close":1.5,"change":0.1}"""
    }
    val mcap = Coins.map(c => s"""{"coin_symbol":"${c.toLowerCase}","market_cap_percentage":10.0}""")
    s"""{"coins":[${coins.mkString(",")}],"price_data":[${price.mkString(",")}],""" +
      s""""ohlc_data":[${ohlc.mkString(",")}],"coin_market_cap":[${mcap.mkString(",")}]}"""
  }

  private def batch(minutes: Range): DataFrame = minutes.map(envelope).toDF("value")

  test("a warm processBatch runs at most 10 jobs, each named after the table it commits") {
    val sink = Files.createTempDirectory("jobs-sink").toString
    Pipeline.processBatch(spark, batch(0 until 30), sink)
    Pipeline.processBatch(spark, batch(30 to 30), sink)

    val sc = spark.sparkContext
    val run = s"pipeline-jobs-${UUID.randomUUID()}"
    val descriptions = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty("graft.spec.run")).foreach {
          case `run` => descriptions.add(String.valueOf(s.properties.getProperty("spark.job.description")))
          case marker if marker == s"$run-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.run", run)
      Pipeline.processBatch(spark, batch(31 to 31), sink)
      // the listener bus delivers in order: once this job's start arrives,
      // every job of the batch has been seen
      sc.setLocalProperty("graft.spec.run", s"$run-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty("graft.spec.run", null)
      sc.removeSparkListener(listener)
    }

    val jobs = descriptions.asScala.toSeq
    assert(jobs.size <= 10, jobs.mkString("; "))
    assert(jobs.forall(d => Tables.exists(t => d == s"processBatch $t")), jobs.mkString("; "))
    assert(Tables.forall(t => jobs.contains(s"processBatch $t")), jobs.mkString("; "))
    // one commit: the five tables, no record and nothing staged left
    assert(new java.io.File(sink).list().toSet === Tables.toSet)
  }

  test("processBatch parses each envelope once, cold and warm") {
    val sink = Files.createTempDirectory("parse-sink").toString
    val parsed = spark.sparkContext.longAccumulator("envelopes parsed")
    val counted = udf { (v: String) => parsed.add(1); v }
    Seq(0 until 20, 20 until 25).foreach { minutes =>
      parsed.reset()
      Pipeline.processBatch(spark, batch(minutes).select(counted(col("value")).as("value")), sink)
      assert(parsed.value === minutes.size.toLong)
    }
  }

  test("the price merge plans one exchange on the series key; the indicator fold over it none") {
    val sink = Files.createTempDirectory("plan-sink").toString
    Pipeline.processBatch(spark, batch(0 until 3), sink)
    val d = Envelope.demux(Envelope.parse(batch(3 to 3)))
    val merged = Router.merge(spark, d.price, "price_data", sink, cluster = Seq("coin_id", "exchange"))
    def exchanges(p: SparkPlan) = collect(p) { case e: ShuffleExchangeLike => e }
    val mergeExchanges = exchanges(merged.queryExecution.executedPlan)
    assert(mergeExchanges.size === 1)
    assert(mergeExchanges.head.outputPartitioning.toString.startsWith("hashpartitioning(coin_id"),
      mergeExchanges.head.outputPartitioning.toString)

    val cached = merged.persist()
    try {
      val fold = IndicatorFold.foldSeries(cached).queryExecution.executedPlan
      assert(exchanges(fold).isEmpty, fold.toString)
    } finally cached.unpersist()
  }
}
