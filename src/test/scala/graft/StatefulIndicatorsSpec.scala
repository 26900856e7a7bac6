package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Schemas.PriceTick
import graft.streaming.StatefulIndicators

class StatefulIndicatorsSpec extends SparkSpec {
  import spark.implicits._

  private def tick(k: String, i: Int, p: Double) =
    PriceTick(k, "x", new Timestamp(i * 60000L), p, 0.0, 0.0)

  private val rng = new scala.util.Random(7)
  private val series = (0 until 60).map(i => tick("btc", i, 100 + rng.nextDouble() * 10)) ++
    (0 until 25).map(i => tick("eth", i, 50 + math.sin(i) * 5))

  /** Batch window-expression results as the ground truth. */
  private lazy val expected = {
    val df = series.toDF()
    graft.indicators.Indicators.withIndicators(
        df, Seq("coin_id", "exchange"), Seq(col("timestamp")), col("price"))
      .select($"coin_id", $"timestamp", $"sma_20", $"ema_20", $"rsi_14", $"macd")
      .as[(String, Timestamp, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2.getTime) -> (r._3, r._4, r._5, r._6)).toMap
  }

  private def check(got: Seq[graft.model.Schemas.IndicatorRow]): Unit = {
    assert(got.size === series.size)
    // exact: both sides fold the same sums and recurrences in the same order
    got.foreach { r =>
      val (sma, ema, rsi, macd) = expected((r.coin_id, r.timestamp.getTime))
      assert(r.sma_20 === sma, s"sma at ${r.timestamp}")
      assert(r.ema_20 === ema, s"ema at ${r.timestamp}")
      assert(r.rsi_14 === rsi, s"rsi at ${r.timestamp}")
      assert(r.macd === macd, s"macd at ${r.timestamp}")
    }
  }

  test("batch mode: stateful fold equals the window-expression formulation") {
    check(StatefulIndicators.attach(series.toDS()).collect().toSeq)
  }

  test("streaming mode: state carries across micro-batches (3 chunks, same result)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PriceTick]
    val q = StatefulIndicators.attach(mem.toDS())
      .writeStream.format("memory").queryName("ind_out")
      .outputMode("append").start()
    try {
      // chunks split mid-window for both keys; per-key order preserved
      val chunks = Seq(series.take(30), series.slice(30, 70), series.drop(70))
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      check(spark.table("ind_out").as[graft.model.Schemas.IndicatorRow].collect().toSeq)
    } finally q.stop()
  }
}
