package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.indicators.{Holt, Indicators}

/** pandas-parity vectors for the indicator engine (SURVEY.md §7.4 risk 1).
  * Expected values computed by hand from the reference's formulas
  * (reference spark-streaming.py:164-188):
  *   - SMA-n: null until n rows seen (`rolling(n).mean()` min_periods)
  *   - EMA(span, adjust=False): y0 = x0; y_t = α x_t + (1−α) y_{t−1}
  *   - Cutler RSI-14: simple means of clipped deltas; loss=0 → 100;
  *     gain=loss=0 → null
  */
class IndicatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(i * 1000L)

  test("ewma matches the adjust=False recurrence") {
    val df = Seq(10.0, 20.0, 30.0, 40.0).zipWithIndex
      .map { case (v, i) => ("k", ts(i), i.toLong, v) }
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
      .select("ema_12").as[Double].collect()
    // alpha = 2/13: y0=10; y1=2/13*20+11/13*10; ...
    val a = 2.0 / 13.0
    var y = 10.0
    val exp = Seq(10.0, 20.0, 30.0, 40.0).map { x =>
      y = if (x == 10.0) 10.0 else a * x + (1 - a) * y; y
    }
    out.zip(exp).foreach { case (got, e) => assert(math.abs(got - e) < 1e-12) }
  }

  test("sma_20 is null for the first 19 rows and a plain mean after") {
    val df = (1 to 25).map(i => ("k", ts(i), i.toLong, i.toDouble))
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
      .select("sma_20").as[Option[Double]].collect()
    assert(out.take(19).forall(_.isEmpty))
    // row 20 (values 1..20): mean 10.5; row 21 (2..21): 11.5
    assert(out(19).contains(10.5))
    assert(out(20).contains(11.5))
  }

  test("rsi_14: monotonically increasing series gives RSI 100 (loss=0)") {
    val df = (1 to 20).map(i => ("k", ts(i), i.toLong, i.toDouble))
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
      .select("rsi_14").as[Option[Double]].collect()
    assert(out.take(13).forall(_.isEmpty)) // first valid at 14th row
    assert(out(13).contains(100.0))
    assert(out(19).contains(100.0))
  }

  test("rsi_14: constant series (gain=loss=0) is null, matching pandas NaN") {
    val df = (1 to 16).map(i => ("k", ts(i), i.toLong, 7.0))
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
      .select("rsi_14").as[Option[Double]].collect()
    assert(out.forall(_.isEmpty))
  }

  test("empty input yields an empty indicator frame, not a failure") {
    val empty = Seq.empty[(String, Timestamp, Long, Double)]
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(empty, Seq("k"), Seq(col("ts"), col("id")), col("v"))
    assert(out.count() === 0)
    assert(out.columns.contains("rsi_14"))
  }

  test("wilder rsi: hand-computed seed + recurrence, n=2") {
    // values 10,12,11,14 -> deltas null,+2,-1,+3; gains 0,2,0,3; losses 0,0,1,0
    // n=2 seed at rn2: wg=(0+2)/2=1, wl=0 -> rsi 100 (loss=0, gain>0)
    // rn3: wg=.5*0+.5*1=.5, wl=.5*1+.5*0=.5 -> rs=1, rsi 50
    // rn4: wg=.5*3+.5*.5=1.75, wl=.5*0+.5*.5=.25 -> rs=7, rsi 87.5
    val df = Seq(10.0, 12.0, 11.0, 14.0).zipWithIndex
      .map { case (v, i) => ("k", ts(i + 1), (i + 1).toLong, v) }
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withWilderRsi(df, Seq("k"), Seq(col("ts"), col("id")),
        col("v"), n = 2)
      .select("wg", "wl", "rsi_wilder")
      .as[(Option[Double], Option[Double], Option[Double])].collect()
    assert(out(0) === ((None, None, None))) // before seed row: all null
    assert(out(1) === ((Some(1.0), Some(0.0), Some(100.0))))
    assert(out(2) === ((Some(0.5), Some(0.5), Some(50.0))))
    assert(out(3) === ((Some(1.75), Some(0.25), Some(87.5))))
  }

  test("wilder rsi: null until row n, then always defined on moving data") {
    val df = (1 to 20).map(i => ("k", ts(i), i.toLong, math.cos(i) * 5 + 30))
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withWilderRsi(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
      .orderBy("id").select("rsi_wilder").as[Option[Double]].collect()
    assert(out.take(13).forall(_.isEmpty))
    assert(out.drop(13).forall(_.isDefined))
  }

  test("macd = ema12 - ema26 and both share one Window operator") {
    val df = (1 to 30).map(i => ("k", ts(i), i.toLong, math.sin(i) * 10 + 50))
      .toDF("k", "ts", "id", "v")
    val out = Indicators.withIndicators(df, Seq("k"), Seq(col("ts"), col("id")), col("v"))
    val rows = out.select("ema_12", "ema_26", "macd").as[(Double, Double, Double)].collect()
    rows.foreach { case (e12, e26, m) => assert(math.abs(m - (e12 - e26)) < 1e-12) }
    // scale guard: all indicators must evaluate in a single Window node
    val plan = out.queryExecution.optimizedPlan.toString()
    val windowOps = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windowOps <= 2, s"expected <=2 Window operators, got $windowOps:\n$plan")
  }

  test("holt: coupled level/trend recurrence matches a hand fold") {
    val xs = Seq(10.0, 14.0, 12.0, 20.0, 16.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", ts(i + 1), i.toLong, x) }
      .toDF("k", "ts", "id", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ts", $"id")
    val got = df.withColumn("h", Holt(spark, $"v", 0.5, 0.3).over(w))
      .orderBy($"id")
      .select($"h.level", $"h.trend").as[(Double, Double)].collect()
    // reference fold of s_t = .5x + .5(s+b); b_t = .3(s_t - s) + .7b
    var (s, b) = (xs.head, 0.0)
    val exp = Seq((s, b)) ++ xs.tail.map { x =>
      val sN = 0.5 * x + 0.5 * (s + b)
      val bN = 0.3 * (sN - s) + 0.7 * b
      s = sN; b = bN; (s, b)
    }
    got.zip(exp).foreach { case ((gs, gb), (es, eb)) =>
      assert(math.abs(gs - es) < 1e-12 && math.abs(gb - eb) < 1e-12,
        s"got ($gs,$gb) expected ($es,$eb)")
    }
  }

  test("forecastEval: rmse >= mae, metrics match a driver-side recount") {
    val rows = Indicators.forecastEval(spark, sf)
      .as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, mae, rmse) =>
      assert(n > 0)
      assert(rmse >= mae, s"$et: RMSE below MAE is impossible")
    }
    // recount one series by folding Holt by hand over the same slice
    val (et0, n0, mae0, rmse0) = rows.head
    val xs = graft.util.Tables.events(spark, sf)
      .filter($"event_id" < 5000 && $"event_type" === et0)
      .orderBy($"ts", $"event_id").select($"value").as[Double].collect()
    var (s, b) = (xs.head, 0.0)
    val errs = xs.tail.map { x =>
      val f = s + b
      val sN = 0.5 * x + 0.5 * (s + b); val bN = 0.3 * (sN - s) + 0.7 * b
      s = sN; b = bN
      math.round((f - x) * 1000)
    }
    assert(errs.length === n0)
    assert(math.abs(mae0 - errs.map(math.abs(_)).sum.toDouble / n0 / 1000) < 1e-6)
    assert(math.abs(rmse0 -
      math.sqrt(errs.map(e => e.toDouble * e).sum / n0) / 1000) < 1e-6)
  }

  test("forecastCompare: consistent with forecastEval and the rmse ratio") {
    val cmp = Indicators.forecastCompare(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val ev = Indicators.forecastEval(spark, sf)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(cmp.keySet === ev.keySet)
    cmp.foreach { case (et, (_, n, rh, rl, imp)) =>
      assert(n === ev(et)._2)
      assert(math.abs(rh - ev(et)._4) < 1e-6, s"$et: holt rmse drifted")
      assert(rl > 0.0)
      // improvement derives from the unrounded ratio; allow rounding slack
      assert(math.abs(imp - (1.0 - rh / rl)) < 1e-4, s"$et: improvement inconsistent")
    }
  }

  test("holt is SQL-visible and the SQL form matches the Column form") {
    GraftExtensions.install(spark)
    val df = Seq(("k", 1L, 10.0), ("k", 2L, 14.0), ("k", 3L, 12.0),
      ("j", 1L, 5.0), ("j", 2L, 9.0)).toDF("k", "id", "v")
    df.createOrReplaceTempView("holt_in")
    val viaSql = spark.sql(
      """SELECT k, id, h.level AS lvl, h.trend AS trd FROM (
        |  SELECT k, id, holt(v, 0.5, 0.3)
        |    OVER (PARTITION BY k ORDER BY id) AS h FROM holt_in)
        |ORDER BY k, id""".stripMargin)
      .as[(String, Long, Double, Double)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"id")
    val viaCol = df.withColumn("h", Holt(spark, $"v", 0.5, 0.3).over(w))
      .select($"k", $"id", $"h.level", $"h.trend")
      .orderBy($"k", $"id")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(viaSql === viaCol)
  }
}
