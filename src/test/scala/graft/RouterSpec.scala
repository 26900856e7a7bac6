package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.sink.Router

class RouterSpec extends SparkSpec {
  import spark.implicits._

  /** Merge `batch` into `dir/<table>`, stage the result and commit it. */
  private def upsert(batch: DataFrame, table: String, dir: Path): Unit = {
    Router.stage(Router.merge(spark, batch, table, dir.toString), table, dir.toString)
    Router.commit(dir.toString, Seq(table))
  }

  test("schema probe routes each entity shape to its table") {
    assert(Router.route(Seq(("a", "b", "c")).toDF("id", "name", "symbol"))
      .contains("coins"))
    assert(Router.route(Seq(("a", "b", 1.0)).toDF("coin_id", "exchange", "price"))
      .contains("price_data"))
    assert(Router.route(Seq(("a", 1.0, 2.0)).toDF("coin_id", "open", "close"))
      .contains("ohlc_data"))
    assert(Router.route(Seq(("a", 1.0)).toDF("coin_id", "sma_20"))
      .contains("technical_indicators"))
    assert(Router.route(Seq(("btc", 50.0)).toDF("coin_symbol", "market_cap_percentage"))
      .contains("coin_market_cap"))
    assert(Router.route(Seq((1, 2)).toDF("x", "y")).isEmpty)
  }

  test("upsert is idempotent: applying the same batch twice changes nothing") {
    val dir = Files.createTempDirectory("router"); dir.toFile.deleteOnExit()
    val batch = Seq(("c1", "Coin One", "C1"), ("c2", "Coin Two", "C2"))
      .toDF("id", "name", "symbol")
    upsert(batch, "coins", dir)
    val first = spark.read.parquet(s"$dir/coins")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    upsert(batch, "coins", dir)
    val second = spark.read.parquet(s"$dir/coins")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(first === second)
    assert(second.map(_._1) === Seq("c1", "c2"))
  }

  test("upsert reads the stored table with the batch's schema: a missing column reads as null, a conflicting type fails") {
    val dir = Files.createTempDirectory("router-schema"); dir.toFile.deleteOnExit()
    // a stored file written before the table had a `symbol` column
    Seq(("c1", "One")).toDF("id", "name").write.parquet(s"$dir/coins")
    upsert(Seq(("c2", "Two", "C2")).toDF("id", "name", "symbol"), "coins", dir)
    def stored = spark.read.parquet(s"$dir/coins")
      .as[(String, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(stored === Seq(("c1", "One", None), ("c2", "Two", Some("C2"))))
    // `symbol` is stored as a string; a batch carrying it as a double must
    // not read the stored strings as nulls
    val conflicting = Seq(("c3", "Three", 3.0)).toDF("id", "name", "symbol")
    intercept[Exception](upsert(conflicting, "coins", dir))
    assert(stored.map(_._1) === Seq("c1", "c2"))
  }

  test("property: EMA window function equals the sequential fold, many random series") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(42)
    val series = (0 until 20).flatMap { k =>
      val n = 1 + rng.nextInt(40)
      (0 until n).map(i => (s"key$k", i, rng.nextDouble() * 1000 - 500))
    }
    val df = series.toDF("k", "i", "v")
    val out = graft.indicators.Indicators.withIndicators(
        df, Seq("k"), Seq(col("i")), col("v"))
      .select("k", "i", "ema_20").as[(String, Int, Double)]
      .collect().groupBy(_._1).map { case (k, rows) =>
        k -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val alpha = 2.0 / 21.0
    series.groupBy(_._1).foreach { case (k, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      val expect = xs.tail.scanLeft(xs.head)((y, x) => alpha * x + (1 - alpha) * y)
      out(k).zip(expect).foreach { case (got, e) =>
        assert(math.abs(got - e) < 1e-9, s"key $k")
      }
    }
  }
}
