package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Schemas.PriceTick
import graft.streaming.StateV2

class StateV2Spec extends SparkSpec {
  import spark.implicits._

  private def tick(k: String, i: Int, p: Double) =
    PriceTick(k, "x", new Timestamp(i * 60000L), p, 0.0, 0.0)

  private val series =
    (0 until 40).map(i => tick("btc", i, 100.0 + i * 0.5)) ++
      (0 until 15).map(i => tick("eth", i, 50.0 - i * 0.25))

  /** Ground truth from the batch aggregation of the same integer algebra. */
  private lazy val expected = series.toDF()
    .select(col("coin_id"), round(col("price") * 100).cast("long").as("c"))
    .groupBy("coin_id")
    .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
      min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
    .as[(String, Long, Long, Long, Long)].collect()
    .map(r => r._1 -> StateV2.TickPartial(r._1, r._2, r._3, r._4, r._5)).toMap

  test("transformWithState: per-key ValueState partial survives micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    // the v2 state API runs only on the RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[PriceTick]
    val q = StateV2.attach(mem.toDS())
      .writeStream.format("memory").queryName("sv2_out")
      .outputMode("update").start()
    try {
      // split mid-key so state must carry across batches
      Seq(series.take(25), series.slice(25, 45), series.drop(45)).foreach { c =>
        mem.addData(c); q.processAllAvailable()
      }
      val rows = spark.table("sv2_out").as[StateV2.TickPartial].collect()
      // update mode emits one partial per key per touched batch; the
      // highest-n row per key is the final state
      val finals = rows.groupBy(_.coin_id).map { case (k, rs) =>
        k -> rs.maxBy(_.n)
      }
      assert(finals === expected)
      // monotonicity: partials only grow within a key
      rows.groupBy(_.coin_id).values.foreach { rs =>
        val ns = rs.map(_.n).sorted
        assert(ns.distinct.length === ns.length)
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
