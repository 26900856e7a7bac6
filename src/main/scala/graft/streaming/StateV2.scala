package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

import graft.model.Schemas.PriceTick

/** Arbitrary stateful processing on the Spark 4 `transformWithState`
  * API — the successor of `flatMapGroupsWithState`: typed named
  * state cells (`ValueState`/`ListState`/`MapState`) instead of one
  * opaque state object, per-cell TTL, timers, and schema evolution of
  * state across restarts.
  *
  * The op here is the streaming face of the decomposable-partial algebra
  * that `q_incremental_agg` / [[StreamingMV]] use in batch: each coin
  * carries ONE `ValueState` cell holding (n, Σcents, min, max) — O(1)
  * per key, independent of history — and every micro-batch emits the
  * key's updated partial. Integer cents make the fold order-independent
  * within a batch and bit-identical to the batch aggregation (asserted
  * in StateV2Spec across micro-batch splits).
  *
  * Runtime requirement: the v2 state API runs only on the RocksDB state
  * store (`spark.sql.streaming.stateStore.providerClass =
  * ...state.RocksDBStateStoreProvider`, rocksdbjni ships with Spark) —
  * the HDFS-backed default store does not implement it. At scale that is
  * the store you want anyway: state lives off-heap with incremental
  * checkpointing, so per-executor state size is bounded by disk, not
  * executor memory.
  */
object StateV2 {

  /** Decomposable per-coin tick partial (integer cents). */
  final case class TickPartial(coin_id: String, n: Long, sum_cents: Long,
      min_cents: Long, max_cents: Long)

  /** One ValueState cell per key; emits the merged partial per batch. */
  class TickStatsProcessor
      extends StatefulProcessor[String, PriceTick, TickPartial] {
    @transient private var st: ValueState[TickPartial] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TickPartial]("partial",
        Encoders.product[TickPartial], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PriceTick],
        timerValues: TimerValues): Iterator[TickPartial] = {
      var cur = Option(st.get())
        .getOrElse(TickPartial(key, 0L, 0L, Long.MaxValue, Long.MinValue))
      rows.foreach { t =>
        val c = math.round(t.price * 100)
        cur = TickPartial(key, cur.n + 1, cur.sum_cents + c,
          math.min(cur.min_cents, c), math.max(cur.max_cents, c))
      }
      st.update(cur)
      Iterator.single(cur)
    }
  }

  /** Attach to a (streaming or batch) tick Dataset. */
  def attach(ticks: Dataset[PriceTick]): Dataset[TickPartial] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.coin_id)
      .transformWithState(new TickStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Batch face of the operator, oracle-gated as q_state_v2: the DSv2
    * ticker feed mapped to ticks and folded through the SAME processor
    * (batch mode runs each key's rows once, so the emitted partial IS
    * the final aggregate — DuckDB cross-checks it against the closed-
    * form rebuild of the feed). Proves the streaming state fold and the
    * relational aggregation agree bit-for-bit. */
  def tickerPartials(parent: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // fork the session so the RocksDB pin below cannot leak into later
    // queries/streams sharing the parent (same SparkContext, own conf);
    // the returned DataFrame stays bound to the fork, so lazy execution
    // still sees the pin
    val spark = parent.newSession()
    import spark.implicits._
    // the v2 state API runs only on the RocksDB state store; pin it for
    // this (forked) session (the store a 100 TB key space needs anyway)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // batch execution still loads stores through the StateStoreCoordinator,
    // whose RPC endpoint is created by the streaming query manager — touch
    // it so a pure-batch session has one
    spark.streams.active
    val ticks = spark.read.format("graft.sources.Ticker").load()
      .filter(org.apache.spark.sql.functions.col("exchange") === "ex0" &&
        org.apache.spark.sql.functions.col("tick") >= 100L &&
        org.apache.spark.sql.functions.col("tick") < 400L)
      .select($"coin_id", $"exchange",
        org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L)).as("timestamp"),
        ($"price_cents".cast("double") / 100.0).as("price"),
        org.apache.spark.sql.functions.lit(0.0).as("volume_24h"),
        org.apache.spark.sql.functions.lit(0.0).as("percent_change_24h"))
      .as[PriceTick]
    attach(ticks).toDF()
      .orderBy(org.apache.spark.sql.functions.col("coin_id"))
  }
}
