package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.indicators.IndicatorFold
import graft.ingest.Envelope
import graft.sink.Router

/** The streaming ETL pipeline: envelope source → demux → multiplex upsert
  * sink → indicator derivation. The Spark-native re-expression of the
  * reference's `spark-streaming.py` job, with its three structural defects
  * fixed (SURVEY.md §2.11):
  *
  *   - T8: the reference runs 5 independent streaming queries, each
  *     re-reading Kafka; we run ONE query and fan out inside
  *     `foreachBatch` — one source read per micro-batch.
  *   - T6: the reference configures no checkpoint (no recovery, at-least-
  *     once with unbounded replay); `checkpointLocation` is mandatory here.
  *   - T7: the reference applies a grouped-map pandas UDF directly on a
  *     streaming DataFrame, which Spark's UnsupportedOperationChecker
  *     rejects — its *intent* is per-trigger indicator recomputation. We
  *     derive indicators inside `foreachBatch` over the upserted price
  *     table (one per-series fold, [[deriveIndicators]]), which is legal,
  *     deterministic, and matches that intent.
  *
  * The source is a line-delimited JSON file stream (one envelope per
  * line) — the same `value: String` shape a Kafka source yields after the
  * P1 cast. [[KafkaPipeline.start]] is the `format("kafka")` face of the
  * same pipeline (exercised against the Kafka-wire mock in
  * KafkaPipelineSpec; at deploy time only the jar is missing here).
  */
object Pipeline {

  /** Start the pipeline.
    *
    * @param sourceDir     directory of line-delimited envelope JSON files
    * @param sinkDir       base dir for the five upsert tables
    * @param checkpointDir streaming checkpoint location (T6 fix)
    * @param availableNow  drain-available-then-stop trigger (for tests /
    *                      batch catch-up) vs continuous micro-batches
    * @param mcapTs        fixed processing-time stamp for market-cap rows
    *                      (deterministic tests); None → current_timestamp
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      sinkDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      mcapTs: Option[Timestamp] = None): StreamingQuery = {
    val raw = spark.readStream.text(sourceDir)
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, sinkDir, mcapTs)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** One micro-batch: parse → demux → upsert the four entity tables →
    * re-derive indicators from each touched series' earliest timestamp in
    * this batch onward ([[deriveIndicators]] with [[changedFrom]]).
    *
    * Re-running a batch, whole or after only its entity writes (the
    * foreachBatch replay after a crash), leaves the same sink: the entity
    * upserts are idempotent, and the indicator rows the batch can change
    * are re-derived from the stored prices. */
  def processBatch(spark: SparkSession, batch: DataFrame, sinkDir: String,
      mcapTs: Option[Timestamp] = None): Unit = {
    val d = Envelope.demux(Envelope.parse(batch), mcapTs)
    Router.writeBatch(spark, sinkDir, Seq(d.coins, d.price, d.ohlc, d.marketCap))
    deriveIndicators(spark, sinkDir, Some(changedFrom(d.price)))
  }

  /** Per (coin_id, exchange) series in a batch's price rows, the earliest
    * timestamp it carries as `changed_from`; null when any of its rows has
    * a null timestamp (which sorts first, so the whole series changes). */
  def changedFrom(price: DataFrame): DataFrame =
    price.groupBy(col("coin_id"), col("exchange"))
      .agg(when(count(lit(1)) === count(col("timestamp")), min(col("timestamp")))
        .as("changed_from"))

  /** T7: derive the indicators from the stored price table and upsert them
    * into `technical_indicators`.
    *
    * Read: the full stored history of every series named in `changed`
    * (columns coin_id, exchange, changed_from — see [[changedFrom]]), or of
    * every series when `changed` is None (backfill). The read grows with
    * the touched series' history, not with the batch.
    *
    * Written: each touched series' changed suffix only — its rows at or
    * after `changed_from`. A row's indicators depend only on its series'
    * prices at or before it, so every earlier stored row is still exact.
    * None writes every row.
    *
    * Computed by [[IndicatorFold.derive]] in one exchange, sort and fold.
    * After the upsert, `technical_indicators` equals
    * [[graft.indicators.Indicators.withIndicators]] over `price_data`
    * exactly, not within a tolerance (PipelineExactnessSpec).
    *
    * [[StatefulIndicators.attach]] folds the same kernel with per-key
    * state carried by a streaming query; `GroupState` does not survive
    * across `processBatch` calls, so this path re-reads instead. */
  def deriveIndicators(spark: SparkSession, sinkDir: String,
      changed: Option[DataFrame] = None): Unit = {
    val priceDir = s"$sinkDir/price_data"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(priceDir))) {
      val all = spark.read.parquet(priceDir)
      val (price, from) = changed match {
        case Some(c) =>
          val keys = c.select(col("coin_id").as("changed_coin"),
            col("exchange").as("changed_exchange"), col("changed_from"))
          // null-safe: a series with a null key is a series too
          (all.join(broadcast(keys),
            all("coin_id") <=> keys("changed_coin") &&
              all("exchange") <=> keys("changed_exchange")),
            col("changed_from"))
        case None => (all, lit(null).cast("timestamp"))
      }
      Router.upsert(spark, IndicatorFold.derive(price, from).toDF(),
        "technical_indicators", sinkDir)
    }
  }
}
