package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.indicators.IndicatorFold
import graft.ingest.Envelope
import graft.sink.Router
import graft.util.Staging

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
  *     derive indicators inside `foreachBatch` from the same merged price
  *     rows the price upsert writes (one per-series fold, see
  *     [[processBatch]]), which is legal, deterministic, and matches that
  *     intent.
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

  /** One micro-batch: parse → demux → route and upsert coins, OHLC and
    * market cap (an unroutable frame is skipped, as the reference logs
    * and continues, `spark-streaming.py:144-147`) → upsert prices and
    * indicators together. Each table's jobs run under the description
    * `processBatch <table>`.
    *
    * Prices and indicators share one merge: the batch ∪ the stored prices,
    * hash-partitioned on (coin_id, exchange) and deduplicated on the PK
    * ([[Router.merge]]), in one exchange. The merge is persisted and
    * written to `.price_data.tmp`; the indicators of every series are then
    * folded over the same cached partitions ([[IndicatorFold.foldSeries]]:
    * no second exchange, no re-read of `price_data`) into
    * `.technical_indicators.tmp`, and both tables are swapped in.
    *
    * `technical_indicators` is a pure function of `price_data`, equal to
    * [[graft.indicators.Indicators.withIndicators]] over it exactly
    * (PipelineExactnessSpec). So re-running a batch after a crash at any
    * point leaves the same sink: the upserts are idempotent, an
    * interrupted swap is recovered, and the indicators are re-derived
    * from the re-merged prices. */
  def processBatch(spark: SparkSession, batch: DataFrame, sinkDir: String,
      mcapTs: Option[Timestamp] = None): Unit = {
    val d = Envelope.demux(Envelope.parse(batch), mcapTs)
    def commit(table: String)(body: => Unit): Unit =
      Staging.phase(spark, s"processBatch $table")(body)
    for (df <- Seq(d.coins, d.ohlc, d.marketCap); table <- Router.route(df))
      commit(table)(Router.upsert(spark, df, table, sinkDir))
    val merged = Router.merge(spark, d.price, "price_data", sinkDir,
      cluster = Seq("coin_id", "exchange")).persist()
    try {
      commit("price_data")(Router.stage(merged, "price_data", sinkDir))
      commit("technical_indicators")(Router.stage(
        IndicatorFold.foldSeries(merged).toDF(), "technical_indicators", sinkDir))
    } finally merged.unpersist()
    Router.swap("price_data", sinkDir)
    Router.swap("technical_indicators", sinkDir)
  }

  /** Backfill: fold every series of the stored `price_data` and replace
    * `technical_indicators` with the result (no merge with the stored
    * indicators), through the same stage-and-swap commit as
    * [[processBatch]]. */
  def deriveIndicators(spark: SparkSession, sinkDir: String): Unit = {
    val priceDir = s"$sinkDir/price_data"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(priceDir))) {
      Router.stage(IndicatorFold.derive(spark.read.parquet(priceDir)).toDF(),
        "technical_indicators", sinkDir)
      Router.swap("technical_indicators", sinkDir)
    }
  }
}
