package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftSqlShim
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
      mcapTs: Option[Timestamp] = None): StreamingQuery =
    run(spark, spark.readStream.text(sourceDir), sinkDir, checkpointDir, availableNow, mcapTs)

  /** Run `processBatch` over each micro-batch of `raw`, a stream with an
    * envelope `value` column; every source starts the query here. */
  private[streaming] def run(spark: SparkSession, raw: DataFrame, sinkDir: String,
      checkpointDir: String, availableNow: Boolean, mcapTs: Option[Timestamp]): StreamingQuery = {
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, sinkDir, mcapTs)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** One micro-batch, committed as one unit: parse → demux → stage every
    * routed table (an unroutable frame is skipped, as the reference logs
    * and continues, `spark-streaming.py:144-147`) → one [[Router.commit]]
    * of all of them. Each table's jobs run under the description
    * `processBatch <table>`. The parsed envelopes are persisted
    * ([[GraftSqlShim.persistRows]]): the first table's job parses the
    * batch and keeps it, the others read it, and no job is added.
    *
    * Prices and indicators share one merge: the batch ∪ the stored prices,
    * hash-partitioned on (coin_id, exchange) and deduplicated on the PK
    * ([[Router.merge]]), in one exchange. The merge is persisted and
    * written to `.price_data.tmp`; the indicators of every series are then
    * folded over the same cached partitions ([[IndicatorFold.foldSeries]]:
    * no second exchange, no re-read of `price_data`) into
    * `.technical_indicators.tmp`.
    *
    * It starts with [[Router.recover]], which brings a sink crashed at any
    * point to the previous batch or to that one, never a mix ([[Router]]);
    * re-running the batch then leaves the sink a clean run would: the
    * merges are idempotent, and `technical_indicators`, equal to
    * [[graft.indicators.Indicators.withIndicators]] over `price_data`
    * exactly (PipelineExactnessSpec), is re-derived from the new prices. */
  def processBatch(spark: SparkSession, batch: DataFrame, sinkDir: String,
      mcapTs: Option[Timestamp] = None): Unit = {
    Router.recover(sinkDir)
    val (env, envelopes) = GraftSqlShim.persistRows(Envelope.parse(batch))
    val d = Envelope.demux(env, mcapTs)
    def stage(table: String)(rows: => DataFrame): Unit =
      Staging.phase(spark, s"processBatch $table")(Router.stage(rows, table, sinkDir))
    val merged = Router.merge(spark, d.price, "price_data", sinkDir,
      cluster = Seq("coin_id", "exchange")).persist()
    val entities = try {
      val staged = for (df <- Seq(d.coins, d.ohlc, d.marketCap); table <- Router.route(df))
        yield { stage(table)(Router.merge(spark, df, table, sinkDir)); table }
      stage("price_data")(merged)
      stage("technical_indicators")(IndicatorFold.foldSeries(merged).toDF())
      staged
    } finally { merged.unpersist(); envelopes.unpersist() }
    Router.commit(sinkDir, entities :+ "price_data" :+ "technical_indicators")
  }

  /** Backfill: fold every series of the stored `price_data` and replace
    * `technical_indicators` with the result (no merge with the stored
    * indicators), through the same stage-and-commit as [[processBatch]]. */
  def deriveIndicators(spark: SparkSession, sinkDir: String): Unit = {
    Router.recover(sinkDir)
    val priceDir = s"$sinkDir/price_data"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(priceDir))) {
      Router.stage(IndicatorFold.derive(spark.read.parquet(priceDir)).toDF(),
        "technical_indicators", sinkDir)
      Router.commit(sinkDir, Seq("technical_indicators"))
    }
  }
}
