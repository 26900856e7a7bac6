package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.Envelope

/** The Kafka face of [[Pipeline]] — S1 (consumer) and K3 (producer) of
  * SURVEY.md §2, wired against the real `format("kafka")` option surface
  * (reference `spark-streaming.py:269-275` consumer,
  * `dags/crypto_data_streaming.py:179-184` producer).
  *
  * The format string is a parameter so the identical pipeline runs
  * against the `graft.sources.MockKafka` test double (same wire schema, same
  * P1 cast, same demux/sink stages — KafkaPipelineSpec drives it end to
  * end) and against a real broker at deploy time with ONLY the default
  * arguments: the sandbox ships no Kafka jars, so `format("kafka")`
  * itself stops at data-source resolution here (also spec-asserted, with
  * the standard deploy fix in the error message — add
  * `spark-sql-kafka-0-10` to the classpath).
  */
object KafkaPipeline {

  /** Start the consumer pipeline: Kafka wire rows → P1 cast + envelope
    * parse → demux → multiplex upsert sink → indicator derivation.
    * Identical micro-batch body to [[Pipeline.start]] — only the source
    * differs. */
  def start(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      sinkDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      mcapTs: Option[Timestamp] = None,
      format: String = "kafka",
      extraOptions: Map[String, String] = Map.empty): StreamingQuery = {
    val raw = spark.readStream.format(format)
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .options(extraOptions)
      .load()
      // project the payload off the wire columns; the binary→string cast
      // (P1) happens inside Envelope.parse
      .select(col("value"))
    Pipeline.run(spark, raw, sinkDir, checkpointDir, availableNow, mcapTs)
  }

  /** K3 producer sink: pack price rows into JSON envelopes (C7,
    * [[Envelope.buildEnvelopes]]) and publish them as Kafka-wire
    * (key, value) binary records. One envelope per `groupCols` group —
    * the reference's one-envelope-per-poll batching. */
  def writeEnvelopes(
      price: DataFrame,
      bootstrapServers: String,
      topic: String,
      format: String = "kafka",
      extraOptions: Map[String, String] = Map.empty): Unit =
    Envelope.buildEnvelopes(price, Seq(col("exchange")))
      .select(lit(null).cast("binary").as("key"),
        col("value").cast("binary").as("value"))
      .write.format(format)
      .mode("append") // a producer only ever appends
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .options(extraOptions)
      .save()
}
