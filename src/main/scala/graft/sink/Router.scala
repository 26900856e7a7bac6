package graft.sink

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Dedup

/** Multiplex sink: route each entity batch to its table by schema probe,
  * writing with upsert-by-primary-key semantics.
  *
  * Mirrors the reference's `foreachBatch` sink (`spark-streaming.py:
  * 119-149`): it probes which columns exist to pick the Cassandra table
  * (`"id" in df.columns → coins`, ...), and relies on Cassandra's
  * last-write-wins PK upsert for dedup (load-bearing there because the
  * stream replays from `earliest` with no checkpoint — SURVEY.md §1.1).
  * We model that explicitly: `keepLatest` over the PK before the write,
  * with newer batches winning ties.
  *
  * Note: the reference's routing has a dead branch — `ema_20` can never
  * be reached after the `sma_20` probe (`spark-streaming.py:131`); we
  * keep one probe per table and document rather than reproduce the dead
  * code.
  *
  * One commit per batch: a batch stages each table it writes to
  * `baseDir/.<table>.tmp` ([[stage]]); [[commit]] then atomically writes
  * the record `baseDir/_commit` naming them, installs each (delete
  * `<table>`, move its `.tmp` into place) and deletes the record.
  * [[recover]] resolves a crash: with no record the batch never committed,
  * and its stray `.tmp`s (a torn record among them) are deleted; with the
  * record, each listed table was fully staged before it was written, so
  * every one whose `.tmp` is left is installed.
  */
object Router {

  /** Primary keys per table (reference DDL `spark-streaming.py:52-115`). */
  val TableKeys: Map[String, Seq[String]] = Map(
    "coins" -> Seq("id"),
    "price_data" -> Seq("coin_id", "exchange", "timestamp"),
    "ohlc_data" -> Seq("coin_id", "exchange", "timestamp", "timeframe"),
    "technical_indicators" -> Seq("coin_id", "exchange", "timestamp"),
    "coin_market_cap" -> Seq("coin_symbol", "timestamp"))

  private val Record = "_commit" // one staged table per line

  /** Column-presence probe → table name (K1). */
  def route(df: DataFrame): Option[String] = {
    val cols = df.columns.toSet
    if (cols.contains("id")) Some("coins")
    else if (cols.contains("sma_20")) Some("technical_indicators")
    else if (cols.contains("open")) Some("ohlc_data")
    else if (cols.contains("price")) Some("price_data")
    else if (cols.contains("market_cap_percentage")) Some("coin_market_cap")
    else None
  }

  /** The rows a commit of `batch` into `baseDir/<table>` stores:
    * last-write-wins on the PK, newer batch beats stored rows on exact PK
    * collision; within one batch, ties on the PK are broken
    * deterministically by the remaining columns (descending) so re-running
    * the same input stores the same row regardless of partition order.
    *
    * The stored table is read with the batch's schema, every column made
    * nullable, so no footer-inference job runs: a stored file missing a
    * column reads that column as null, and a stored column whose type
    * conflicts with the batch's fails the stage. With `cluster` (a prefix
    * of the PK) the union is first hash-partitioned on those columns; that
    * partitioning satisfies the dedup window, so the plan has that one
    * exchange and its output stays clustered on `cluster` and sorted by
    * the PK within each partition. */
  def merge(spark: SparkSession, batch: DataFrame, table: String, baseDir: String,
      cluster: Seq[String] = Nil): DataFrame = {
    val keys = TableKeys(table)
    val dest = s"$baseDir/$table"
    val incoming = batch.withColumn("__pri", lit(1))
    val tiebreak = incoming.columns.filterNot(c => keys.contains(c) || c == "__pri")
      .map(c => col(c).desc).toSeq
    val all =
      if (Files.exists(Paths.get(dest))) {
        val stored = StructType(batch.schema.map(_.copy(nullable = true)))
        incoming.unionByName(spark.read.schema(stored).parquet(dest).withColumn("__pri", lit(0)))
      } else incoming
    val clustered = if (cluster.isEmpty) all else all.repartition(cluster.map(col): _*)
    Dedup.keepLatest(clustered, keys, col("__pri").desc +: tiebreak).drop("__pri")
  }

  /** Write `rows` to `baseDir/.<table>.tmp`, replacing any stale copy; the
    * table itself is untouched until [[commit]]. */
  def stage(rows: DataFrame, table: String, baseDir: String): Unit =
    rows.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/.$table.tmp")

  /** Install the staged `tables` as one unit (see above). */
  def commit(baseDir: String, tables: Seq[String]): Unit = {
    writeRecord(baseDir, tables)
    tables.foreach(install(baseDir, _))
    clearRecord(baseDir)
  }

  /** Finish or discard an interrupted [[commit]] (see above). */
  def recover(baseDir: String): Unit = {
    val record = Paths.get(baseDir, Record)
    if (Files.exists(record)) {
      Files.readAllLines(record).asScala.filter(t => Files.exists(Paths.get(baseDir, s".$t.tmp")))
        .foreach(install(baseDir, _))
      clearRecord(baseDir)
    }
    Option(new File(baseDir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".tmp"))
      .foreach(FileUtils.forceDelete)
  }

  /** Write the record to `._commit.tmp` and move it into place atomically,
    * so a crash leaves either no record or the whole one. */
  private[graft] def writeRecord(baseDir: String, tables: Seq[String]): Unit = {
    val tmp = Paths.get(baseDir, s".$Record.tmp")
    Files.write(tmp, tables.asJava)
    Files.move(tmp, Paths.get(baseDir, Record), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Replace `baseDir/<table>` with its staged `.tmp`. */
  private[graft] def install(baseDir: String, table: String): Unit = {
    val dest = Paths.get(baseDir, table)
    if (Files.exists(dest)) FileUtils.forceDelete(dest.toFile)
    Files.move(Paths.get(baseDir, s".$table.tmp"), dest)
  }

  private[graft] def clearRecord(baseDir: String): Unit =
    Files.deleteIfExists(Paths.get(baseDir, Record))
}
