package graft.sink

import java.nio.file.{Files, Paths}

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
  * Scale notes: this local implementation rewrites the table because the
  * harness storage is plain parquet. At cluster scale the same semantics
  * are a MERGE INTO / dynamic-partition-overwrite keyed by
  * (key-hash bucket, date): the union+keepLatest plan is unchanged, only
  * the final write targets the partitions that received keys.
  */
object Router {

  /** Primary keys per table (reference DDL `spark-streaming.py:52-115`). */
  val TableKeys: Map[String, Seq[String]] = Map(
    "coins" -> Seq("id"),
    "price_data" -> Seq("coin_id", "exchange", "timestamp"),
    "ohlc_data" -> Seq("coin_id", "exchange", "timestamp", "timeframe"),
    "technical_indicators" -> Seq("coin_id", "exchange", "timestamp"),
    "coin_market_cap" -> Seq("coin_symbol", "timestamp"))

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

  /** Upsert `batch` into `baseDir/<table>`: last-write-wins on the PK,
    * newer batch beats stored rows on exact PK collision; within one
    * batch, ties on the PK are broken deterministically by the remaining
    * columns (descending) so re-running the same input stores the same
    * row regardless of partition order.
    *
    * The stored table is read with the batch's schema, every column made
    * nullable, so no footer-inference job runs: a stored file missing a
    * column reads that column as null, and a stored column whose type
    * conflicts with the batch's fails the upsert. */
  def upsert(spark: SparkSession, batch: DataFrame, table: String,
      baseDir: String): Unit = {
    stage(merge(spark, batch, table, baseDir), table, baseDir)
    swap(table, baseDir)
  }

  /** The rows [[upsert]] would store: `batch` ∪ the stored table, one row
    * per PK. With `cluster` (a prefix of the PK) the union is first
    * hash-partitioned on those columns; that partitioning satisfies the
    * dedup window, so the plan has that one exchange and its output stays
    * clustered on `cluster` and sorted by the PK within each partition.
    * Recovers the table from an interrupted swap before reading it. */
  def merge(spark: SparkSession, batch: DataFrame, table: String, baseDir: String,
      cluster: Seq[String] = Nil): DataFrame = {
    val keys = TableKeys(table)
    val dest = s"$baseDir/$table"
    recover(table, baseDir)
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
    * table itself is untouched until [[swap]]. */
  def stage(rows: DataFrame, table: String, baseDir: String): Unit = {
    recover(table, baseDir)
    rows.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/.$table.tmp")
  }

  /** Move a fully written `.<table>.tmp` into place. Renaming the table
    * aside (instead of deleting it) keeps a recoverable copy at every
    * instant: a crash between the two moves leaves `.<table>.old`, which
    * the next [[merge]] or [[stage]] of that table restores. Several
    * tables may be staged first and swapped after, so that a plan reading
    * one of them (a merge) is materialized before any of them moves. */
  def swap(table: String, baseDir: String): Unit = {
    val dest = Paths.get(s"$baseDir/$table")
    val old = Paths.get(s"$baseDir/.$table.old")
    if (Files.exists(dest)) Files.move(dest, old)
    Files.move(Paths.get(s"$baseDir/.$table.tmp"), dest)
    deleteTree(old.toString)
  }

  /** Put back a table whose swap died after the rename-aside (its `.old`
    * dir is then the authoritative copy) and drop leftover `.old` and
    * `.tmp` dirs. */
  private def recover(table: String, baseDir: String): Unit = {
    val dest = Paths.get(s"$baseDir/$table")
    val old = s"$baseDir/.$table.old"
    if (!Files.exists(dest) && Files.exists(Paths.get(old)))
      Files.move(Paths.get(old), dest)
    deleteTree(old); deleteTree(s"$baseDir/.$table.tmp")
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
