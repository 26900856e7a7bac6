package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout helpers for fact tables at scale.
  *
  * The reference stores facts keyed `((coin, exchange), ts DESC)` in
  * Cassandra and then full-scans around that layout (`ALLOW FILTERING`,
  * SURVEY.md §4). Two parquet-native pieces live here:
  *
  *   - [[mortonCode]], the 2-D Z-order clustering key (`q_zorder`): a
  *     file range-partitioned and sorted on it covers a compact region
  *     of both dims, so min/max stats prune predicates on either one;
  *   - [[compactionPlan]], the small-file OPTIMIZE planner
  *     (`q_compaction_plan`).
  */
object Layout {

  /** 2-D Morton (Z-order) code: interleave the low `bits` bits of two
    * already-quantized cell coordinates (x in even positions, y in odd).
    * Pure integer column algebra — codegen'd, no UDF. */
  def mortonCode(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { k =>
      shiftleft(shiftright(x.cast("long"), k).bitwiseAND(1), 2 * k) +
        shiftleft(shiftright(y.cast("long"), k).bitwiseAND(1), 2 * k + 1)
    }.reduce(_ + _)

  /** Small-file compaction planner (the OPTIMIZE step of a lakehouse
    * table): roll per-(source, lang) shard sizes up from the documents
    * table, then assign shards to target-size output bins by a
    * partitioned prefix sum — bin = bytes-written-before-me div target,
    * so every bin except the last per source holds ≥ target bytes once
    * its first spilling shard lands. The prefix sum is partitioned by
    * `source`, so at 100 TB each source plans its compaction
    * independently in parallel; there is no global cumulative-sum
    * bottleneck, and the plan is pure integer column algebra (no driver
    * loop over a file listing). */
  def compactionPlan(spark: SparkSession, dir: String,
      target: Long = 4000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards = graft.util.Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_chars")).as("bytes"))
    val cum = Window.partitionBy(col("source")).orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, -1)
    shards
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(cum), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .withColumn("bin_bytes", sum(col("bytes"))
        .over(Window.partitionBy(col("source"), col("bin"))))
      .select(col("source"), col("lang"), col("bytes"), col("bin"),
        col("bin_bytes"))
      .orderBy(col("source"), col("lang"))
  }
}
