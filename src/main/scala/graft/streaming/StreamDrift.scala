package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Continuous data-quality monitoring: per-event-time-window PSI of the
  * live value distribution against a FROZEN reference distribution —
  * the streaming face of `ops/Monitor.psi` (same bin edges, same
  * add-one smoothing, so a window's streaming PSI equals the batch PSI
  * of the same rows, asserted in StreamDriftSpec).
  *
  * Scale shape: the stream aggregates to (window, event_type, bin)
  * counts under a watermark — state is #windows·#types·#bins rows, not
  * events — and the PSI join happens per EMITTED window against the
  * broadcast reference (types·bins rows). Nothing driver-side, nothing
  * unbounded: late data beyond the watermark is dropped by the window
  * aggregate.
  */
object StreamDrift {

  val Bins = 10

  /** Frozen reference: per (event_type, bin) counts + totals, from the
    * pre-`split` slice of the batch events table. The bin edges (lo/hi
    * per type) freeze with the reference — current data clamps in. */
  def referenceBins(spark: SparkSession, dir: String,
      split: String = "2024-01-15 00:00:00"): DataFrame = {
    val ref = Tables.events(spark, dir)
      .filter(col("ts") < lit(split).cast("timestamp"))
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val stats = ref.groupBy(col("event_type"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        count(lit(1)).as("n_ref"))
    ref.join(stats, Seq("event_type"))
      .withColumn("bin", binOf(col("cents"), col("lo"), col("hi")))
      .groupBy(col("event_type"), col("lo"), col("hi"), col("n_ref"), col("bin"))
      .agg(count(lit(1)).as("nr"))
  }

  /** Clamped equal-width bin id (integer arithmetic, non-negative). */
  def binOf(cents: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(Bins - 1L),
      ((least(hi, greatest(lo, cents)) - lo) * Bins / (hi - lo + 1)).cast("long"))

  /** Streaming side: watermarked per-window (type, bin) counts in
    * append mode — one row per closed (window, type, bin). `events`
    * needs (ts timestamp, event_type, value). */
  def windowedBins(events: DataFrame, ref: DataFrame,
      windowLen: String = "6 hours", watermark: String = "1 hour"): DataFrame =
    events
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(broadcast(ref.select(col("event_type"), col("lo"), col("hi"),
        col("n_ref")).distinct()), Seq("event_type"))
      .withColumn("bin", binOf(col("cents"), col("lo"), col("hi")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("nc"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("bin"), col("nc"))

  /** Batch face, oracle-gated as q_window_psi: the post-split slice
    * through the SAME windowed-bin plan (withWatermark is a no-op on a
    * batch Dataset) and the same PSI assembly. Spark's `window()`
    * aligns to the epoch, so the oracle reproduces window starts with
    * integer epoch-second arithmetic. */
  def windowPsi(spark: SparkSession, dir: String,
      split: String = "2024-01-15 00:00:00"): DataFrame = {
    val ref = referenceBins(spark, dir, split)
    val cur = Tables.events(spark, dir)
      .filter(col("ts") >= lit(split).cast("timestamp"))
      .select(col("ts"), col("event_type"), col("value"))
    psiPerWindow(windowedBins(cur, ref), ref)
  }

  /** DuckDB oracle for [[windowPsi]]. */
  val windowPsiSql: String =
    """WITH refrows AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
      |stats AS (SELECT event_type, min(cents) AS lo, max(cents) AS hi,
      |            count(*) AS n_ref
      |          FROM refrows GROUP BY event_type),
      |refbins AS (
      |  SELECT r.event_type,
      |    least(9, (least(hi, greatest(lo, cents)) - lo) * 10
      |             // (hi - lo + 1)) AS bin,
      |    count(*) AS nr
      |  FROM refrows r JOIN stats USING (event_type)
      |  GROUP BY r.event_type, bin),
      |refspine AS (
      |  SELECT s.event_type, s.n_ref, g.bin, coalesce(rb.nr, 0) AS nr
      |  FROM stats s CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
      |  LEFT JOIN refbins rb ON rb.event_type = s.event_type AND rb.bin = g.bin),
      |cur AS (
      |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
      |              * 21600) AS TIMESTAMP) AS win_start,
      |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
      |curbins AS (
      |  SELECT win_start, c.event_type,
      |    least(9, (least(hi, greatest(lo, cents)) - lo) * 10
      |             // (hi - lo + 1)) AS bin,
      |    count(*) AS nc
      |  FROM cur c JOIN stats USING (event_type)
      |  GROUP BY win_start, c.event_type, bin),
      |tot AS (SELECT win_start, event_type, CAST(sum(nc) AS BIGINT) AS n_cur
      |        FROM curbins GROUP BY win_start, event_type),
      |spine AS (
      |  SELECT t.win_start, t.event_type, t.n_cur, r.bin, r.nr, r.n_ref,
      |    coalesce(cb.nc, 0) AS nc
      |  FROM tot t JOIN refspine r ON r.event_type = t.event_type
      |  LEFT JOIN curbins cb ON cb.win_start = t.win_start
      |    AND cb.event_type = t.event_type AND cb.bin = r.bin)
      |SELECT win_start, event_type, max(n_cur) AS n_cur,
      |  round(sum((CAST(nc + 1 AS DOUBLE) / (n_cur + 10)
      |             - CAST(nr + 1 AS DOUBLE) / (n_ref + 10))
      |        * ln((CAST(nc + 1 AS DOUBLE) / (n_cur + 10))
      |             / (CAST(nr + 1 AS DOUBLE) / (n_ref + 10)))), 6) AS psi
      |FROM spine GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  /** PSI per (window, type) from emitted bin counts + the frozen
    * reference — runs on the SAME formula as Monitor.psi (full bin
    * spine, add-one smoothing). Batch-usable: the spec feeds it both
    * the streaming sink contents and a batch recount. */
  def psiPerWindow(binCounts: DataFrame, ref: DataFrame): DataFrame = {
    // full reference spine with zeros — absent reference bins still
    // contribute under smoothing
    val refSpine = ref.select(col("event_type"), col("n_ref")).distinct()
      .withColumn("bin", explode(sequence(lit(0L), lit(Bins.toLong - 1))))
      .join(ref.select(col("event_type"), col("bin"), col("nr")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("nr"))
    val curTotals = binCounts.groupBy(col("win_start"), col("event_type"))
      .agg(sum(col("nc")).as("n_cur"))
    // explicit renames on the probe copy: the spine derives from the
    // same binCounts plan, and a bare self-join would carry conflicting
    // attribute ids through the explode
    val counts = binCounts.select(col("win_start").as("w2"),
      col("event_type").as("t2"), col("bin").as("b2"), col("nc"))
    val spine = curTotals
      .withColumn("bin", explode(sequence(lit(0L), lit(Bins.toLong - 1))))
      .join(counts, col("win_start") === col("w2") &&
        col("event_type") === col("t2") && col("bin") === col("b2"), "left")
      .drop("w2", "t2", "b2")
      .na.fill(0L, Seq("nc"))
      .join(broadcast(refSpine), Seq("event_type", "bin"))
    spine
      .select(col("win_start"), col("event_type"), col("n_cur"),
        ((col("nr") + 1).cast("double") / (col("n_ref") + Bins)).as("pr"),
        ((col("nc") + 1).cast("double") / (col("n_cur") + Bins)).as("pc"))
      .groupBy(col("win_start"), col("event_type"))
      .agg(max(col("n_cur")).as("n_cur"),
        round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 6)
          .as("psi"))
      .orderBy(col("win_start"), col("event_type"))
  }
}
