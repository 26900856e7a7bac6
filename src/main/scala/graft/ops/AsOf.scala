package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: enrich each left row with the most recent
  * right-side values at-or-before its timestamp, per key.
  *
  * This is the operator the reference *should* have used for its
  * `/coin_table` join — joining per-key time series on key alone
  * cross-products every timestamp pair (reference `flask/app.py:294-300`,
  * SURVEY.md §2.5) and then throws away all but the latest row. The
  * as-of form never materializes the cross product.
  *
  * Implementation is a composition, not a custom physical operator
  * (preference (a) of the custom-operator ladder): tag both inputs,
  * union them, and run `last(value, ignoreNulls) OVER (PARTITION BY key
  * ORDER BY ts, tag ROWS UNBOUNDED PRECEDING..CURRENT)` — one shuffle on
  * the key, one sort, O(1) state per row in WindowExec. Right rows sort
  * before left rows on timestamp ties (tag 0 < 1), giving inclusive
  * at-or-before semantics, matching DuckDB's `ASOF JOIN ... ON l.ts >=
  * r.ts` which the oracle uses.
  *
  * Tie contract: among RIGHT rows sharing (key, ts), ordering falls
  * through to the packed struct — `tieBreak` columns first, then the
  * payload — so with a unique tie-break column (e.g. `event_id`) the
  * backward join deterministically takes the row with the MAXIMUM
  * tie-break value and [[joinAsOfForward]] the MINIMUM, for ANY fixture.
  * DuckDB's ASOF JOIN still picks an *unspecified* row at exact-ts ties,
  * so oracle parity additionally assumes the right side carries at most
  * one row per (key, ts). The events fixture satisfies that today
  * (asserted in AsOfSpec); the same note rides the q_asof_* oracles so a
  * fixture edit that breaks it is traceable.
  */
object AsOf {

  /** @param left     rows to enrich
    * @param right    the series providing values
    * @param keys     equi-join key columns (present on both sides)
    * @param leftTs   left timestamp column name
    * @param rightTs  right timestamp column name
    * @param payload  right-side value columns carried onto left rows
    * @param tieBreak right-side columns ordering ties among right rows
    *                 sharing (key, ts) — ride FIRST in the packed struct,
    *                 are not emitted; pass a unique column (event_id) for
    *                 fixture-independent determinism
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    // the payload rides as ONE struct column: right rows carry a non-null
    // struct even when individual payload FIELDS are null (so genuinely
    // null values survive, unlike per-column last-ignoreNulls which would
    // skip back to a stale row), all payload fields are taken atomically
    // from the same right row, and the struct doubles as a deterministic
    // tie-breaker among right rows sharing (key, ts) — tieBreak fields
    // first, so a unique id dominates the ordering when provided
    val packed = struct((tieBreak ++ payload).distinct.map(col): _*)
    val packedType = right.select(packed.as("__p")).schema("__p").dataType
    val l = left
      .withColumn("__tag", lit(1))
      .select(left.columns.map(col) :+
        lit(null).cast(packedType).as("__p") :+ col("__tag"): _*)
    val r = right
      .withColumn("__tag", lit(0))
      .select(keys.map(col) ++
        Seq(col(rightTs).as(leftTs)) ++
        left.columns.filterNot(c => keys.contains(c) || c == leftTs)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(packed.as("__p")) :+ col("__tag"): _*)
    val u = l.unionByName(r)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(leftTs), col("__tag"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
    payload.foldLeft(filled.filter(col("__tag") === 1)) { (d, c) =>
        d.withColumn(c, col("__p").getField(c))
      }
      .drop("__p", "__tag")
  }

  /** As-of join with a staleness bound: like [[joinAsOf]], but a match
    * older than `tolUs` microseconds is rejected (payload nulled) — the
    * market-data form ("last quote, but only if fresher than X"). The
    * matched row's timestamp rides inside the payload struct, so the
    * age check is a post-window projection: same one-shuffle plan, and
    * the age itself is exposed as `match_age_us`. */
  def joinAsOfTolerance(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      tolUs: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val aug = right.withColumn("__rts_us", unix_micros(col(rightTs)))
    val joined = joinAsOf(left, aug, keys, leftTs, rightTs, payload :+ "__rts_us", tieBreak)
      .withColumn("__age_us", unix_micros(col(leftTs)) - col("__rts_us"))
    val gated = payload.foldLeft(joined) { (d, c) =>
      d.withColumn(c, when(col("__age_us") <= tolUs, col(c)))
    }
    gated
      .withColumn("match_age_us", when(col("__age_us") <= tolUs, col("__age_us")))
      .drop("__rts_us", "__age_us")
  }

  /** Forward as-of join: each left row takes the EARLIEST right-side
    * values at-or-after its timestamp per key — the mirror of
    * [[joinAsOf]] ("next quote" / time-to-next-conversion, where
    * backward as-of is "last quote"). Same one-shuffle union+window
    * composition with the frame reversed: left rows sort before right
    * rows on timestamp ties (tag 0 < 1), and
    * `first(payload, ignoreNulls) OVER (... ROWS CURRENT..UNBOUNDED
    * FOLLOWING)` picks the nearest following right row — inclusive
    * at-or-after, matching DuckDB's `ASOF JOIN ... ON l.ts <= r.ts`. */
  def joinAsOfForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val packed = struct((tieBreak ++ payload).distinct.map(col): _*)
    val packedType = right.select(packed.as("__p")).schema("__p").dataType
    val l = left
      .withColumn("__tag", lit(0))
      .select(left.columns.map(col) :+
        lit(null).cast(packedType).as("__p") :+ col("__tag"): _*)
    val r = right
      .withColumn("__tag", lit(1))
      .select(keys.map(col) ++
        Seq(col(rightTs).as(leftTs)) ++
        left.columns.filterNot(c => keys.contains(c) || c == leftTs)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(packed.as("__p")) :+ col("__tag"): _*)
    val u = l.unionByName(r)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(leftTs), col("__tag"), col("__p"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = u.withColumn("__p", first(col("__p"), ignoreNulls = true).over(w))
    payload.foldLeft(filled.filter(col("__tag") === 0)) { (d, c) =>
        d.withColumn(c, col("__p").getField(c))
      }
      .drop("__p", "__tag")
  }
}
