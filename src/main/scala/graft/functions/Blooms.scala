package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Bloom-filter build/probe over Spark's NATIVE Catalyst expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the same pair
  * the optimizer's runtime row-level filtering injects), surfaced as the
  * registry functions `bloom_agg(xxhash64_val, n_items)` and
  * `bloom_contains(bloom_bytes, xxhash64_val)` the way [[VecDot]] is. Zero UDFs: the probe is a
  * codegen'd expression over an `xxhash64` long, the build is a native
  * TypedImperativeAggregate with map-side partials.
  *
  * The 100 TB use: an anti-join of a delta against a billion-key history
  * index shuffles the WHOLE delta. A bloom of the index (bounded bytes,
  * built once per maintenance cycle) filters the delta map-side down to
  * the ~dup fraction + false-positive mass, and only that remainder pays
  * the exact join. No false negatives, so exactness is preserved by
  * construction. */
object Blooms {

  /** Aggregate a column of xxhash64 longs into serialized bloom bytes. */
  def agg(spark: SparkSession, hashed: Column, expectedItems: Long): Column = {
    graft.GraftExtensions.install(spark)
    call_function("bloom_agg", hashed,
      org.apache.spark.sql.functions.lit(expectedItems))
  }

  /** Membership probe: `bloom` is a binary column (a literal of collected
    * bloom bytes), `hashed` an xxhash64 long. */
  def mightContain(spark: SparkSession, bloom: Column, hashed: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("bloom_contains", bloom, hashed)
  }
}
