package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot grouping/join keys.
  *
  * At 100 TB a handful of hot keys (a viral coin, the `en` language
  * bucket) can pin a whole aggregation on one task. Two standard
  * remedies, both implemented as plain plan rewrites:
  *
  *   - [[saltedAgg]]: two-phase aggregation — partial aggregate on
  *     (key, salt) spreads a hot key over `buckets` tasks, then a final
  *     aggregate on the key merges the partials. Only works for
  *     decomposable aggregates (sum/count/min/max and avg via sum+count).
  *   - AQE skew-join splitting is enabled session-wide
  *     (`spark.sql.adaptive.skewJoin.enabled`, on by default) and handles
  *     the join side without plan changes.
  */
object Skew {

  /** Decomposable aggregate spec: (partial expr, merge of partials). */
  final case class Agg(partial: Column => Column, merge: Column => Column)

  val SumAgg: Agg = Agg(sum, sum)
  val CountAgg: Agg = Agg(c => count(c), sum)
  val MinAgg: Agg = Agg(min, min)
  val MaxAgg: Agg = Agg(max, max)

  /** Two-phase salted aggregation: `df.groupBy(key).agg(...)` semantics,
    * executed as groupBy(key, salt) → groupBy(key).
    *
    * The salt is a deterministic spread over the row's full content hash,
    * so re-runs produce identical partials. Result values are identical
    * to the unsalted plan for decomposable aggregates (modulo the usual
    * float summation-order caveat — use on integral/exact types when
    * bit-parity matters).
    */
  /** Salt-replicated skew join: `fact ⋈ dim` on `key`, with the dim side
    * replicated across `buckets` salts and the fact side salted by a
    * deterministic row hash. A hot fact key (one user producing 1% of a
    * 100 TB log) lands on `buckets` tasks instead of one.
    *
    * Semantically identical to the plain equi-join: every fact row meets
    * exactly one replica of its dim row (the one carrying its salt).
    * Dim-side cost is `|dim| × buckets` rows — use only when dim is small
    * enough to replicate but too large or too hot to broadcast outright;
    * AQE's `skewJoin` covers the sort-merge case without plan changes,
    * this form also pre-spreads the *post-join* groupBy when it reuses
    * the (key, salt) partitioning. */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String, buckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col).toSeq: _*), lit(buckets)))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }

  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      buckets: Int,
      aggs: Map[String, (String, Agg)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col).toSeq: _*), lit(buckets)))
    val partial = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(
        aggs.head match { case (out, (in, a)) => a.partial(col(in)).as(out) },
        aggs.tail.toSeq.map { case (out, (in, a)) => a.partial(col(in)).as(out) }: _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(
        aggs.head match { case (out, (_, a)) => a.merge(col(out)).as(out) },
        aggs.tail.toSeq.map { case (out, (_, a)) => a.merge(col(out)).as(out) }: _*)
  }

  /** Count-min join-size estimation (Cormode & Muthukrishnan 2005 §4.2):
    * |A ⋈_k B| = Σ_v f_A(v)·f_B(v), and the sketch estimate is
    * min over hash rows of the cell-wise inner product Σ_j A[i,j]·B[i,j]
    * — an upper bound that two O(d·w) summaries answer WITHOUT the
    * tables ever meeting. This is the "measure before you shuffle"
    * primitive: at 100 TB you size a candidate join (will the shuffle
    * explode? is one side's key distribution pathological?) from
    * per-shard sketches that were maintained at ingest.
    *
    * Two measures on the harness schema: the orders⋈customer equi-join
    * and the SELF-join size of lineitem on l_partkey — the latter is the
    * second frequency moment F2 = Σ_p f(p)², the classic skew statistic
    * (a hot part key shows up as F2 ≫ n²/|parts| long before the join
    * runs). Output: (measure, exact_size, cm_est, overcount ≥ 0).
    *
    * w=16384: inner-product error is O(n²/w), so the width must track
    * the square of stream mass, not its cardinality — at 60k keys this
    * w keeps the estimate within ~10%, and 4×16384 BIGINT cells is
    * still a half-megabyte summary. */
  def joinSizeEstimate(spark: org.apache.spark.sql.SparkSession, dir: String,
      d: Int = 4, w: Int = 16384): DataFrame = {
    import graft.util.Tables
    def cells(df: DataFrame, key: String): DataFrame =
      graft.ops.TextAnalysis.cmCellsWeighted(
        df.select(col(key).cast("string").as("term")), d, w)
    // min runs over a d-row spine, not the join output: a hash row with
    // zero overlapping buckets has TRUE inner product 0 (disjoint key
    // sets) and must pull the min to 0 rather than drop out of it.
    def innerProduct(a: DataFrame, b: DataFrame): DataFrame = spark
      .range(d).select(col("id").cast("int").as("row"))
      .join(a
        .join(b.select(col("row"), col("bucket"), col("cnt").as("cnt_b")),
          Seq("row", "bucket"))
        .groupBy(col("row")).agg(sum(col("cnt") * col("cnt_b")).as("ip")),
        Seq("row"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("cm_est"))
    def exactJoin(a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame = a
      .groupBy(col(ka)).agg(count(lit(1)).as("fa"))
      .join(b.groupBy(col(kb)).agg(count(lit(1)).as("fb"))
          .withColumnRenamed(kb, "kb_"), // self-joins share the key name
        col(ka) === col("kb_"))
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_size"))
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    def row(name: String, exact: DataFrame, est: DataFrame): DataFrame =
      exact.crossJoin(est).select(lit(name).as("measure"),
        col("exact_size"), col("cm_est"),
        (col("cm_est") - col("exact_size")).as("overcount"))
    row("orders_x_customer_custkey",
        exactJoin(orders, "o_custkey", customer, "c_custkey"),
        innerProduct(cells(orders, "o_custkey"), cells(customer, "c_custkey")))
      .unionAll(row("lineitem_selfjoin_partkey_f2",
        exactJoin(li, "l_partkey", li, "l_partkey"),
        innerProduct(cells(li, "l_partkey"), cells(li, "l_partkey"))))
      .orderBy(col("measure"))
  }
}
