package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}

/** User-facing entry to the custom plan nodes. */
object Graft {

  /** Exact top-`k` rows per `keyCols` group, "top" = first in
    * `orderCols` (each (name, descending)); supply a unique tie-break
    * column for a deterministic result set. Same semantics as the
    * row_number-window form, executed sort-free with map-side partial
    * pruning — see [[TopKPerKey]].
    *
    * `distinctKeysHint`: caller's key-cardinality estimate (from table
    * stats / domain knowledge). Above `spark.graft.topk.maxKeysPerTask`
    * the heaps would not fit one task, so the SPILLABLE window form is
    * planned instead — identical rows, asserted in TopKSpec. Without a
    * hint the custom operator runs with its own runtime cap (map-side
    * overflow streams through; the final pass fails fast past the cap). */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int,
      distinctKeysHint: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val cap = spark.conf.get(TopKPerKeyExec.MaxKeysConf,
      TopKPerKeyExec.MaxKeysDefault.toString).toLong
    if (distinctKeysHint.exists(_ > cap)) return windowTopK(df, keyCols, orderCols, k)
    graft.GraftExtensions.install(spark)
    val lp = df.queryExecution.analyzed
    def attr(n: String) = lp.output.find(_.name == n).getOrElse(
      sys.error(s"column $n not in ${lp.output.map(_.name)}"))
    val order = orderCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark,
      TopKPerKey(keyCols.map(attr), order, k, lp))
  }

  /** The declarative fallback: `row_number() OVER (...) <= k`. Sorts
    * each group (spilling through ExternalSorter when needed) — the
    * right operator for unbounded key cardinality. */
  private[graft] def windowTopK(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map { case (n, desc) =>
        if (desc) col(n).desc else col(n).asc }: _*)
    df.withColumn("__graft_rnk", row_number().over(w))
      .filter(col("__graft_rnk") <= k)
      .drop("__graft_rnk")
  }
}
