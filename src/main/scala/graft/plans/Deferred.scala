package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Deferred-build leaf: a [[LogicalPlan]] whose result is produced by a
  * driver-side thunk that runs at FIRST EXECUTION, not at DataFrame
  * construction.
  *
  * Why this exists: the phase-staged heavies (PPJoin, the graph
  * iteration loops, the KN-trigram scorer) cannot be spelled as one
  * lazy plan at their largest rungs — each phase must land in parquet
  * and release its shuffle files before the next starts, which means
  * running jobs. Through round 11 those pipelines ran EAGERLY AT
  * CONSTRUCTION above the staging threshold (a documented deviation):
  * merely building the DataFrame — a plan dump, an analysis-only
  * inspection — silently executed corpus-scale jobs. This node restores
  * the repo's analysis-only convention: construction materializes
  * nothing, `.explain` prints the leaf (zero jobs), and the thunk fires
  * only when an action finally pulls rows — the same contract every
  * other operator keeps.
  *
  * The thunk returns a DataFrame (typically a scan of the pipeline's
  * final staged parquet); its internal rows stream through unchanged.
  * Each execution re-runs the thunk — correct for benchmarking (a timed
  * run must pay the pipeline) and for correctness (phases are
  * idempotent overwrites into a fresh per-construction slot).
  *
  * This is also where execution-time session tuning becomes safe: a
  * thunk may flip `spark.sql.shuffle.partitions` for its own jobs
  * ([[graft.util.Staging.withShufflePartitions]]) because every job it
  * launches COMPLETES inside the thunk — with a lazy single-plan
  * spelling the conf would have to leak past construction to reach the
  * exchanges. */
case class DeferredBuild(output: Seq[Attribute], label: String,
    @transient build: () => DataFrame) extends LeafNode {
  // never a broadcast candidate: the deferred result's size is unknown
  // at plan time, and a wrong "small" guess would pull the whole staged
  // pipeline into a broadcast build
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) / 4)
}

object DeferredStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredBuild(out, label, build) =>
      DeferredBuildExec(out, label, build) :: Nil
    case _ => Nil
  }
}

// `build` is @transient: the thunk runs ON THE DRIVER inside doExecute,
// strictly before any task serialization, but plan nodes are reachable
// from codegen closures (via the stage's `this` chain) and the closure
// cleaner would otherwise demand the thunk's captured environment be
// serializable
case class DeferredBuildExec(output: Seq[Attribute], label: String,
    @transient build: () => DataFrame) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val df = build()
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = output.map(a => (a.name, a.dataType))
    require(got == want,
      s"deferred build '$label' produced schema $got, declared $want")
    df.queryExecution.toRdd
  }
}

object Deferred {

  /** A DataFrame with `schema` whose rows come from `build()` at first
    * execution. `schema` must match the thunk's result exactly (checked
    * at execution); construction runs zero jobs. */
  def apply(spark: SparkSession, schema: StructType, label: String)(
      build: () => DataFrame): DataFrame = {
    graft.GraftExtensions.install(spark)
    org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark,
      DeferredBuild(DataTypeUtils.toAttributes(schema), label, build))
  }
}
