package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** What a set of session extensions would put into a session, read
  * without building one: the readers are `private[sql]`. */
object ExtensionsProbe {
  /** A registry holding only the functions `ext` injects. */
  def functions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)

  def strategies(ext: SparkSessionExtensions, spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
