package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Test-only bridge to the private[sql] extensions API. */
object GraftTestHooks {
  def registerFunctions(
      ext: SparkSessionExtensions, reg: FunctionRegistry): Unit =
    ext.registerFunctions(reg)

  def plannerStrategies(
      ext: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(s)

  def optimizerRules(
      ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(s)
}
