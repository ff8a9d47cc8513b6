package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Applies an extension to a fresh SparkSessionExtensions the way a
  * session build does: its functions go into `spark`'s function
  * registry, and its optimizer rules and planner strategies are built
  * for `spark` and returned. The registry and builder calls are
  * `private[sql]`, hence this package. */
object ExtensionsProbe {
  def apply(spark: SparkSession, extension: SparkSessionExtensions => Unit)
      : (Seq[Rule[LogicalPlan]], Seq[SparkStrategy]) = {
    val ext = new SparkSessionExtensions
    extension(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
    (ext.buildOptimizerRules(spark), ext.buildPlannerStrategies(spark))
  }
}
