package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The funnel rule: plan shapes that send an unbounded input through a
  * single task at scale, plus the output shapes the oracle compare
  * cannot take. `PlanAuditSpec` applies it to every declared query and
  * the per-query plan gates in `PlanSpecs` call it. */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Windows whose partition spec is empty or all-foldable (a constant
    * column Catalyst folds away): either funnels every row into one
    * task. Matched on the optimized plan's nodes, subqueries included;
    * plan strings always carry the frame argument, so a string match on
    * `windowspecdefinition()` never fires. */
  def globalWindows(optimized: LogicalPlan): Seq[Window] =
    optimized.collectWithSubqueries {
      case w: Window if w.partitionSpec.forall(_.foldable) => w
    }

  /** Shuffle exchanges to a single partition in a physical plan,
    * looking through adaptive wrappers and into subqueries. */
  def singlePartitionExchanges(executed: SparkPlan): Int =
    collectWithSubqueries(executed) {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
    }.size

  /** Array, map and struct output columns as `name:type`. The oracle
    * compare sorts result frames by value, and such cells are
    * unhashable there: they fail the row even when the values match. */
  def complexColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => s"${f.name}:${f.dataType.simpleString.take(20)}"
    }
}
