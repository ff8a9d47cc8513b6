package graft

/** One-shot audit: flags declared queries whose physical plans contain
  * single-partition funnels that would serialize at scale — a Window
  * with no partition spec, or an Exchange SinglePartition feeding
  * anything other than a final scalar/limit. Advisory output; the
  * per-query plan gates live in PlanSpecs. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // plans are audited against 8 partitions
    val spark = SessionTuning.session("graft-plan-audit", cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    Registry.all.foreach { d =>
      // Streaming-executed declared queries (q167/q168/q169/q170) run a
      // full AvailableNow pipeline inside run() — there is no lazy plan
      // to audit, only an executed memory-sink read; skip them here
      // (their execution path is oracle- and spec-gated instead).
      if (d.streamingExecuted) ()
      else try {
        val qe = d.run(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        // String-matching "windowspecdefinition()" never fires (plan
        // strings always carry the frame argument); inspect the
        // optimized plan's Window nodes instead. foldable covers both
        // an empty spec and a constant partition column that Catalyst
        // will fold away — either funnels all rows into one task.
        val globalWindow = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.forall(_.foldable) => w
        }.nonEmpty
        val single = plan.linesIterator.count(_.contains("SinglePartition"))
        // The driver's pandas comparator sorts result frames by value;
        // array/map/struct cells are unhashable there and red the row
        // even when values match (round-1 failure mode). Only oracled
        // queries are value-compared — rows-only queries just count.
        val complexCols = d.oracle.toSeq.flatMap { _ =>
          d.run(spark, sfDir).schema.fields.collect {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
              f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
              f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
              s"${f.name}:${f.dataType.simpleString.take(20)}"
          }
        }
        if (globalWindow || single > 0 || complexCols.nonEmpty)
          println(s"[audit] ${d.name}: globalWindow=$globalWindow singlePartitionExchanges=$single" +
            (if (complexCols.nonEmpty) s" complexOutputCols=${complexCols.mkString(",")}" else ""))
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      } catch { case e: Throwable =>
        println(s"[audit] ${d.name}: ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
