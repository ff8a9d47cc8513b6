package graft

/** The funnel rule of [[PlanAudit]] over every declared query that has
  * a lazy plan (all but the streaming-executed ones), at sf0.001, each
  * query run once. A query's global windows and single-partition
  * exchanges may not exceed its row below, and a query without a row
  * may have none; an oracled query may not output an array, map or
  * struct column; a query that throws fails. Each run prints one
  * `PLANAUDIT <name> <globalWindows> <singlePartition>` line per query,
  * from which the table can be rebuilt. */
class PlanAuditSpec extends SparkSpec {

  /** (global windows, single-partition exchanges) of the queries that
    * have any, as measured. */
  private val flagged: Map[String, (Int, Int)] = Map(
    // global windows
    "q111_rolling_hll" -> (1, 1),
    "q79_daily_active" -> (1, 1),
    "q134_equidepth_histogram" -> (1, 2),
    "q71_length_histogram" -> (1, 2),
    "q141_balanced_shards" -> (1, 1),
    "q98_weighted_sample" -> (1, 0),
    // single-partition exchanges only
    "q118_ab_test" -> (0, 1),
    "q81_funnel" -> (0, 3),
    "q161_division" -> (0, 1),
    "q101_untapped_customers" -> (0, 1),
    "q125_top_supplier" -> (0, 1),
    "q138_promo_revenue" -> (0, 1),
    "q143_copurchase" -> (0, 1),
    "q119_dq_audit" -> (0, 14),
    "q103_bm25" -> (0, 1),
    "q60_tfidf" -> (0, 1),
    "q64_source_mixture" -> (0, 1),
    "q61_lang_balance" -> (0, 1),
    "q209_vocab_growth" -> (0, 3),
    "q72_kl_drift" -> (0, 1),
    "q163_heavy_hitters" -> (0, 1),
    "q137_lm_perplexity" -> (0, 1),
    "q190_dsir_importance" -> (0, 2),
    "q178_recall_oracled" -> (0, 1),
    "q171_ann_quality" -> (0, 1),
    "q94_covariance" -> (0, 1),
    "q115_cdc_chunks" -> (0, 1),
    "mrdf_graph_hash" -> (0, 1),
    "mrdf_recall" -> (0, 1))

  private val audited = Registry.all.filterNot(_.streamingExecuted)

  test("every flagged row names an audited query") {
    assert(flagged.keySet -- audited.map(_.name) == Set.empty)
  }

  audited.foreach { d =>
    test(s"${d.name}: no funnel beyond its row") {
      try {
        val df = d.run(spark, sf0001)
        val qe = df.queryExecution
        val windows = PlanAudit.globalWindows(qe.optimizedPlan).size
        val single = PlanAudit.singlePartitionExchanges(qe.executedPlan)
        println(s"PLANAUDIT ${d.name} $windows $single")
        val (maxWindows, maxSingle) = flagged.getOrElse(d.name, (0, 0))
        assert(windows <= maxWindows,
          s"${d.name} has $windows global windows, row allows $maxWindows")
        assert(single <= maxSingle,
          s"${d.name} has $single single-partition exchanges, row allows $maxSingle")
        if (d.oracle.nonEmpty) {
          val complex = PlanAudit.complexColumns(df.schema)
          assert(complex.isEmpty, s"oracled ${d.name} outputs ${complex.mkString(", ")}")
        }
      } finally spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }
}
