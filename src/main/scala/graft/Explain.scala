package graft

/** Plan inspection main: prints `explain("formatted")` for declared
  * queries — the scale-readiness review loop (pushdown reached the
  * scan? small side broadcast? codegen spans wide?). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("knn_bruteforce", "q01_pricing_summary", "q02_filter_project",
        "q15_multi_join", "q25_ngram_jaccard", "q30_cosine_topk", "q07_range_join")
    // plans are read against 8 partitions
    val spark = SessionTuning.session("graft-explain", cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    // Internal (non-declared) plans: shared build fragments that
    // declared queries consume through Materialized — the declared
    // plan is just a parquet scan, so the interesting shape lives here.
    val internal: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      // the trained router is a driver-local table; each Lloyd's round
      // is one job whose shape KmeansSpec pins
      "kmeans_portable_chain" -> (() => graft.similarity.Kmeans.centroids(
        Tables.load(spark, sfDir, "embeddings"), 8, 5, portable = true)),
      "cluster_seeds" -> (() => {
        val emb = Tables.load(spark, sfDir, "embeddings")
        graft.knn.GraphSearch.clusterSeeds(
          emb.select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("embedding")),
          graft.similarity.Kmeans.centroids(emb, 8, 5, portable = true), 4)
      }))
    names.foreach { n =>
      println(s"\n======== $n ========")
      internal.get(n) match {
        case Some(f) => f().explain("formatted")
        case None => Registry.byName(n).run(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
