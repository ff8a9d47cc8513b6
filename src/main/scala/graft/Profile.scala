package graft

import org.apache.spark.sql.functions._

/** Dev tool: stage-by-stage timing of the shingle/dedup substrates —
  * the bench's dominant first-consumer costs. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SessionTuning.session("graft-profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($r)")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val docs = Tables.load(spark, sfDir, "documents")
    docs.count()
    t("shingles.count") {
      graft.text.TextQueries.hashedWordShingles(docs).count()
    }
    t("shingles-preproj.count") {
      val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
      ws.select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("ws")) - lit(2)),
          i => xxhash64((0 until 3).map(o => element_at(col("ws"), i + lit(o))): _*))))
          .as("shingle"))
        .count()
    }
    t("posting.count") {
      graft.text.TextQueries.hashedWordShingles(docs)
        .groupBy(col("shingle"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) <= graft.text.TextQueries.MaxShingleDf)
        .count()
    }
    t("pairOverlap.count") {
      graft.text.TextQueries.pairOverlap(docs).count()
    }
    t("jaccardPairs.ckpt") {
      graft.text.TextQueries.jaccardPairs(docs, 0.1).localCheckpoint().count()
    }
    // each block builds its own pairs: t() sweeps all persistent RDDs,
    // so a checkpoint shared across blocks would lose its blocks
    t("cc.label") {
      val pairs = graft.text.TextQueries.jaccardPairs(docs, 0.1).localCheckpoint()
      val (labels, conv) =
        graft.relational.ConnectedComponents.label(
          docs.select(col("doc_id").cast("long").as("id")),
          pairs.select(col("d1").as("a"), col("d2").as("b")))
      labels.count() + (if (conv) 0 else -1)
    }
    t("prefix.pref.count") {
      val posting = graft.text.TextQueries.cappedPostingLists(docs).localCheckpoint()
      val sh = posting.select(explode(col("ds")).as("doc_id"),
        col("shingle"), size(col("ds")).as("df"))
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ss"))
        .count()
    }
    t("prefix.full.count") {
      graft.text.TextQueries.prefixJaccardPairs(docs, 0.5).count()
    }
    t("minhashPairs.count") {
      graft.text.Dedup.minhashPairs(docs, 0.5).count()
    }
    val vecs = Tables.load(spark, sfDir, "embeddings")
    vecs.count()
    t("knn.composed") {
      graft.knn.BruteForceKnn.knnGraph(vecs, 10).count()
    }
    t("knn.fused") {
      org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 10).count()
    }
    // retrieval family at FULL query scale (every vector a query, vs
    // the declared 20-query subset) — the per-query-bounded claim of
    // q215/q216 measured, for the SCALING.json retrieval entry
    t("filtered.all-queries") {
      graft.similarity.VectorSearch.filteredCosineTopK(vecs, 10,
        queryPred = lit(true), candPred = col("label") % 2 === 0).count()
    }
    t("mmr.all-queries") {
      graft.similarity.VectorSearch.mmrRerank(vecs, queryPred = lit(true))
        .count()
    }
    t("collapsed.all-queries") {
      graft.similarity.VectorSearch.collapsedCosineTopK(vecs, 10, 2,
        queryPred = lit(true)).count()
    }
    spark.stop()
  }
}
