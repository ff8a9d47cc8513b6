package graft.knn

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{TopKJoin, TopKJoinExec}

import graft.{SparkSpec, Tables}

/** The fused physical operator must be observationally identical to
  * the compositional plan (broadcast NL join + TopKByWeight) — same
  * rows, same 6-dp distances, same (dist, nbr) tie-breaks. */
class TopKJoinSpec extends SparkSpec {

  test("fused TopKJoinExec appears in the physical plan, fed by a BroadcastExchange") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
    val df = TopKJoin.knn(vecs, vecs, 10)
    // The build side now arrives via BroadcastExchange (round-5 verdict:
    // memory-accounted + reusable, not a raw executeCollect), which makes
    // the plan adaptive — finalize it, then look through the AQE wrapper
    // (AdaptiveSparkPlanExec is a leaf to collect()).
    df.count()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val hasExec = finalPlan.collect { case e: TopKJoinExec => e }.nonEmpty
    assert(hasExec, "strategy did not plan the fused operator")
    val s = finalPlan.toString
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastQueryStage"),
      s"build side is not a tracked broadcast:\n$s")
  }

  test("a corpus-sized build side is rejected at planning, not broadcast") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
    val key = org.apache.spark.sql.graft.TopKJoinStrategy.MaxBuildBytesKey
    spark.conf.set(key, "1024") // far below the embeddings scan estimate
    try {
      val ex = intercept[Exception] {
        TopKJoin.knn(vecs, vecs, 10).count()
      }
      // planning errors may arrive wrapped; look for the guard's message
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("exceeds spark.graft.topKJoin.maxBuildBytes")),
        s"unexpected failure: $ex")
    } finally spark.conf.unset(key)
    // and with the default ceiling the same query plans and runs
    assert(TopKJoin.knn(vecs, vecs, 10).count() > 0)
  }

  test("row-identical to knnGraph on the real embeddings") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
    val fused = TopKJoin.knn(vecs, vecs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = BruteForceKnn.knnGraph(vecs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fused == composed)
  }

  test("k exceeding candidates emits all non-self pairs; ties break by nbr") {
    import spark.implicits._
    // three identical vectors: every distance is 0.0 — ties resolved
    // by ascending nbr, self excluded
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = TopKJoin.knn(vecs, vecs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == Seq(
      (1L, 2L, 0.0), (1L, 3L, 0.0),
      (2L, 1L, 0.0), (2L, 3L, 0.0),
      (3L, 1L, 0.0), (3L, 2L, 0.0)))
  }

  test("label-mismatch mode is row-identical to compositional hardNegatives") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
    val fused = TopKJoin.hardNegatives(vecs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = graft.similarity.ContrastiveMining.hardNegatives(vecs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fused == composed && fused.nonEmpty)
    // every fused neighbor really carries a different label
    val labels = vecs.collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    assert(fused.forall { case (id, nbr, _) => labels(id) != labels(nbr) })
  }

  test("cosine ranked mode is row-identical to compositional cosineTopK") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
    val fused = TopKJoin
      .cosineTopK(vecs.filter(col("vec_id") < 20), vecs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val composed = graft.similarity.SimilarityQueries
      .cosineTopK(vecs, 10, col("vec_id") < 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(fused == composed && fused.nonEmpty)
  }

  test("cosine mode survives zero-norm vectors (NaN similarity excluded)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), // zero vector: NaN similarity to everything
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)),
      (4L, Array(0.0f, 1.0f)),
      (5L, Array(Float.PositiveInfinity, 1.0f))) // ∞/∞ or ∞·0: NaN
      .toDF("vec_id", "embedding")
    val got = TopKJoin.cosineTopK(vecs.filter(col("vec_id") =!= 99), vecs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no crash; no pair involves a NaN similarity (ids 1 and 5 as probe
    // find nothing, and no probe ranks them as a neighbor)
    assert(!got.exists { case (q, n) => Set(1L, 5L)(q) || Set(1L, 5L)(n) })
    assert(got.nonEmpty)
  }

  test("knn excludes NaN and infinite vectors instead of throwing") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(Float.NaN, 0.0f)), // NaN distance to everything
      (4L, Array(Float.PositiveInfinity, 0.0f)), // +∞ squared sum, or NaN
      (5L, Array(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val r5 = 2.236068 // sqrt(5) to 6 dp
    // k = 4 scans unbounded; k = 1 bounds every scan after the first hit
    Seq(4 -> Set((1L, 2L, 1.0), (1L, 5L, 2.0), (2L, 1L, 1.0), (2L, 5L, r5),
        (5L, 1L, 2.0), (5L, 2L, r5)),
      1 -> Set((1L, 2L, 1.0), (2L, 1L, 1.0), (5L, 1L, 2.0))).foreach { case (k, want) =>
      val got = TopKJoin.knn(vecs, vecs, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"k=$k")
    }
  }

  test("early-exit pruning cannot change results near the rounding boundary") {
    import spark.implicits._
    // vectors engineered so candidate distances crowd within 1e-6 of
    // each other: the k-th bound plus rounding slack must not reject a
    // candidate that rounds equal with a smaller nbr
    val base = Array.fill(4)(0.5f)
    val probe = Seq((100L, base)).toDF("vec_id", "embedding")
    val builds = (1L to 20L).map { i =>
      val eps = (i * 1e-7).toFloat
      (i, Array(0.5f + eps, 0.5f, 0.5f, 0.5f))
    }.toDF("vec_id", "embedding")
    val fused = TopKJoin.knn(probe, builds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = BruteForceKnn.knnGraph(
      probe.unionByName(builds), 5).filter(col("id") === 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fused == composed)
  }
}
