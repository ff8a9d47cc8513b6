package graft

import org.apache.spark.sql.functions._

import graft.knn.{BruteForceKnn, Recall}
import graft.similarity.{Ann, Pq}
import graft.text.{Dedup, TextQueries}

/** Spark-backed integration specs: recall metric, dedup sketches vs
  * exact Jaccard, ANN recall vs brute force (SURVEY.md §5.1/§5.4). */
class PipelineSpecs extends SparkSpec {

  test("recall: identical graphs → 1.0, disjoint → 0.0 (getrecall.py)") {
    import spark.implicits._
    val g1 = Seq((1L, Seq(2L, 3L)), (2L, Seq(1L, 3L)), (3L, Seq(1L, 2L)))
      .toDF("id", "nbrs")
    val g2 = Seq((1L, Seq(4L, 5L)), (2L, Seq(4L, 5L)), (3L, Seq(4L, 5L)))
      .toDF("id", "nbrs")
    assert(Recall.recall(g1, g1).collect()(0).getDouble(0) === 1.0)
    assert(Recall.recall(g1, g2).collect()(0).getDouble(0) === 0.0)
  }

  test("brute-force KNN is permutation-invariant (§5.2)") {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(100)
    val a = BruteForceKnn.knnGraph(emb, 5).collect().map(_.toSeq).sortBy(_.toString)
    val b = BruteForceKnn.knnGraph(emb.orderBy(rand(7)), 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.sameElements(b))
  }

  test("MinHash estimated Jaccard tracks exact n-gram Jaccard") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base),
      (1L, base),                                    // exact dup
      (2L, base.replace("quick", "slow")),           // near dup
      (3L, "completely different words with zero overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val est = Dedup.minhashPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(est.exists { case (a, b, j) => a == 0L && b == 1L && j == 1.0 },
      s"exact dup must estimate 1.0; got ${est.mkString(", ")}")
    val exact = TextQueries.jaccardPairs(docs, 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    est.foreach { case (a, b, j) =>
      val e = exact.getOrElse((a, b), 0.0)
      assert(math.abs(j - e) < 0.35, s"pair ($a,$b): est $j vs exact $e")
    }
  }

  test("portable MinHash: exact dup at 1e6 ppm, estimates track exact Jaccard, deterministic") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base),
      (1L, base),                                    // exact dup
      (2L, base.replace("quick", "slow")),           // near dup
      (3L, "completely different words with zero overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val est = Dedup.minhashPortable(docs, tauPpm = 500000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(est.exists { case (a, b, p) => a == 0L && b == 1L && p == 1000000L },
      s"exact dup must estimate 1e6 ppm; got ${est.mkString(", ")}")
    val exact = TextQueries.jaccardPairs(docs, 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    est.foreach { case (a, b, p) =>
      val e = exact.getOrElse((a, b), 0.0)
      // 16 hashes ⇒ ±2-3 components of sampling noise
      assert(math.abs(p / 1e6 - e) < 0.40, s"pair ($a,$b): est $p ppm vs exact $e")
    }
    val again = Dedup.minhashPortable(docs, tauPpm = 500000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(est.sorted.sameElements(again.sorted), "portable family must be deterministic")
  }

  test("portable SimHash: exact dups at hamming 0, near dups close, unrelated absent") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base),
      (1L, base),                          // identical → hamming 0
      (2L, base.replace("quick", "slow")), // one-token change → small hamming
      (3L, "completely different words with zero overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashPortablePairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 },
      s"identical docs must pair at hamming 0; got ${got.mkString(", ")}")
    assert(!got.exists { case (a, b, _) => b == 3L || a == 3L },
      s"unrelated doc must not pair within hamming 3; got ${got.mkString(", ")}")
  }

  test("pageRank: hub ordering, dangling floor, deterministic, no leaked blocks") {
    import spark.implicits._
    // 2-regular graph: 1↔2↔3 mutually linked, 4 points in but nothing
    // points back → 4 bottoms out at the damping floor 0.15/N.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)
    ).toDF("id", "nbr")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pr = graft.knn.GraphAnalytics.pageRank(edges, outDeg = 2)
    val ranks = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(4L) == 150000000L / 4)
    assert(ranks(1L) > ranks(3L) && ranks(2L) > ranks(3L) && ranks(3L) > ranks(4L))
    // floor()s only lose mass: total stays within iters·N nanos of 1.0
    val total = ranks.values.sum
    assert(total <= 1000000000L && total > 1000000000L - 10 * 4 * 100L)
    val againDf = graft.knn.GraphAnalytics.pageRank(edges, outDeg = 2)
    val again = againDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks == again)
    // iteration hygiene: only the two final-round checkpoints survive
    // the builds; releasing them restores the session to its baseline
    graft.Checkpoints.release(pr)
    graft.Checkpoints.release(againDf)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
  }

  test("containment catches a subset copy that Jaccard dilutes") {
    import spark.implicits._
    val core = (1 to 12).map(i => s"core$i").mkString(" ")       // 10 shingles
    val padded = core + " " + (1 to 100).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, core),                                   // subset of doc 2
      (2L, padded),                                 // 110 words → 108 shingles
      (3L, "unrelated words entirely different from everything else here")
    ).toDF("doc_id", "text")
    val cont = TextQueries.containmentPairs(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont == Seq((1L, 2L, 1.0)), s"got $cont")
    // same pair scores 10/108 < 0.1 under Jaccard — below q25's threshold
    val jac = TextQueries.jaccardPairs(docs, 0.1).collect()
    assert(jac.isEmpty, s"jaccard should miss the subset copy: ${jac.toSeq}")
  }

  test("int8 quantization: hand-exact on one vector, error ≤ scale/254, deterministic") {
    import spark.implicits._
    val vec = Array(0.8f, -0.3f, 0.2f)
    val one = Seq((1L, vec.toSeq, 7)).toDF("vec_id", "embedding", "label")
    val row = graft.similarity.EmbeddingStats.quantizationError(one).collect()(0)
    // mirror of both engines' arithmetic: HALF_UP code rounding, err²
    // quantized to picos before the sum
    val amax = vec.map(v => math.abs(v.toDouble)).max
    val ssePico = vec.map { v =>
      val vd = v.toDouble
      val code = BigDecimal(vd * 127 / amax)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      val err = vd - code * amax / 127
      BigDecimal(err * err * 1e12)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    val expRmse = BigDecimal(math.sqrt(ssePico.toDouble / 3) / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(1) == 1L)
    assert(row.getDouble(2) == expRmse, s"rmse ${row.getDouble(2)} vs $expRmse")
    assert(row.getDouble(3) == 0.8)
    // corpus-wide: RMS error bounded by the worst per-vector step size
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = graft.similarity.EmbeddingStats.quantizationError(emb).collect()
    assert(out.nonEmpty)
    val maxAmax = emb.select(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double")))))).collect()(0).getDouble(0)
    out.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= maxAmax / 254.0 + 1e-6,
        s"label ${r.get(0)}: rmse ${r.getDouble(2)} vs bound ${maxAmax / 254.0}")
    }
    val again = graft.similarity.EmbeddingStats.quantizationError(emb).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("pcaTopComponent: recovers the dominant eigenvector, deterministic") {
    import spark.implicits._
    // planted dominant direction: dim 0 has ~25x the variance of dims
    // 1/2, and dim 1 is correlated with it; PC1 must load mostly on 0
    val rng = new scala.util.Random(11)
    val rows = (1L to 300L).map { id =>
      val t = rng.nextGaussian()
      (id, Seq(5.0 * t, 1.0 * t + 0.2 * rng.nextGaussian(),
        0.3 * rng.nextGaussian()).map(_.toFloat), 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = graft.similarity.EmbeddingStats.pcaTopComponent(emb).collect()
    assert(out.length == 3)
    val v = out.map(r => r.getLong(1).toDouble / 1e6)
    val lambda = out.head.getLong(2).toDouble / 1e6
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-3,
      s"unit vector, got ${v.toSeq}")
    assert(math.abs(v(0)) > 0.95, s"PC1 should load on dim 0: ${v.toSeq}")
    // eigen-pair residual: ‖Av − λv‖ ≪ λ
    val cov = graft.similarity.EmbeddingStats.covarianceMatrix(emb)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(3))).toMap
    def a(i: Int, j: Int): Double = cov.getOrElse((math.min(i, j), math.max(i, j)), 0.0)
    val res = (0 until 3).map { i =>
      val av = (0 until 3).map(j => a(i, j) * v(j)).sum
      math.pow(av - lambda * v(i), 2)
    }.sum
    assert(math.sqrt(res) < 0.01 * lambda, s"residual ${math.sqrt(res)} vs λ=$lambda")
    // var_explained_ppm is constant across rows and dominated by dim 0
    assert(out.map(_.getLong(3)).distinct.length == 1)
    assert(out.head.getLong(3) > 900000L, s"PC1 share ${out.head.getLong(3)} ppm")
    val again = graft.similarity.EmbeddingStats.pcaTopComponent(emb).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("SimHash: identical docs collide, distinct docs differ") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(2L))
    val pairs = Dedup.simhashPairs(docs, 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
  }

  // The driver embeddings are near-isotropic for cosine (top-10 sims
  // ≈ 0.3; labels uncorrelated with geometry — measured 0.089 label
  // agreement vs 0.1 random), so NO bucketed ANN can beat scanning
  // there. Validate the algorithms on planted clusters, where recall
  // is information-bearing.
  test("LSH ANN recall ≥ 0.8 and IVF recall ≥ 0.9 on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 300).map { i =>
      val c = i % 10
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val exact = graft.similarity.SimilarityQueries
      .cosineTopK(emb, 10, col("vec_id") < 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, 10, dim = dim, queryPred = col("id") < 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, 10, queryPred = col("vec_id") < 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kmeansIvf = Ann.ivfKmeansTopK(emb, 10, queryPred = col("vec_id") < 30,
        nlist = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    val kmRecall = (exact & kmeansIvf).size.toDouble / exact.size
    info(s"LSH recall = $lshRecall, IVF recall = $ivfRecall, kmeans-IVF recall = $kmRecall")
    assert(lshRecall >= 0.8, s"LSH recall $lshRecall")
    assert(ivfRecall >= 0.9, s"IVF recall $ivfRecall")
    assert(kmRecall >= 0.9, s"kmeans-IVF recall $kmRecall")
  }

  test("PQ ANN: recall ≥ 0.8 on clustered vectors; codes in-domain; deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 300).map { i =>
      val c = i % 10
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val exact = graft.similarity.SimilarityQueries
      .cosineTopK(emb, 10, col("vec_id") < 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.adcTopK(emb, 10, col("vec_id") < 30, m = 4, ks = 16, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"PQ recall = $recall")
    assert(recall >= 0.8, s"PQ recall $recall")
    // codes live in [0, ks) and the code table is deterministic under
    // repartition (seeded training + first-min tie-break)
    val books = Pq.trainCodebooks(emb, m = 4, ks = 16, dim = dim)
    assert(books.flatten.forall(_ != null) &&
      books.flatten.forall(_.length == dim / 4))
    val codes1 = emb.select(col("vec_id"),
        Pq.encodeExpr(col("embedding"), books, dim / 4).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes1.values.forall(cs => cs.length == 4 &&
      cs.forall(c => c >= 0 && c < 16)))
    val codes2 = emb.repartition(7).select(col("vec_id"),
        Pq.encodeExpr(col("embedding"), books, dim / 4).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes1 == codes2)
  }

  test("approx_count_distinct stays within 10% of exact (q09b quality gate)") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact <= 0.10,
      s"HLL estimate $approx vs exact $exact")
  }

  test("percentile_approx within 1% of exact (q47b quality gate)") {
    val exact = Registry.byName("q47_percentile").run(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Registry.byName("q47b_percentile_approx").run(spark, sf0001).collect()
      .foreach { r =>
        val (m, p) = exact(r.getString(0))
        assert(math.abs(r.getDouble(1) - m) / m <= 0.01, s"median ${r.getDouble(1)} vs $m")
        assert(math.abs(r.getDouble(2) - p) / p <= 0.01, s"p90 ${r.getDouble(2)} vs $p")
      }
  }

  test("TopKByWeight merge equals a window top-k on the same edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val edges = (1 to 5000).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(400).toLong, rnd.nextInt(20).toDouble))
      .distinct.toDF("id", "nbr", "dist")
    // custom aggregator path (MRDF's merge)
    val viaAgg = edges.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.agg.WEdge(t._2, t._3))
      .agg(new graft.agg.TopKByWeight(10).toColumn.name("top"))
      .flatMap { case (id, el) => el.edges.map(e => (id, e.nbr, e.w)) }
      .collect().toSet
    // stock window path (dedupe by (id,nbr) keeping min dist first)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dist"), col("nbr"))
    val viaWindow = edges
      .groupBy(col("id"), col("nbr")).agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("id"), col("nbr"), col("dist"))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaAgg == viaWindow,
      s"diff: ${(viaAgg diff viaWindow).take(3)} / ${(viaWindow diff viaAgg).take(3)}")
  }

  test("codegen distance expressions are bit-identical to the JVM fold") {
    import graft.linalg.Distances
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}
    val emb = Tables.load(spark, sf0001, "embeddings").limit(50)
    // real pairs: the expressions inside a join over the parquet scan
    def realPairs = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))
    // edge pairs: a NaN coordinate; an infinite coordinate, the only way
    // a float pair's double sum reaches +∞; a shorter right-hand vector;
    // and Float.MaxValue coordinates, large but finite. RDD-backed, so
    // the projection is not folded into a local relation at planning.
    val edges = Seq(
      Array(1f, Float.NaN, 2f) -> Array(0.5f, 1f, 2f),
      Array(Float.PositiveInfinity, 1f) -> Array(0f, 1f),
      Array(1f, 2f, 3f, 4f) -> Array(4f, 3f),
      Array(Float.MaxValue, -Float.MaxValue) -> Array(-Float.MaxValue, Float.MaxValue))
    val vec = ArrayType(FloatType, containsNull = false)
    def edgePairs = spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map { case (a, b) => Row(a.toSeq, b.toSeq) }, 2),
      StructType(Seq(StructField("va", vec), StructField("vb", vec))))

    // the array kernels on the edge pairs: min-length rule, NaN passes
    // through, an infinite coordinate gives +∞ (cosine ∞/∞ = NaN)
    val (nan, inf, short, big) = (edges(0), edges(1), edges(2), edges(3))
    assert(Distances.euclideanLocal(nan._1, nan._2).isNaN)
    assert(Distances.euclideanLocalBounded(nan._1, nan._2, 10.0).isNaN)
    assert(Distances.dotLocal(nan._1, nan._2).isNaN)
    assert(Distances.cosineSimilarityLocal(nan._1, nan._2).isNaN)
    assert(Distances.squaredEuclideanLocal(inf._1, inf._2) == Double.PositiveInfinity)
    assert(Distances.euclideanLocal(inf._1, inf._2) == Double.PositiveInfinity)
    assert(Distances.euclideanLocalBounded(inf._1, inf._2, 10.0) == Double.PositiveInfinity)
    assert(Distances.dotLocal(inf._1, inf._2).isNaN) // ∞ · 0
    assert(Distances.cosineSimilarityLocal(inf._1, inf._2).isNaN)
    assert(Distances.squaredEuclideanLocal(short._1, short._2) == 9.0 + 1.0)
    assert(Distances.euclideanLocalBounded(short._1, short._2, 1.0) == Double.PositiveInfinity)
    assert(Distances.euclideanLocalBounded(short._1, short._2, 10.0) == math.sqrt(10.0))
    assert(Distances.dotLocal(short._1, short._2) == 4.0 + 6.0)
    assert(Distances.cosineSimilarityLocal(short._1, short._2) ==
      10.0 / (math.sqrt(5.0) * math.sqrt(25.0)))
    val m = Float.MaxValue.toDouble
    assert(Distances.squaredEuclideanLocal(big._1, big._2) == 4 * m * m + 4 * m * m)

    def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
    /** Each expression equals its array kernel bit for bit (NaN too). */
    def check(pairs: org.apache.spark.sql.DataFrame, mode: String): Int = {
      val got = pairs.select(col("va"), col("vb"),
        Distances.euclidean(col("va"), col("vb")),
        Distances.squaredEuclideanCol(col("va"), col("vb")),
        Distances.dot(col("va"), col("vb")),
        Distances.cosineSimilarity(col("va"), col("vb"))).collect()
      got.foreach { r =>
        val (a, b) = (r.getSeq[Float](0).toArray, r.getSeq[Float](1).toArray)
        Seq(Distances.euclideanLocal(a, b), Distances.squaredEuclideanLocal(a, b),
          Distances.dotLocal(a, b), Distances.cosineSimilarityLocal(a, b))
          .zip(Seq("euclidean", "squared_euclidean", "dot", "cosine")).zipWithIndex
          .foreach { case ((want, what), c) =>
            assert(bits(r.getDouble(2 + c)) == bits(want),
              s"$mode $what mismatch on ${a.toSeq} / ${b.toSeq}: ${r.getDouble(2 + c)} vs $want")
          }
      }
      got.length
    }

    // generated code, then the interpreted evals (no whole-stage
    // codegen, and every projection built by the interpreted factory)
    assert(check(realPairs, "codegen") == 50 * 49 / 2)
    assert(check(edgePairs, "codegen") == edges.length)
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(check(realPairs, "interpreted") == 50 * 49 / 2)
      assert(check(edgePairs, "interpreted") == edges.length)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // the codegen dot still equals the declarative fold on real pairs
    realPairs.select(Distances.dot(col("va"), col("vb")),
      Distances.dotSql(col("va"), col("vb"))).collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"dot codegen vs fold mismatch: $r")
    }
  }

  test("multimodal chunking covers every payload byte exactly once") {
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val media = graft.multimodal.Multimodal.asMedia(docs)
    val chunks = graft.multimodal.Multimodal.chunked(media).collect()
    val byDoc = chunks.groupBy(_.doc_id)
    val lens = docs.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, cs) =>
      assert(cs.map(_.chunk_len).sum == lens(id))
      assert(cs.map(_.chunk_idx).sorted.toSeq == (0 until cs.length).toSeq)
    }
  }
}
