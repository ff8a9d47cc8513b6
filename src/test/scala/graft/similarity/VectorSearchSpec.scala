package graft.similarity

import org.apache.spark.sql.functions._

import graft.{Registry, SparkSpec, Tables}

class VectorSearchSpec extends SparkSpec {

  test("q215: neighbors pass the filter, ranks contiguous, equals the compositional window form") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = Registry.byName("q215_filtered_ann").run(spark, sf0001).collect()
    assert(out.nonEmpty)
    val evenIds = emb.filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      assert(r.getLong(0) < 20)
      assert(evenIds.contains(r.getLong(1)),
        s"nbr ${r.getLong(1)} fails the candidate filter")
    }
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to 10), s"qid $q ranks")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("nbr"), col("embedding").as("cv"))
    val expect = q.join(c, col("qid") =!= col("nbr"))
      .select(col("qid"), col("nbr"),
        round(graft.linalg.Distances.cosineSimilarity(col("qv"), col("cv")), 6)
          .as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expect)
  }

  test("q215 planted: post-filtering an unfiltered shortlist under-fills; pre-filter finds the true answer") {
    import spark.implicits._
    // query 100; its single nearest neighbor (1) fails the filter, a
    // farther candidate (3) passes it. Pre-filter search must return 3;
    // the naive post-filter of the unfiltered top-1 returns NOTHING —
    // the failure mode that makes filtered search an operator, not a
    // WHERE clause on the output.
    val emb = Seq(
      (100L, Seq(1f, 0f), 1),
      (1L, Seq(0.99f, 0.14f), 1),
      (2L, Seq(0.98f, 0.2f), 1),
      (3L, Seq(0.5f, 0.86f), 0)
    ).toDF("vec_id", "embedding", "label")
    val filtered = VectorSearch.filteredCosineTopK(emb, 1,
      queryPred = col("vec_id") === 100, candPred = col("label") % 2 === 0)
      .collect()
    assert(filtered.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 3L)))
    val post = org.apache.spark.sql.graft.TopKJoin
      .cosineTopK(emb.filter(col("vec_id") === 100), emb, 1)
      .join(emb.filter(col("label") % 2 === 0)
        .select(col("vec_id").as("nbr")), Seq("nbr"))
    assert(post.count() == 0, "unfiltered-top1-then-filter must come back empty here")
  }

  test("q216 planted: the diversity term flips the second pick away from a redundant twin") {
    import spark.implicits._
    // candidates 1 and 2 are EXACT duplicates (mutual sim 1.0) close to
    // the query; 3 is less relevant but diverse. Pure relevance order
    // is 1,2,3; MMR at lambda=0.7 must pick 1, then 3 (twin 2's score
    // 0.7*0.950 - 0.3*1.0 = 0.365 loses to 3's 0.7*0.900 - 0.3*0.719 =
    // 0.414), then 2.
    val emb = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0.95f, 0.312f)),
      (2L, Seq(0.95f, 0.312f)),
      (3L, Seq(0.9f, -0.436f))
    ).toDF("vec_id", "embedding")
    val out = VectorSearch.mmrRerank(emb, kCand = 3, kSel = 3, lambda = 0.7,
      queryPred = col("vec_id") === 0)
      .collect().map(r => (r.getInt(4), r.getLong(1))).toMap
    assert(out == Map(1 -> 1L, 2 -> 3L, 3 -> 2L),
      s"expected MMR order 1,3,2 got $out")
  }

  test("q216 matches an independent local greedy reference (sf0.001, all 20 queries)") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = vecs.keys.filter(_ < 20).toSeq.sorted.flatMap { q =>
      val cands = vecs.keys.filter(_ != q).toSeq
        .map(n => (n, r6(cos(vecs(q), vecs(n)))))
        .sortBy { case (n, s) => (-s, n) }.take(20)
      // pick 1 orders by (sim desc, nbr) — both engines special-case it
      var selected = List(cands.head._1)
      val picks = scala.collection.mutable.ArrayBuffer(
        (q, cands.head._1, 1))
      for (t <- 2 to 5) {
        val scored = cands
          .filterNot { case (n, _) => selected.contains(n) }
          .map { case (n, s) =>
            val maxRedundancy =
              selected.map(sn => r6(cos(vecs(n), vecs(sn)))).max
            // raw-double combination, mirroring both engines (no
            // re-round — see the mmrRerank determinism note)
            (n, 0.7 * s - (1.0 - 0.7) * maxRedundancy)
          }
        val (pick, _) = scored.minBy { case (n, sc) => (-sc, n) }
        picks += ((q, pick, t))
        selected = selected :+ pick
      }
      picks
    }.toSet
    val out = Registry.byName("q216_mmr_rerank").run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(out == expected)
  }

  test("q216 randomized: every pick maximizes the MMR objective given the previous picks; short shortlists truncate cleanly") {
    import spark.implicits._
    val rnd = new scala.util.Random(216)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // three corpora: normal, clustered (tie-rich: duplicated vectors),
    // and one SMALLER than kSel+1 (truncation edge)
    val corpora = Seq(
      (0 until 30).map(i => i.toLong -> Array.fill(8)(rnd.nextGaussian().toFloat)),
      (0 until 24).map { i =>
        val base = Array.fill(8)((i % 3).toFloat + 1f)
        i.toLong -> base.map(x => x + (if (i < 12) 0f else 0.01f * rnd.nextGaussian().toFloat))
      },
      (0 until 4).map(i => i.toLong -> Array.fill(8)(rnd.nextGaussian().toFloat)))
    corpora.zipWithIndex.foreach { case (rows, ci) =>
      val vecs = rows.toMap
      val emb = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val kSel = 5
      val out = VectorSearch.mmrRerank(emb, kCand = rows.size - 1, kSel = kSel,
          queryPred = col("vec_id") < 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
      (0L until 3L).foreach { q =>
        val picks = out.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
        val expectN = math.min(kSel, rows.size - 1)
        assert(picks.size == expectN, s"corpus $ci qid $q pick count")
        assert(picks.distinct == picks, s"corpus $ci qid $q duplicate pick")
        // shortlist = all non-self candidates (kCand = n-1), rounded sims
        val sims = vecs.keys.filter(_ != q).toSeq
          .map(n => n -> r6(cos(vecs(q), vecs(n)))).toMap
        picks.zipWithIndex.foreach { case (p, idx) =>
          val selected = picks.take(idx)
          val remaining = sims.keySet -- selected
          def score(n: Long): Double =
            if (selected.isEmpty) sims(n) // pick 1 = pure relevance
            else 0.7 * sims(n) -
              (1.0 - 0.7) * selected.map(s => r6(cos(vecs(n), vecs(s)))).max
          val best = remaining.toSeq.minBy(n => (-score(n), n))
          assert(p == best,
            s"corpus $ci qid $q step ${idx + 1}: picked $p, objective argmax is $best")
        }
      }
    }
  }

  test("q217: per-group cap holds, equals the compositional two-window form (sf0.001)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = Registry.byName("q217_collapsed_topk").run(spark, sf0001).collect()
    assert(out.nonEmpty)
    // <= 2 per (qid, grp); ranks contiguous from 1
    out.groupBy(r => (r.getLong(0), r.getLong(2))).foreach { case (k, rows) =>
      assert(rows.size <= 2, s"group cap violated at $k")
    }
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(4)).sorted.toSeq == (1 to rows.size), s"qid $q ranks")
    }
    // compositional reference: two windows over the raw pair stream
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("grp")).orderBy(col("sim").desc, col("nbr"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("nbr"), col("embedding").as("cv"),
      col("label").cast("long").as("grp"))
    val expect = q.join(c, col("qid") =!= col("nbr"))
      .select(col("qid"), col("grp"), col("nbr"),
        round(graft.linalg.Distances.cosineSimilarity(col("qv"), col("cv")), 6)
          .as("sim"))
      .withColumn("gr", row_number().over(w1)).filter(col("gr") <= 2)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= 10)
      .select(col("qid"), col("nbr"), col("grp"), col("sim"), col("rn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    val got = out
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(got == expect)
  }

  test("q217 planted: the collapse swaps in a lower-sim candidate from another group") {
    import spark.implicits._
    // group 0 has the 3 most similar candidates; with m=2 the third
    // must yield its slot to the best group-1 candidate
    val emb = Seq(
      (0L, Seq(1f, 0f), 9),
      (1L, Seq(0.99f, 0.1f), 0),
      (2L, Seq(0.98f, 0.15f), 0),
      (3L, Seq(0.97f, 0.2f), 0),
      (4L, Seq(0.5f, 0.85f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorSearch.collapsedCosineTopK(emb, k = 3, m = 2,
        queryPred = col("vec_id") === 0)
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 0L), (2L, 0L), (4L, 1L)),
      s"expected group-0 cap to admit candidate 4, got $out")
  }

  test("q217 packing guards: negative qid and out-of-range group both raise, never alias") {
    import spark.implicits._
    // round-11 advice: the grp guard existed but a negative qid slid
    // through Spark's negative % into another query's bucket — both
    // halves of the packed key must refuse out-of-range values loudly
    val badQid = Seq(
      (-1L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val e1 = intercept[Exception] {
      VectorSearch.collapsedCosineTopK(badQid, k = 2, m = 1,
        queryPred = col("vec_id") < 2).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("qid out of packing range"),
      s"negative qid must raise the packing guard, got: ${e1.getMessage}")
    val badGrp = Seq(
      (0L, Seq(1f, 0f), -3),
      (1L, Seq(0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val e2 = intercept[Exception] {
      VectorSearch.collapsedCosineTopK(badGrp, k = 2, m = 1,
        queryPred = col("vec_id") < 2).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("group out of packing range"),
      s"negative group must raise the packing guard, got: ${e2.getMessage}")
  }

  test("q221 composed pipeline: results respect the filter, picks come from the IVF shortlist, first pick is pure relevance") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = Registry.byName("q221_composed_search").run(spark, sf0001).collect()
    assert(out.nonEmpty)
    val evenIds = emb.filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val shortlist = Ann.ivfKmeansTopK(
        emb.filter(col("label") % 2 === 0), 20,
        queryPred = col("vec_id") < 20, nlist = 8, nprobe = 3, kmeansIters = 5,
        portable = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val shortSet = shortlist.map(t => (t._1, t._2)).toSet
    out.foreach { r =>
      val (qid, nbr) = (r.getLong(0), r.getLong(1))
      assert(evenIds.contains(nbr), s"nbr $nbr fails the metadata filter")
      assert(shortSet.contains((qid, nbr)),
        s"pick ($qid,$nbr) not in the IVF shortlist - MMR must diversify, not re-search")
    }
    // first MMR pick per qid = the shortlist's max-sim member (ties nbr)
    val best = shortlist.groupBy(_._1).map { case (q, rs) =>
      q -> rs.minBy(t => (-t._3, t._2))._2 }
    out.filter(_.getInt(4) == 1).foreach { r =>
      assert(best(r.getLong(0)) == r.getLong(1),
        s"first pick for qid ${r.getLong(0)} must be pure relevance")
    }
  }

  test("mmrRerankFrom composes with an ANN shortlist (the production path)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val shortlist = Ann.ivfTopKOracled(emb, 20, queryPred = col("vec_id") < 20)
      .select(col("qid"), col("nbr"), col("sim")).localCheckpoint()
    val out = VectorSearch.mmrRerankFrom(emb, shortlist).collect()
    // 5 picks per query, all drawn from the shortlist, rank 1 = the
    // shortlist's relevance argmax
    val slSet = shortlist.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(4)).sorted.toSeq == (1 to 5), s"qid $q ranks")
      rows.foreach(r => assert(slSet.contains((q, r.getLong(1))),
        s"pick outside the shortlist for qid $q"))
    }
    val top = shortlist.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getDouble(2)))
          .minBy { case (n, s) => (-s, n) }._1
      }
    out.filter(_.getInt(4) == 1).foreach { r =>
      assert(r.getLong(1) == top(r.getLong(0)),
        s"rank-1 must be the shortlist relevance argmax for qid ${r.getLong(0)}")
    }
  }
}
