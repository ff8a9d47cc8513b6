package graft.text

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {

  test("rboArms: RBO laws — bounded, depth-monotone, overlap within depth") {
    val rows = Retrieval.rboArms(
        graft.Tables.load(spark, sf0001, "documents"),
        graft.Tables.load(spark, sf0001, "embeddings"),
        Seq("vector", "join", "scan"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1L to 10L), "one row per depth")
    rows.foreach { case (d, ov, rbo) =>
      assert(ov >= 0 && ov <= d, s"overlap at depth $d out of range: $ov")
      assert(rbo >= 0.0 && rbo <= 1.0, s"rbo out of [0,1] at depth $d: $rbo")
    }
    // running RBO and overlap are nondecreasing in depth
    rows.sliding(2).foreach { case Array((_, o1, r1), (_, o2, r2)) =>
      assert(o2 >= o1 && r2 >= r1 - 1e-12)
    }
  }

  test("vocabGrowth: cumulative laws and exact final totals") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val rows = graft.text.CorpusStats.vocabGrowth(docs)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    rows.sliding(2).foreach { case Array((_, d1, t1, v1), (_, d2, t2, v2)) =>
      assert(d2 >= d1 && t2 >= t1 && v2 >= v1, "cumulative columns must be monotone")
    }
    val (_, docsN, tokensN, vocabN) = rows.last
    assert(docsN == docs.count(), "final bucket must cover every doc")
    val words = docs.select(explode(split(lower(col("text")), " ")).as("w"))
    assert(tokensN == words.count())
    assert(vocabN == words.distinct().count())
  }

  test("bm25: hand-computed scores on a three-doc corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector join vector"),
      (2L, "scan scan scan scan"),
      (3L, "other words only here"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, Seq("vector", "join", "scan"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // mirror of the query's own arithmetic (idf over N=3, avgdl=11/3)
    val avgdl = 11.0 / 3.0
    def part(tf: Long, df: Long, dl: Long): Long =
      math.round(math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
        * (tf * 2.2)
        / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
    val d1 = (part(2, 1, 3) + part(1, 1, 3)).toDouble / 1e6
    val d2 = part(4, 1, 4).toDouble / 1e6
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - math.floor(d1 * 1e4 + 0.5) / 1e4) < 1e-9 ||
      math.abs(out(1L)._2 - d1) < 1e-4)
    assert(math.abs(out(2L)._2 - d2) < 1e-4)
  }

  test("autocomplete: top-k per prefix by frequency, word-ordered ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat cat cat car car cab can dog dot"),
      (2L, "cat car do x ca")) // "do"/"x"/"ca" ≤ 2 chars: excluded
      .toDF("doc_id", "text")
    val out = Retrieval.autocomplete(docs, prefixLen = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val ca = out.filter(_._1 == "ca")
    // cat 4, car 3, then cab/can tie at 1 → word order picks cab
    assert(ca.toSeq == Seq(("ca", 1, "cat", 4L), ("ca", 2, "car", 3L), ("ca", 3, "cab", 1L)))
    val doPfx = out.filter(_._1 == "do")
    assert(doPfx.toSeq == Seq(("do", 1, "dog", 1L), ("do", 2, "dot", 1L)))
  }

  test("incrementalJaccard: identical new doc pairs with its old copy only") {
    import spark.implicits._
    // 9 is "new" (id % 10 == 9): an exact copy of old doc 1 → jaccard 1.
    // 19 is new but shares nothing. 2 is old noise.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "q r s t u v"),
      (9L, "a b c d e f"),
      (19L, "x y z w k m"))
      .toDF("doc_id", "text")
    val out = TextQueries.incrementalJaccard(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((9L, 1L, 1.0)))
  }

  test("prefixJaccardPairs == jaccardPairs at both regimes (lossless pruning)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (tau <- Seq(0.1, 0.5)) {
      val exact = TextQueries.jaccardPairs(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = TextQueries.prefixJaccardPairs(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == exact,
        s"tau=$tau missing=${(exact -- pref).take(3)} extra=${(pref -- exact).take(3)}")
      if (tau == 0.1) assert(exact.nonEmpty)
    }
  }

  test("incrementalJaccard: never emits old-old or new-new pairs") {
    import spark.implicits._
    // two identical OLD docs and two identical NEW docs: neither pair
    // may surface — only cross-side candidates exist by construction
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (9L, "p q r s t u"),
      (19L, "p q r s t u"))
      .toDF("doc_id", "text")
    assert(TextQueries.incrementalJaccard(docs, 0.1).count() == 0)
  }

  test("invertedIndex: hand-computed df/tf/postings") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val got = Retrieval.invertedIndex(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("a", 1L, 2L, "1"),
      ("b", 2L, 2L, "1,2"),
      ("c", 1L, 1L, "2")))
  }

  test("invertedIndex: postings sample capped at the 8 smallest doc ids") {
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, "hot")).toDF("doc_id", "text")
    val got = Retrieval.invertedIndex(docs).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 12L && r.getLong(2) == 12L)
    assert(r.getString(3) == (1L to 8L).mkString(","))
  }

  test("rrfFusion: ranks agree with standalone arms, scores are the RRF sum") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val terms = Seq("table", "scan", "join")
    val fused = Retrieval.rrfFusion(docs, emb, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fused.nonEmpty)
    // lexical ranks must match the standalone BM25 ordering
    val lexOrder = Retrieval.bm25(docs, terms, topN = 100)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    fused.foreach { case (id, lexRank, semRank, rrf) =>
      assert(lexRank == lexOrder.getOrElse(id, 0L),
        s"doc $id lex rank $lexRank vs bm25 ${lexOrder.get(id)}")
      // the fused score is exactly the sum of the two arm contributions
      val want = (if (lexRank > 0) 1000000L / (60 + lexRank) else 0L) +
        (if (semRank > 0) 1000000L / (60 + semRank) else 0L)
      assert(rrf == want, s"doc $id rrf $rrf != $want")
      assert(lexRank > 0 || semRank > 0, s"doc $id in neither arm")
    }
    // output is sorted by fused score desc
    assert(fused.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }
}
