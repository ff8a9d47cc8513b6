package graft.text

import graft.SparkSpec

class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  /** Independent reference: plain-Scala bigram LM with add-one
    * smoothing, same quantization pipeline as the declared query. */
  private def expected(texts: Map[Long, String]): Map[Long, (Long, Long)] = {
    val words = texts.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }
    val bigrams = words.map { case (id, ws) => id -> ws.zip(ws.drop(1)) }
    val c12 = bigrams.values.flatten
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val v = words.values.flatten.toSet.size.toLong
    bigrams.collect { case (id, bs) if bs.nonEmpty =>
      val terms = bs.groupBy(identity).map { case (b, occ) =>
        val n = occ.size.toLong
        val p = (c12(b) + 1).toDouble / (c1(b._1) + v)
        math.round(n * math.log(p) * 1e9)
      }
      val s = terms.sum
      id -> (bs.size.toLong, math.floor(-s.toDouble / bs.size).toLong)
    }
  }

  test("matches an independently coded reference model") {
    val texts = Map(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat",
      3L -> "dogs bark loudly at night",
      4L -> "the the the the")
    val got = LanguageModel.bigramNll(docs(texts.toSeq: _*))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected(texts))
  }

  test("docs with fewer than two tokens drop out; repeats score lower than rarities") {
    val texts = Map(
      1L -> "alpha",                        // 1 token, no bigrams
      2L -> "beta beta beta beta beta",     // the corpus's dominant bigram
      3L -> "gamma delta epsilon zeta")     // all singleton bigrams
    val got = LanguageModel.bigramNll(docs(texts.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!got.contains(1L))
    assert(got(2L) < got(3L),
      "the repeated-bigram doc must be less surprising than the all-rare doc")
  }

  test("invariant under repartition") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = LanguageModel.bigramNll(d).collect().toSeq
    val b = LanguageModel.bigramNll(d.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("dsirScores: target-like raw docs outscore target-unlike ones; target slice never scored") {
    import spark.implicits._
    // target slice (doc_id % 10 == 0) speaks "alpha beta gamma";
    // raw doc 1 repeats the target phrasing, raw doc 2 shares nothing
    val docs = Seq(
      (10L, "alpha beta gamma alpha beta"),
      (20L, "beta gamma alpha beta gamma"),
      (1L, "alpha beta gamma alpha beta gamma"),
      (2L, "delta epsilon zeta delta epsilon zeta")
    ).toDF("doc_id", "text")
    val got = LanguageModel.dsirScores(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == Set(1L, 2L), got)
    assert(got(1L) > got(2L),
      s"target-like doc must outscore target-unlike: $got")
    // repartition-invariant (nano-nat terms sum as longs)
    val again = LanguageModel.dsirScores(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("perplexityGate: buckets are monotone in score per lang, roughly thirds") {
    val corpus = graft.Tables.load(spark, sf0001, "documents")
    val got = LanguageModel.perplexityGate(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      // labels are a monotone cut of the score axis: every head score
      // <= every middle score <= every tail score
      def scores(b: String) = rows.filter(_._4 == b).map(_._3)
      val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
      if (h.nonEmpty && m.nonEmpty) assert(h.max <= m.min, s"$lang head>middle")
      if (m.nonEmpty && t.nonEmpty) assert(m.max <= t.min, s"$lang middle>tail")
      // the sample-based terciles stay near thirds (generous: 15-55%)
      val n = rows.length.toDouble
      Seq(h, m, t).foreach { b =>
        assert(b.length / n > 0.15 && b.length / n < 0.55,
          s"$lang bucket share ${b.length / n}")
      }
    }
    // deterministic rerun under a different partitioning
    val again = LanguageModel.perplexityGate(corpus.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }
}
