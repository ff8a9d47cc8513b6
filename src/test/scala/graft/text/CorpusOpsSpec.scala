package graft.text

import graft.SparkSpec

class CorpusOpsSpec extends SparkSpec {

  test("trainSplit: partitions every doc exactly once, ~80/10/10") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val out = CorpusOps.trainSplit(docs).collect()
    val n = docs.count()
    assert(out.map(_.getLong(2)).sum == n)
    val bySplit = out.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(bySplit.keySet == Set("train", "val", "test"))
    // hash split at n=500: generous tolerance, determinism is the point
    assert(bySplit("train").toDouble / n > 0.7)
    assert(bySplit("val").toDouble / n < 0.2)
    // rerun is bit-identical (frozen holdout)
    val again = CorpusOps.trainSplit(docs).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("redact: hand-checked match counts and char deltas") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the key of the hash index"), // key, hash, index → 3 matches
      (2L, "keys hashing reindex"),      // no word-boundary matches
      (3L, "key key key")                // 3 matches
    ).toDF("doc_id", "text")
    val got = CorpusOps.redact(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    // "[REDACTED]" is 10 chars; deltas = 10*matches - matched chars
    assert(got == Seq(
      (1L, 3, 25, 25 - (3 + 4 + 5) + 30),
      (2L, 0, 20, 20),
      (3L, 3, 11, 11 - 9 + 30)))
  }

  test("sharedNgrams: crafted overlap is found, unique docs score 0") {
    import spark.implicits._
    val common = "a b c d e f g h" // one 8-gram, shared by docs 1 and 2
    val docs = Seq(
      (1L, common),
      (2L, common + " tail1 tail2"),
      (3L, "p q r s t u v w x") // two 8-grams, none shared
    ).toDF("doc_id", "text")
    val got = CorpusOps.sharedNgrams(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc2 has 3 8-gram positions; exactly one ("a..h") is shared
    assert(got == Seq((1L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 0L)))
  }

  test("bigramNll: uniform continuations score ln(2), certain ones 0") {
    import spark.implicits._
    // corpus bigrams: (a,b) x2, (a,c) x2, (b,a), (c,a) → p(b|a)=p(c|a)=0.5,
    // p(a|b)=p(a|c)=1
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a c a b")
    ).toDF("doc_id", "text")
    val got = CorpusOps.bigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // each doc: bigrams (a,x) twice at -ln(0.5) plus one certain at 0
    // → avg = 2·ln2/3
    val expect = BigDecimal(2 * math.round(math.log(2) * 1e6) / 3.0 / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1) == Seq(1L, 2L))
    got.foreach { case (_, n, avg) => assert(n == 3L && math.abs(avg - expect) < 1e-9) }
  }

  test("datasetCard: hand-computed per-source profile") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "s1", 3L),
      (2L, "a b", "en", "s1", 3L),   // exact dup of doc 1
      (3L, "c d e", "de", "s1", 5L),
      (4L, "x", "en", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = CorpusStats.datasetCard(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == Seq(
      // s1: 3 docs, 2 langs, 2+2+3 tokens, chars 3..5, avg (3+3+5) div 3 = 3, 1 dup
      ("s1", 3L, 2L, 7L, 3L, 5L, 3L, 1L),
      ("s2", 1L, 1L, 1L, 1L, 1L, 1L, 0L)))
  }
}
