package graft.text

import graft.SparkSpec

class EquiDepthSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(lens: Seq[Int]) =
    lens.zipWithIndex.map { case (n, i) => (i.toLong, n.toLong) }
      .toDF("doc_id", "n_chars")

  test("uniform distinct lengths split into equal deciles") {
    // 100 docs, lengths 1..100 → each decile holds exactly 10 docs
    val out = CorpusStats.equiDepthHistogram(docsOf(1 to 100)).collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(3) == 10L))
    assert(out.map(_.getInt(0)).toSeq == (0 until 10))
    // ranges are contiguous and non-overlapping
    val los = out.map(_.getLong(1)); val his = out.map(_.getLong(2))
    assert(los.zip(his).forall { case (l, h) => l <= h })
    assert(his.init.zip(los.tail).forall { case (h, l) => h < l })
  }

  test("a heavily-repeated value stays in one bucket (value grain)") {
    // 90 docs of length 5 + 10 of length 9: length 5 starts at cum 0
    // → bucket 0 holds all 90; length 9 starts at cum 90 → bucket 9
    val out = CorpusStats.equiDepthHistogram(
      docsOf(Seq.fill(90)(5) ++ Seq.fill(10)(9))).collect()
    assert(out.length == 2)
    assert(out(0).getInt(0) == 0 && out(0).getLong(3) == 90L)
    assert(out(1).getInt(0) == 9 && out(1).getLong(3) == 10L)
  }

  test("bucket counts always sum to the corpus size") {
    val lens = (0 until 500).map(i => (i * i) % 97 + 1)
    val out = CorpusStats.equiDepthHistogram(docsOf(lens)).collect()
    assert(out.map(_.getLong(3)).sum == 500L)
  }

  test("partition-count invariance") {
    val lens = (0 until 300).map(i => (i * 31) % 50 + 1)
    val a = CorpusStats.equiDepthHistogram(docsOf(lens)).collect().toSeq
    val b = CorpusStats.equiDepthHistogram(docsOf(lens).repartition(17))
      .collect().toSeq
    assert(a == b)
  }
}
