package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.agg.{ReservoirSample, TopKBuf, TopKByWeight, WEdge}
import graft.io.Fvecs

/** Pure-JVM unit + property tests (SURVEY.md §5.1/§5.2; properties are
  * exercised over seeded random cases). */
class UnitSpecs extends AnyFunSuite {

  // --- distance (vs hand-computed values; utilities.py:11-13) ---
  test("euclideanLocal matches hand-computed values") {
    import graft.linalg.Distances._
    assert(euclideanLocal(Array(0f, 0f), Array(3f, 4f)) === 5.0)
    assert(euclideanLocal(Array(1f, 1f), Array(1f, 1f)) === 0.0)
    assert(math.abs(euclideanLocal(Array(1f, 0f), Array(0f, 1f)) - math.sqrt(2)) < 1e-12)
  }

  test("cosineSimilarityLocal basics") {
    import graft.linalg.Distances._
    assert(math.abs(cosineSimilarityLocal(Array(1f, 0f), Array(1f, 0f)) - 1.0) < 1e-12)
    assert(math.abs(cosineSimilarityLocal(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
  }

  // --- TopKByWeight (mrdf.py:166-170 merge law + tie-breaks) ---
  private def topkBuf(k: Int, xs: Seq[WEdge]): TopKBuf =
    xs.foldLeft(new TopKByWeight(k).zero)((b, e) => new TopKByWeight(k).reduce(b, e))
  private def topk(k: Int, xs: Seq[WEdge]): Seq[WEdge] =
    new TopKByWeight(k).finish(topkBuf(k, xs)).edges

  test("TopKByWeight keeps k smallest with (w, nbr) tie-break") {
    val xs = Seq(WEdge(5, 2.0), WEdge(3, 1.0), WEdge(7, 1.0), WEdge(9, 3.0))
    assert(topk(2, xs) == Seq(WEdge(3, 1.0), WEdge(7, 1.0)))
  }

  test("TopKByWeight dedupes by neighbor keeping smaller weight") {
    val xs = Seq(WEdge(3, 2.0), WEdge(3, 1.0), WEdge(4, 5.0))
    assert(topk(2, xs) == Seq(WEdge(3, 1.0), WEdge(4, 5.0)))
  }

  test("merge law: topK(a++b) == merge(topK(a), topK(b)) (property, 500 cases)") {
    val agg = new TopKByWeight(5)
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      def gen() = List.fill(rnd.nextInt(20))(
        WEdge(rnd.nextInt(30).toLong, rnd.nextInt(10).toDouble))
      val (ea, eb) = (gen(), gen())
      val direct = topk(5, ea ++ eb)
      val merged = agg.finish(agg.merge(topkBuf(5, ea), topkBuf(5, eb))).edges
      assert(direct == merged, s"a=$ea b=$eb")
    }
  }

  test("TaggedTopKByWeight: edges equal untagged, is_old = OR over (id,nbr) sightings (property, 500 cases)") {
    import graft.agg.{TaggedEdge, TaggedTopKByWeight}
    val agg = new TaggedTopKByWeight(5)
    def tagged(xs: Seq[TaggedEdge]) =
      agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).edges
    val rnd = new scala.util.Random(43)
    (1 to 500).foreach { _ =>
      def gen(old: Boolean) = List.fill(rnd.nextInt(20))(
        TaggedEdge(rnd.nextInt(30).toLong, rnd.nextInt(10).toDouble, old))
      val (ea, eb) = (gen(true), gen(false))
      val all = ea ++ eb
      val out = tagged(all)
      // kept edge set + order identical to the untagged aggregator
      assert(out.map(e => WEdge(e.nbr, e.w)) == topk(5, all.map(e => WEdge(e.nbr, e.w))))
      // provenance: old ⇔ the neighbor appeared among the old-tagged inputs
      val oldNbrs = ea.map(_.nbr).toSet
      out.foreach(e => assert(e.old == oldNbrs.contains(e.nbr), s"a=$ea b=$eb e=$e"))
      // merge law with split-at-random partial buffers
      val (xs, ys) = rnd.shuffle(all).splitAt(rnd.nextInt(all.length + 1))
      val merged = agg.finish(agg.merge(
        xs.foldLeft(agg.zero)(agg.reduce), ys.foldLeft(agg.zero)(agg.reduce))).edges
      assert(merged == out, s"a=$ea b=$eb")
    }
  }

  // --- ReservoirSample (utilities.py:15-30 corrected; order-free) ---
  test("ReservoirSample: size, subset, order-independence") {
    val agg = new ReservoirSample(5, seed = 42L)
    val items = (1L to 100L).toList
    def sample(xs: Seq[Long]) =
      xs.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    val s1 = agg.finish(sample(items)).ids
    val s2 = agg.finish(sample(scala.util.Random.shuffle(items))).ids
    assert(s1.length == 5 && s1.forall(items.contains))
    assert(s1 == s2, "sample must not depend on arrival order")
    val s3 = agg.finish(agg.merge(sample(items.take(50)), sample(items.drop(50)))).ids
    assert(s1 == s3, "merge must equal single-pass")
  }

  test("ReservoirSample returns all items when fewer than n") {
    val agg = new ReservoirSample(10, seed = 1L)
    val out = agg.finish((1L to 3L).foldLeft(agg.zero)(agg.reduce)).ids
    assert(out.toSet == Set(1L, 2L, 3L))
  }

  test("VecSample: count is exact, sample matches ReservoirSample, merge law") {
    val n = 4
    val seed = 7L
    val vs = new graft.agg.VecSample(n, seed)
    val rs = new ReservoirSample(n, seed)
    val items = (1L to 60L).map(i => (i, Array(i.toFloat)))
    def run(xs: Seq[(Long, Array[Float])]) = xs.foldLeft(vs.zero)(vs.reduce)
    val whole = run(items)
    assert(whole.cnt == 60L, "fused count must be the group size")
    // same ranking function ⇒ same winners as the id-only sampler
    val expectIds = rs.finish(items.map(_._1).foldLeft(rs.zero)(rs.reduce)).ids
    assert(whole.items.map(_.id) == expectIds)
    assert(whole.items.forall(kv => kv.vec.sameElements(Array(kv.id.toFloat))),
      "sampled vectors must ride along with their ids")
    // order-independence + merge == single pass (incl. count addition)
    val shuffled = run(new scala.util.Random(3).shuffle(items))
    assert(shuffled.items.map(_.id) == expectIds && shuffled.cnt == 60L)
    val merged = vs.merge(run(items.take(25)), run(items.drop(25)))
    assert(merged.items.map(_.id) == expectIds && merged.cnt == 60L)
  }

  // --- fvecs/ivecs codec (utilities.py:32-143; FIXTURES.md fixture) ---
  test("fvecs round-trip with the FIXTURES.md 4-vector fixture") {
    val vecs = Seq(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(5f, 5f))
    val bytes = Fvecs.encodeFvecs(vecs)
    assert(bytes.length == 4 * (4 + 8))
    // little-endian layout: first record dim=2
    assert(bytes(0) == 2 && bytes(1) == 0 && bytes(2) == 0 && bytes(3) == 0)
    val back = Fvecs.decodeFvecs(bytes)
    assert(back.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(back.map(_._2.toSeq) == vecs.map(_.toSeq))
  }

  test("fvecs inputMax caps rows; ivecs k-truncation works") {
    val bytes = Fvecs.encodeFvecs(Seq(Array(1f), Array(2f), Array(3f)))
    assert(Fvecs.decodeFvecs(bytes, inputMax = 2).length == 2)
    val ib = Fvecs.encodeIvecs(Seq(Array(1, 2, 3, 4)))
    assert(Fvecs.decodeIvecs(ib, k = 2).head._2.toSeq == Seq(1, 2))
  }

  test("fvecs handles variable dims (streaming reader semantics)") {
    val vecs = Seq(Array(1f, 2f), Array(3f), Array(4f, 5f, 6f))
    assert(Fvecs.decodeFvecs(Fvecs.encodeFvecs(vecs)).map(_._2.toSeq)
      == vecs.map(_.toSeq))
  }

  // --- oracle_sql.json (the oracle compare parses it as JSON) ---

  test("oracle_sql.json parses back to the same name → SQL map") {
    val sql = Map(
      "q_quote" -> "SELECT 'a\"b' AS \"c\"",
      "q_backslash" -> "SELECT '\\d+\\' AS re",
      "q_ws\tname" -> "SELECT 1\r\nFROM t\tWHERE x = '\n'",
      "q_ctl" -> "SELECT '\u0001\u001f' AS c",
      "q_unicode" -> "SELECT 'naïve – 日本語 \ud83d\ude00' AS t")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap == sql)
  }
}
