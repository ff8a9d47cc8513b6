package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SampleOpsSpec extends SparkSpec {

  private def mix(seed: Long)(id: Long): Long = {
    var z = id + seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  test("reservoirPerLang equals a local bottom-n and survives repartitioning") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val got = SampleOps.reservoirPerLang(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // local reference: bottom-5 ids per lang by splitmix64(seed=42) rank
    val local = docs.select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues { rows =>
        rows.map(_._2).sortBy(id => (mix(42L)(id), id)).take(5).mkString(",")
      }.toMap
    assert(got == local)
    // partitioning independence: same sample from a skewed layout
    val again = SampleOps.reservoirPerLang(docs.repartition(3, col("doc_id"))).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("q76b portable reservoir equals a local md5 bottom-n and survives repartitioning") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val got = SampleOps.reservoirPerLangPortable(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def rank(id: Long): Long = {
      val hex = md.digest(s"res|$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val local = docs.select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues { rows =>
        rows.map(_._2).sortBy(id => (rank(id), id)).take(5).mkString(",")
      }.toMap
    assert(got == local)
    val again = SampleOps
      .reservoirPerLangPortable(docs.repartition(3, col("doc_id"))).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("weightedSample: equals local A-Res recompute, partition-independent") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val got = SampleOps.weightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getInt(4)))
    // local reference: same md5-derived uniform, same pico-quantized
    // ln(u)/w priority, same (priority desc, doc_id) order
    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
      math.rint(math.log(u) / w * 1e12).toLong
    }
    val local = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), pri(r.getLong(0), r.getLong(1))))
      .sortBy { case (id, p) => (-p, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    assert(got.toSeq == local.toSeq)
    // heavier docs should be overrepresented: the sampled docs' mean
    // n_chars must exceed the corpus mean (w-proportional inclusion)
    val sampledMean = docs.join(SampleOps.weightedSample(docs).select("doc_id"), "doc_id")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val corpusMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampledMean > corpusMean,
      s"weighted sample mean $sampledMean vs corpus $corpusMean")
    val again = SampleOps.weightedSample(docs.repartition(7, col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getInt(4)))
    assert(again.toSeq == got.toSeq)
  }

  test("compressionRatio: repetition compresses, high-entropy text does not") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = Seq(
      (1L, "spam " * 400),                                        // pure repetition
      (2L, Seq.fill(400)(rng.alphanumeric.take(5).mkString).mkString(" "))
    ).toDF("doc_id", "text")
    val got = SampleOps.compressionRatio(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 < 0.05, s"repetitive text should crush: ${byId(1L)}")
    assert(byId(2L)._4 > 0.5, s"random text should resist: ${byId(2L)}")
    // sizes are consistent and reruns bit-identical
    got.foreach { case (_, raw, comp, ratio) =>
      assert(math.abs(ratio - math.rint(comp.toDouble / raw * 100) / 100) < 1e-12)
    }
    val again = SampleOps.compressionRatio(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == got.toSeq)
  }
}
