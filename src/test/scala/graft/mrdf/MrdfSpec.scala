package graft.mrdf

import graft.{SparkSpec, Tables}
import graft.knn.{BruteForceKnn, Recall}

class MrdfSpec extends SparkSpec {

  test("MRDF graph recall vs brute force ≥ 0.9 on sf0.001 (SURVEY §5.4)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = MrdfQueries.testParams
    val truth = BruteForceKnn.asAdjacency(BruteForceKnn.knnGraph(emb, p.k))
    val approx = Mrdf.asAdjacency(Mrdf.buildGraph(emb, p))
    val recall = Recall.recall(truth, approx).collect()(0).getDouble(0)
    info(s"recall = $recall")
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("MRDF is deterministic for a fixed seed") {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(300)
    val p = MrdfQueries.testParams.copy(maxIter = 2)
    val a = Mrdf.buildGraph(emb, p).collect().map(_.toSeq).sortBy(_.toString)
    val b = Mrdf.buildGraph(emb, p).collect().map(_.toSeq).sortBy(_.toString)
    assert(a.sameElements(b))
  }

  test("divide's distributed-centroid arm is output-identical to the driver arm") {
    // driverSampleBytes = 0 forces EVERY level through the distributed
    // posexplode/persist path (the 100 TB arm the a-priori bound would
    // never select at test N); the seeded graph must be bit-identical
    // to the default build — the two arms are alternative routings of
    // the same sample, not alternative algorithms.
    val emb = Tables.load(spark, sf0001, "embeddings").limit(300)
    val p = MrdfQueries.testParams.copy(maxIter = 2)
    val a = Mrdf.buildGraph(emb, p).collect().map(_.toSeq).sortBy(_.toString)
    val b = Mrdf.buildGraph(emb, p.copy(driverSampleBytes = 0L))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.sameElements(b), "distributed arm diverged from driver arm")
  }

  test("NearestCentroidIdx names the missing path instead of a bare NPE") {
    // A path absent from the centroid map is a caller bug; round-9
    // advice: the failure must carry the path and map size — on a real
    // cluster the executor stack trace is the whole debugging surface.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.unsafe.types.UTF8String
    val cmap = new java.util.HashMap[UTF8String, Array[Array[Float]]]()
    cmap.put(UTF8String.fromString("present"), Array(Array(0f, 0f)))
    val cidx = org.apache.spark.sql.graft.VectorExpressions
      .nearestCentroidIdx(cmap, col("vec"), col("path"))
    import spark.implicits._
    val df = Seq((Array(1f, 2f), "absent")).toDF("vec", "path")
    val e = intercept[Exception] {
      df.select(cidx.as("cidx")).collect()
    }
    // unwrap SparkException layers down to the thrown cause
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("absent") && m.contains("1 entries")),
      s"expected path + map size in: $msgs")
    // the happy path next to it still evaluates
    val ok = Seq((Array(1f, 2f), "present")).toDF("vec", "path")
      .select(cidx.as("cidx")).collect()
    assert(ok.head.getInt(0) == 0)
  }

  test("NN-Descent alone reaches high recall on a single block") {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(200)
    import org.apache.spark.sql.functions.col
    val pts = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => NnDescentLocal.Pt(r.getLong(0), r.getSeq[Float](1).toArray))
    val edges = NnDescentLocal.run(pts, k = 10, seed = 42L).toArray
    assert(edges.nonEmpty)
    val byId = edges.groupBy(_.id)
    assert(byId.values.forall(_.length <= 10))
    // exact truth on the same 200 points
    val truth = BruteForceKnn.knnGraph(emb, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = edges.count(e => truth.contains((e.id, e.nbr)))
    val recall = hits.toDouble / truth.size
    info(s"single-block NN-Descent recall = $recall")
    assert(recall >= 0.9)
  }
}
