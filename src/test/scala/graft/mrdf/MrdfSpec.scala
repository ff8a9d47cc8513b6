package graft.mrdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, size}

import graft.{Checkpoints, SparkSpec, Tables}
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

  /** A build's edge rows, sorted. */
  private def edgeRows(emb: DataFrame, p: Mrdf.Params): Seq[String] = {
    val out = Mrdf.buildGraph(emb, p)
    try out.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    finally Checkpoints.release(out, blocking = true)
  }

  test("the local, per-level driver and distributed arms build the same graph") {
    // The three arms are routings of one division, not three
    // algorithms: the local arm (N·(4d+32) within driverSampleBytes, the
    // default at test N) divides on the driver; a bound below N·(4d+32)
    // but above ρ²·(4d+32) keeps every level on the per-level driver
    // arm; 0 forces every level through the distributed
    // posexplode/persist arm. The valve case (α 50, one divide level)
    // leaves paths > α for the id-hash split.
    val emb = Tables.load(spark, sf0001, "embeddings").limit(300)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val p = MrdfQueries.testParams.copy(maxIter = 2)
    val perLevel = 300L * (4L * dim + 32L) - 1L
    assert(perLevel >= 4L * p.rho * p.rho * (4L * dim + 32L))
    Seq(p, p.copy(alpha = 50, maxDivideIter = 1)).foreach { q =>
      val local = edgeRows(emb, q)
      assert(local.nonEmpty)
      assert(edgeRows(emb, q.copy(driverSampleBytes = perLevel)) == local,
        s"per-level driver arm diverged from the local arm at $q")
      assert(edgeRows(emb, q.copy(driverSampleBytes = 0L)) == local,
        s"distributed arm diverged from the local arm at $q")
    }
  }

  test("the driver-side divide assigns the level arms' paths, ties and valve included") {
    // 400 points on a 5 × 5 integer grid, 16 per node: samples repeat
    // nodes and grid points sit equidistant from several centroids, so
    // the (d, cidx) tie rule decides many assignments.
    import spark.implicits._
    val grid = (0 until 400).map(i => (i.toLong, Array((i % 5).toFloat, (i / 5 % 5).toFloat)))
    val pts = grid.toDF("id", "vec")
    val (ids, vecs) = (grid.map(_._1).toArray, grid.map(_._2).toArray)
    def levelPaths(q: Mrdf.Params, iter: Int): Map[Long, String] = {
      val (assigned, levels) = Mrdf.divide(pts, q, iter, dim = 2)
      try assigned.select(col("id"), col("path")).as[(Long, String)].collect().toMap
      finally levels.foreach(_.unpersist(blocking = true))
    }
    val p = MrdfQueries.testParams.copy(alpha = 40)
    val valve = p.copy(alpha = 20, maxDivideIter = 1)
    for (q <- Seq(p, valve); iter <- 1 to 2) {
      val local = ids.zip(Mrdf.dividePaths(ids, vecs, q, iter)).toMap
      assert(local.values.toSet.size > 1)
      assert(local.values.exists(_.contains("#")) == (q == valve))
      assert(levelPaths(q, iter) == local, s"per-level driver arm diverged at $q, round $iter")
      assert(levelPaths(q.copy(driverSampleBytes = 0L), iter) == local,
        s"distributed arm diverged at $q, round $iter")
    }
  }

  test("a build pins only its output's checkpoint, on the local and the distributed arm") {
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val emb = Tables.load(spark, sf0001, "embeddings").limit(300)
    val p = MrdfQueries.testParams.copy(maxIter = 2)
    Seq(p, p.copy(driverSampleBytes = 0L)).foreach { q =>
      val before = pinned
      val out = Mrdf.buildGraph(emb, q)
      val state = out.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      assert(state.size == 1)
      assert(pinned -- before == state, s"pinned beyond the output's state at $q")
      Checkpoints.release(out, blocking = true)
      assert((pinned -- before).isEmpty)
    }
  }

  test("NearestCentroidIdx names the missing path instead of a bare NPE") {
    // A path absent from the centroid map is a caller bug; round-9
    // advice: the failure must carry the path and map size — on a real
    // cluster the executor stack trace is the whole debugging surface.
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
