package graft.knn

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for the persistent graph index (q225/q226/q227): the declared
  * rows prove persisted-round-trip losslessness and exact-grain upsert
  * equivalence against DuckDB; these specs pin the contracts the
  * oracles cannot see — fingerprint staleness detection, the
  * disjointness guard, and the APPROXIMATE patch path's recall on a
  * planted corpus (the q171 doctrine for seeded/approximate paths). */
class GraphIndexStoreSpec extends SparkSpec {

  private def plantedCorpus(n: Long, dim: Int, clusters: Int, seed: Long) = {
    val f = java.nio.file.Files
      .createTempFile(s"graft-gis-$n-$seed", ".fvecs")
    f.toFile.deleteOnExit()
    graft.io.FvecsGen.write(f.toString, n, dim, seed, clusters)
    graft.io.Fvecs.readAuto(spark, f.toString).toDF("vec_id", "embedding")
      .localCheckpoint()
  }

  test("isFreshFor detects a corpus mismatch; upsert chains the fingerprint over base+delta") {
    val vecs = plantedCorpus(300, 16, clusters = 6, seed = 11L)
    val base = vecs.filter(col("vec_id") % 5 =!= 4)
    val delta = vecs.filter(col("vec_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-fresh").toString
    GraphIndexStore.write(base,
      org.apache.spark.sql.graft.TopKJoin.knn(base, base, 5), dir, k = 5)
    assert(GraphIndexStore.isFreshFor(spark, dir, base))
    assert(!GraphIndexStore.isFreshFor(spark, dir, vecs),
      "the base-only index must NOT validate against the combined corpus")
    GraphIndexStore.upsert(spark, dir, delta, k = 5)
    assert(GraphIndexStore.isFreshFor(spark, dir, vecs),
      "after upsert the chained fingerprint must validate base+delta")
    assert(!GraphIndexStore.isFreshFor(spark, dir, base),
      "after upsert the index must no longer validate base alone")
  }

  test("upsert refuses duplicate vec_ids (insert-only contract)") {
    val vecs = plantedCorpus(200, 16, clusters = 4, seed = 12L)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-dup").toString
    GraphIndexStore.write(vecs,
      org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 5), dir, k = 5)
    val e = intercept[IllegalArgumentException] {
      GraphIndexStore.upsert(spark, dir, vecs.limit(10), k = 5)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("exact upsert equals rebuild on a planted corpus (the q227 contract, locally)") {
    val vecs = plantedCorpus(400, 16, clusters = 8, seed = 13L)
    val base = vecs.filter(col("vec_id") % 4 =!= 3)
    val delta = vecs.filter(col("vec_id") % 4 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-up").toString
    GraphIndexStore.write(base,
      org.apache.spark.sql.graft.TopKJoin.knn(base, base, 10), dir)
    GraphIndexStore.upsert(spark, dir, delta)
    val got = spark.read.parquet(s"$dir/edges")
      .select(col("id"), col("nbr"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == rebuilt,
      s"upsert != rebuild: extra=${(got -- rebuilt).take(5)}, " +
        s"missing=${(rebuilt -- got).take(5)}")
  }

  test("the persisted index is SELF-CONTAINED: serving works after the corpus is deleted") {
    // the q218b discipline behaviorally proven (the serving plan's
    // scans execute eagerly behind per-hop localCheckpoints, so a
    // plan-text scan gate cannot see them): write a corpus, index it,
    // DELETE the corpus files — search must still answer from the
    // index dir alone
    val vecs = plantedCorpus(300, 16, clusters = 6, seed = 16L)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-gis-corpus").toString
    vecs.write.mode("overwrite").parquet(corpusDir)
    val fromDisk = spark.read.parquet(corpusDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-self").toString
    GraphIndexStore.write(fromDisk,
      org.apache.spark.sql.graft.TopKJoin.knn(fromDisk, fromDisk, 10), dir)
    val queries = vecs.filter(col("vec_id") < 10).localCheckpoint()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(corpusDir))
    val served = GraphIndexStore.search(spark, dir, queries)
    assert(served.count() > 0, "serving must not touch the deleted corpus")
  }

  test("served search over the persisted index equals the in-flight routed search") {
    val vecs = plantedCorpus(500, 16, clusters = 8, seed = 14L)
    val edges = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 10)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-serve").toString
    GraphIndexStore.write(vecs, edges, dir)
    val queries = vecs.filter(col("vec_id") % 25 === 0)
    val served = GraphIndexStore.search(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val inflight = GraphSearch.routedBeamSearch(vecs, edges, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(served == inflight,
      "the persisted round-trip must not change one served row")
  }

  test("persisted long links serve identically to the in-flight long-linked graph") {
    val vecs = plantedCorpus(400, 16, clusters = 8, seed = 17L)
    val edges = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 10)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-links").toString
    GraphIndexStore.write(vecs, edges, dir, longLinks = Some((16, 2)))
    val queries = vecs.filter(col("vec_id") % 25 === 0)
    val served = GraphIndexStore.search(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val cent = graft.similarity.Kmeans.centroids(vecs, 8, 5, portable = true)
    val inflight = GraphSearch.routedWithCentroids(vecs,
        GraphSearch.withLongLinks(vecs, edges, poolSize = 16, perNode = 2),
        queries, cent, GraphSearch.clusterSeeds(vecs, cent, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(served == inflight,
      "persisted links must not change one served row vs the in-flight union")
  }

  test("approximate patch keeps recall on planted clusters (the MRDF-graph maintenance path)") {
    // base graph from MRDF over 95% of a planted corpus; the 5% delta
    // is patched in via beam-search candidates + symmetric reverse +
    // delta-delta fused top-k. Gate BOTH sides of the patched graph:
    // delta rows must find true neighbors (their lists were built by
    // navigation, not a corpus scan) and base rows must keep theirs.
    val vecs = plantedCorpus(2000, 32, clusters = 16, seed = 15L)
    val base = vecs.filter(col("vec_id") % 20 =!= 19).localCheckpoint()
    val delta = vecs.filter(col("vec_id") % 20 === 19).localCheckpoint()
    val edges = graft.mrdf.Mrdf.buildGraph(base, graft.mrdf.MrdfQueries.testParams)
    try {
      val patched = GraphIndexStore.patchGraphApprox(base, edges, delta,
        k = 10, beam = 8, hops = 4, nSeeds = 64).localCheckpoint()
      val truth = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 10)
        .select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val got = patched.select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val deltaIds = delta.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val (dTruth, bTruth) = truth.partition { case (id, _) => deltaIds(id) }
      val dRecall = dTruth.count(got.contains).toDouble / dTruth.length
      val bRecall = bTruth.count(got.contains).toDouble / bTruth.length
      info(f"patched-graph recall@10: delta rows $dRecall%.4f, base rows $bRecall%.4f")
      assert(dRecall >= 0.85, f"delta-row recall $dRecall%.4f below 0.85")
      assert(bRecall >= 0.85, f"base-row recall $bRecall%.4f below 0.85")
      // bounded degree: the patch must keep every list at k
      val maxDeg = patched.groupBy(col("id")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
      assert(maxDeg <= 10, s"patched list grew past k: $maxDeg")
    } finally graft.Checkpoints.release(edges)
  }

  test("serve-time staleness check refuses an out-of-band mutated index (round-13 verdict #7)") {
    val vecs = plantedCorpus(300, 16, clusters = 6, seed = 18L)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-stale").toString
    GraphIndexStore.write(vecs,
      org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 5), dir, k = 5)
    val queries = vecs.filter(col("vec_id") < 5)
    // fresh: the opt-in check passes and serves normally
    assert(GraphIndexStore.search(spark, dir, queries, k = 5,
      checkFresh = true).count() > 0)
    // mutate nodes/ OUT-OF-BAND (not through upsert): append rogue rows
    vecs.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 10000)
      .write.mode("append").parquet(s"$dir/nodes")
    // this is also the crash-after-nodes-append tear state of the new
    // upsert write order (nodes -> edges -> meta): meta still records
    // the pre-upsert corpus, so the meta-vs-stored-nodes comparison
    // the serve-time check runs must expose it on count alone
    val e = intercept[IllegalArgumentException] {
      GraphIndexStore.search(spark, dir, queries, k = 5,
        checkFresh = true).count()
    }
    assert(e.getMessage.contains("stale"))
    // without the opt-in check the serve is unguarded (the documented
    // hot-path default) — it must still answer, not throw
    assert(GraphIndexStore.search(spark, dir, queries, k = 5).count() > 0)
  }

  test("training manifest is persisted and the sampled path trains on exactly the md5 sample") {
    val vecs = plantedCorpus(400, 16, clusters = 8, seed = 19L)
    val edges = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 5)
      .localCheckpoint()
    // AUTO at 400 points degenerates to the full corpus (mod=1) — the
    // oracle-verbatim regime the declared rows run in
    val dirAuto = java.nio.file.Files.createTempDirectory("graft-gis-m1").toString
    GraphIndexStore.write(vecs, edges, dirAuto, k = 5)
    val mAuto = spark.read.parquet(s"$dirAuto/meta").collect()(0)
    assert(mAuto.getAs[Int]("train_sample_mod") == 1)
    assert(mAuto.getAs[Long]("train_n") == 400L)
    assert(mAuto.getAs[Int]("seeds_per_list") == 4)
    // forced sampling: the manifest records the rule and the router is
    // EXACTLY the portable Lloyd's over the md5 sample
    val dirS = java.nio.file.Files.createTempDirectory("graft-gis-m4").toString
    GraphIndexStore.write(vecs, edges, dirS, k = 5, trainSampleMod = 4)
    val mS = spark.read.parquet(s"$dirS/meta").collect()(0)
    val sample = GraphIndexStore.trainSample(
      vecs.select(col("vec_id"), col("embedding")), 4).localCheckpoint()
    assert(mS.getAs[Int]("train_sample_mod") == 4)
    assert(mS.getAs[Long]("train_n") == sample.count())
    assert(mS.getAs[Long]("train_n") < 200L,
      "a 1/4 md5 sample of 400 points must be well under half the corpus")
    val storedCent = spark.read.parquet(s"$dirS/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    val expectCent = graft.similarity.Kmeans
      .centroids(sample, 8, 5, portable = true)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    assert(storedCent == expectCent,
      "the persisted router must be the portable Lloyd's over the sample")
    // the sampled-router index still serves k results per query
    val res = GraphIndexStore.search(spark, dirS,
      vecs.filter(col("vec_id") < 5), k = 5)
    assert(res.groupBy(col("qid")).count().agg(min(col("count")))
      .collect()(0).getLong(0) == 5L)
  }

  test("upsert validates the delta against the index's recorded parameters (round-13 advice)") {
    val vecs = plantedCorpus(200, 16, clusters = 4, seed = 20L)
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-val").toString
    GraphIndexStore.write(vecs,
      org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 5), dir, k = 5)
    val delta = plantedCorpus(20, 16, clusters = 2, seed = 21L)
      .withColumn("vec_id", col("vec_id") + 10000)
    // a smaller k would silently truncate every stored adjacency list
    val eK = intercept[IllegalArgumentException] {
      GraphIndexStore.upsert(spark, dir, delta, k = 3)
    }
    assert(eK.getMessage.contains("build k"))
    // a wrong-dim delta would corrupt the graph while count+xor still validated
    val badDim = plantedCorpus(20, 8, clusters = 2, seed = 22L)
      .withColumn("vec_id", col("vec_id") + 20000)
    val eD = intercept[IllegalArgumentException] {
      GraphIndexStore.upsert(spark, dir, badDim, k = 5)
    }
    assert(eD.getMessage.contains("dimension"))
    // the valid delta still lands (the guards reject only mismatches)
    GraphIndexStore.upsert(spark, dir, delta, k = 5)
    assert(GraphIndexStore.isFreshFor(spark, dir, vecs.unionByName(delta)))
  }

  /** nodes/ ids and the meta row: what a refused insert must not touch. */
  private def indexState(dir: String) =
    (spark.read.parquet(s"$dir/nodes").select(col("vec_id")).collect()
      .map(_.getLong(0)).sorted.toSeq,
     spark.read.parquet(s"$dir/meta").collect().toSeq)

  test("upsert and ingestBatchApprox refuse a delta that repeats a new id, leaving nodes/ and meta/ untouched") {
    val vecs = plantedCorpus(200, 16, clusters = 4, seed = 24L)
    val base = vecs.filter(col("vec_id") % 5 =!= 4)
    val delta = vecs.filter(col("vec_id") % 5 === 4)
    // every id is new to the index, but one arrives twice: the xor chain
    // would cancel the pair and still validate base + delta
    val repeated = delta.unionByName(delta.orderBy(col("vec_id")).limit(1))
    val dir = java.nio.file.Files.createTempDirectory("graft-gis-dupdelta").toString
    GraphIndexStore.write(base,
      org.apache.spark.sql.graft.TopKJoin.knn(base, base, 5), dir, k = 5)
    val before = indexState(dir)
    val eU = intercept[IllegalArgumentException] {
      GraphIndexStore.upsert(spark, dir, repeated, k = 5)
    }
    assert(eU.getMessage.contains("unique vec_ids"), eU.getMessage)
    assert(indexState(dir) == before)
    val eI = intercept[IllegalArgumentException] {
      GraphIndexStore.ingestBatchApprox(spark, dir, repeated)
    }
    assert(eI.getMessage.contains("unique vec_ids"), eI.getMessage)
    assert(indexState(dir) == before)
    assert(GraphIndexStore.isFreshFor(spark, dir, base))
  }

  /** patchGraphApprox's per-id top-k as the former hand-rolled
    * expression: `slice(sort_array(collect_set(struct(dist, nbr))), 1, k)`
    * over the same candidate union. */
  private def patchByCollectSet(base: DataFrame, edges: DataFrame,
      delta: DataFrame, k: Int, beam: Int, hops: Int, nSeeds: Int) = {
    val pts = delta.select(col("vec_id"), col("embedding"))
    val cand = GraphSearch.beamSearch(base, edges, pts, k, beam, hops, nSeeds)
      .select(col("qid").as("id"), col("nbr"), col("dist"))
    val deltaDelta = org.apache.spark.sql.graft.TopKJoin.knn(
      pts.repartition(col("vec_id")), pts, k)
    val reverse = cand.select(col("nbr").as("id"), col("id").as("nbr"), col("dist"))
    edges.select(col("id"), col("nbr"), col("dist"))
      .unionByName(cand).unionByName(deltaDelta).unionByName(reverse)
      .select(col("id"), struct(col("dist"), col("nbr")).as("c"))
      .groupBy(col("id")).agg(slice(sort_array(collect_set(col("c"))), 1, k)
        .as("topk"))
      .select(col("id"), explode(col("topk")).as("c"))
      .select(col("id"), col("c.nbr").as("nbr"), col("c.dist").as("dist"))
  }

  test("patchGraphApprox's per-id top-k returns the rows of the former collect_set expression") {
    def rows(df: DataFrame) = df.select(col("id"), col("nbr"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def check(base: DataFrame, delta: DataFrame, k: Int, beam: Int,
              hops: Int, nSeeds: Int): Unit = {
      val edges = org.apache.spark.sql.graft.TopKJoin.knn(base, base, k)
        .localCheckpoint()
      val got = rows(GraphIndexStore.patchGraphApprox(base, edges, delta,
        k = k, beam = beam, hops = hops, nSeeds = nSeeds))
      val old = rows(patchByCollectSet(base, edges, delta, k, beam, hops, nSeeds))
      assert(got.nonEmpty && got == old,
        s"extra=${(got -- old).take(5)}, missing=${(old -- got).take(5)}")
    }
    // the PlanSpecs input (the q227 split of sf0.001)
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    check(emb.filter(col("vec_id") % 4 =!= 3), emb.filter(col("vec_id") % 4 === 3),
      k = 10, beam = 4, hops = 1, nSeeds = 4)
    // a planted corpus under the default beam shape
    val vecs = plantedCorpus(400, 16, clusters = 8, seed = 25L)
    check(vecs.filter(col("vec_id") % 10 =!= 7), vecs.filter(col("vec_id") % 10 === 7),
      k = 10, beam = 8, hops = 4, nSeeds = 64)
  }
}
