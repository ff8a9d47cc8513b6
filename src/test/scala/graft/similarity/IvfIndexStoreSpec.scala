package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class IvfIndexStoreSpec extends SparkSpec {

  test("persisted search is row-identical to the in-memory portable IVF (sf0.001)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val dir = Files.createTempDirectory("graft-ivfidx-spec-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(emb, dir.toString)
    val persisted = IvfIndexStore
      .search(spark, dir.toString, emb.filter(col("vec_id") < 20))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val inMemory = Ann
      .ivfKmeansTopK(emb, 10, queryPred = col("vec_id") < 20, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(persisted == inMemory,
      "the parquet round-trip must not change a single result row")
  }

  test("index is self-contained: search touches only the index dir") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val dir = Files.createTempDirectory("graft-ivfidx-spec2-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(emb, dir.toString)
    // queries built from a literal frame — no read of the corpus table
    val qRows = emb.filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    import spark.implicits._
    val queries = qRows.toSeq.toDF("vec_id", "embedding")
    val out = IvfIndexStore.search(spark, dir.toString, queries)
    assert(out.count() == 30)
    // and the lists sink really carries the vectors (the serving-side
    // contract): every corpus row is in exactly one inverted list
    val lists = spark.read.parquet(s"$dir/lists")
    assert(lists.count() == emb.count())
    assert(lists.select("vec_id").distinct().count() == emb.count())
  }

  test("staleness tripwire: the fingerprint rejects a different corpus") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val dir = Files.createTempDirectory("graft-ivfidx-spec3-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(emb, dir.toString)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, emb))
    // same row count, one vector perturbed — count alone cannot catch
    // it, the content fingerprint must
    val perturbed = emb.withColumn("embedding",
      when(col("vec_id") === 0,
        transform(col("embedding"), x => x + lit(1.0f)))
        .otherwise(col("embedding")))
    assert(!IvfIndexStore.isFreshFor(spark, dir.toString, perturbed),
      "a content change with unchanged count must flip the fingerprint")
    val other = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    assert(!IvfIndexStore.isFreshFor(spark, dir.toString, other))
  }

  test("empty corpus: write + isFreshFor degrade cleanly (fingerprint 0, no NPE)") {
    // round-11 advice: bit_xor over zero rows is NULL — meta used to
    // persist a null fingerprint and isFreshFor threw on getLong
    val emb = Tables.load(spark, sf0001, "embeddings")
    val empty = emb.filter(col("vec_id") < 0)
    val dir = Files.createTempDirectory("graft-ivfidx-spec4-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(empty, dir.toString)
    val meta = spark.read.parquet(s"${dir.toString}/meta").collect()(0)
    assert(meta.getAs[Long]("n_vectors") == 0L)
    assert(meta.getAs[Long]("fingerprint") == 0L)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, empty),
      "an empty index IS fresh for an empty corpus")
    assert(!IvfIndexStore.isFreshFor(spark, dir.toString, emb))
  }

  test("upsert equals an independent combined-assignment mirror (base-trained quantizer)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val got = IvfIndexStore.upsertCycle(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // independent construction: quantizer trained on the base slice,
    // lists + probes + re-rank over the FULL corpus — the state upsert
    // must leave behind
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val cent = Kmeans.centroids(base, 8, 5, portable = true)
    val pts = emb.select(col("vec_id").as("nbr"), col("embedding").as("cv"))
    val lists = pts.join(broadcast(cent))
      .select(col("nbr"), struct(
        graft.linalg.Distances.euclidean(col("cv"), col("cvec")).as("d"),
        col("cid").as("cid"), col("cv").as("cv")).as("cand"))
      .groupBy(col("nbr")).agg(min(col("cand")).as("m"))
      .select(col("m.cid").as("cid"), col("nbr"), col("m.cv").as("cv"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probes = q.join(broadcast(cent))
      .withColumn("cd", graft.linalg.Distances.euclidean(col("qv"), col("cvec")))
      .withColumn("pr", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cd"), col("cid"))))
      .filter(col("pr") <= 3)
      .select(col("qid"), col("qv"), col("cid"))
    val expect = graft.agg.TopKByWeight.topKBySimilarity(
        probes.join(lists, Seq("cid")).filter(col("qid") =!= col("nbr"))
          .select(col("qid"), col("nbr"),
            round(graft.linalg.Distances.cosineSimilarity(col("qv"), col("cv")), 6)
              .as("sim")), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == expect,
      "upsert(base, delta) must equal combined assignment under the base quantizer")
  }

  test("fingerprint chains: fresh for base+delta, stale for either slice alone") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val dir = Files.createTempDirectory("graft-ivfidx-spec5-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(base, dir.toString)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, base))
    IvfIndexStore.upsert(spark, dir.toString, delta)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, emb),
      "xor-chained fingerprint must equal the combined-corpus fingerprint")
    assert(!IvfIndexStore.isFreshFor(spark, dir.toString, base),
      "after upsert the index is no longer fresh for base alone")
    assert(!IvfIndexStore.isFreshFor(spark, dir.toString, delta))
  }

  test("upsert refuses a delta that repeats a vec_id and leaves the index untouched") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val dir = Files.createTempDirectory("graft-ivfidx-spec-dupdelta-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(base, dir.toString)
    val listsBefore = spark.read.parquet(s"${dir.toString}/lists").count()
    // every id is new to the index, but one arrives twice
    val repeated = delta.unionByName(delta.orderBy(col("vec_id")).limit(1))
    val e = intercept[IllegalArgumentException](
      IvfIndexStore.upsert(spark, dir.toString, repeated))
    assert(e.getMessage.contains("unique vec_ids"), e.getMessage)
    assert(spark.read.parquet(s"${dir.toString}/lists").count() == listsBefore)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, base),
      "a refused upsert must not touch lists/ or meta/")
  }

  test("upsert refuses a wrong-dimension delta and leaves the index untouched") {
    import spark.implicits._
    val emb = Tables.load(spark, sf0001, "embeddings")
    val dir = Files.createTempDirectory("graft-ivfidx-spec-baddim-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(emb, dir.toString)
    def state = (spark.read.parquet(s"${dir.toString}/lists").count(),
      spark.read.parquet(s"${dir.toString}/meta").collect().toSeq)
    val before = state
    // new ids, half the dimension: the argmin would score it over the
    // shorter length and land it silently
    val badDim = Seq((100000L, Seq.fill(32)(0.5f)), (100001L, Seq.fill(32)(1.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      IvfIndexStore.upsert(spark, dir.toString, badDim))
    assert(e.getMessage.contains("dimension"), e.getMessage)
    assert(state == before, "a refused upsert must not touch lists/ or meta/")
  }

  test("list split: oversized list splits in two, corpus and fingerprint unchanged, full-probe search identical") {
    import spark.implicits._
    // two planted clusters but nlist=1: one giant list that must split
    val emb = ((0 until 20).map(i =>
        (i.toLong, Seq(1f + i * 0.01f, 0f, 0f))) ++
      (20 until 40).map(i =>
        (i.toLong, Seq(0f, 5f + i * 0.01f, 0f)))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-ivfidx-spec6-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(emb, dir.toString, nlist = 1, kmeansIters = 2)
    val fpBefore = spark.read.parquet(s"${dir.toString}/meta")
      .collect()(0).getAs[Long]("fingerprint")
    val qs = emb.filter(col("vec_id") < 5)
    val before = IvfIndexStore
      .search(spark, dir.toString, qs, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    IvfIndexStore.splitOversized(spark, dir.toString, maxListSize = 25)
    val cent = spark.read.parquet(s"${dir.toString}/centroids")
    assert(cent.count() == 2, "the single oversized list must split into two")
    val lists = spark.read.parquet(s"${dir.toString}/lists")
    assert(lists.count() == 40 &&
      lists.select("vec_id").distinct().count() == 40,
      "every vector stays in exactly one list across the split")
    // the split moved vectors between lists; the indexed corpus did not change
    assert(spark.read.parquet(s"${dir.toString}/meta")
      .collect()(0).getAs[Long]("fingerprint") == fpBefore)
    // probing the whole universe is split-invariant
    val after = IvfIndexStore
      .search(spark, dir.toString, qs, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(after == before,
      "full-probe search must return identical rows before and after the split")
    // and the planted geometry actually separates: each child list is
    // one cluster, so the split improves probe pruning rather than
    // scrambling it
    val byList = lists.groupBy(col("cid"))
      .agg(org.apache.spark.sql.functions.collect_set(
        (col("vec_id") < 20).cast("int")).as("sides"))
      .collect()
    assert(byList.forall(_.getSeq[Int](1).size == 1),
      "each split list must hold exactly one planted cluster")
  }

  test("upsert triggers the split path when a list outgrows the bound") {
    import spark.implicits._
    val base = (0 until 12).map(i =>
      (i.toLong, Seq(1f + i * 0.01f, 0f))).toDF("vec_id", "embedding")
    val delta = (12 until 30).map(i =>
      (i.toLong, Seq(1f + i * 0.01f, 0f))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-ivfidx-spec7-")
    dir.toFile.deleteOnExit()
    IvfIndexStore.write(base, dir.toString, nlist = 1, kmeansIters = 2)
    IvfIndexStore.upsert(spark, dir.toString, delta, maxListSize = 20)
    assert(spark.read.parquet(s"${dir.toString}/centroids").count() == 2,
      "the post-upsert oversized list must have split")
    val combined = base.unionByName(delta)
    assert(IvfIndexStore.isFreshFor(spark, dir.toString, combined),
      "split + upsert must leave the chained fingerprint valid for base+delta")
  }

  test("buildAndSearch reclaims its ephemeral index dir after materializing") {
    // round-11 advice: deleteOnExit cannot remove a non-empty dir, so
    // every invocation leaked a full corpus copy into /tmp
    def tmpIdxDirs: Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft-ivfidx-")).map(_.getName).toSet
    val before = tmpIdxDirs
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = IvfIndexStore.buildAndSearch(emb)
    assert(out.count() > 0)
    assert(tmpIdxDirs == before,
      "the ephemeral index dir must be deleted once the result is materialized")
  }
}
