package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.knn.GraphIndexStore

/** Gates for the streamed graph-index ingest (q230) and the
  * approximate high-rate batch path behind its scale harness: the
  * declared row proves exactness against DuckDB's rebuild SQL; these
  * specs pin what the oracle cannot see — the multi-batch execution
  * (asserted inside the run), the chained freshness proof, and the
  * routed approximate path's recall on a planted corpus. */
class StreamGraphIngestSpec extends SparkSpec {

  private def plantedCorpus(n: Long, dim: Int, clusters: Int, seed: Long) = {
    val f = java.nio.file.Files
      .createTempFile(s"graft-sgi-$n-$seed", ".fvecs")
    f.toFile.deleteOnExit()
    graft.io.FvecsGen.write(f.toString, n, dim, seed, clusters)
    graft.io.Fvecs.readAuto(spark, f.toString).toDF("vec_id", "embedding")
      .localCheckpoint()
  }

  test("streamed ingest equals the one-shot rebuild over all embeddings (q230)") {
    val got = StreamGraphIngest.ingestAvailableNow(spark, sf0001)
      .select(col("id"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val rebuilt = org.apache.spark.sql.graft.TopKJoin
      .knn(emb.repartition(col("vec_id")), emb, 10)
      .select(col("id"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == rebuilt,
      s"streamed ingest != rebuild: extra=${(got -- rebuilt).take(5)}, " +
        s"missing=${(rebuilt -- got).take(5)}")
  }

  test("ingestBatchApprox routes through the stored router, chains the fingerprint, and holds recall on a planted corpus") {
    val vecs = plantedCorpus(400, 16, clusters = 8, seed = 23L)
    val base = vecs.filter(col("vec_id") % 5 =!= 4).localCheckpoint()
    val delta = vecs.filter(col("vec_id") % 5 === 4).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sgi-approx").toString
    GraphIndexStore.write(base,
      org.apache.spark.sql.graft.TopKJoin.knn(base, base, 5), dir, k = 5)
    // two successive arriving batches (disjoint halves of the delta)
    val b1 = delta.filter(col("vec_id") % 10 === 4)
    val b2 = delta.filter(col("vec_id") % 10 === 9)
    GraphIndexStore.ingestBatchApprox(spark, dir, b1)
    GraphIndexStore.ingestBatchApprox(spark, dir, b2)
    assert(GraphIndexStore.isFreshFor(spark, dir, vecs),
      "the batch-chained fingerprint must validate base + both arrivals")
    val got = spark.read.parquet(s"$dir/edges")
      .select(col("id"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = org.apache.spark.sql.graft.TopKJoin.knn(vecs, vecs, 5)
      .select(col("id"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = truth.count(got.contains).toDouble / truth.length
    assert(recall >= 0.9,
      f"approximate streamed-ingest recall $recall%.4f below the 0.9 gate " +
        "on a planted clustered corpus")
    // duplicate arrivals are refused like the exact path
    intercept[IllegalArgumentException] {
      GraphIndexStore.ingestBatchApprox(spark, dir, b1)
    }
    graft.ScratchDirs.deleteRecursively(new java.io.File(dir))
  }
}
