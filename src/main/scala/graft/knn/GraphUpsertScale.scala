package graft.knn

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale measurement for incremental graph-index maintenance
  * (SCALING.json, round-13): on the pinned mixture corpus, build the
  * MRDF graph over a 95% base, patch the 5% delta in via
  * [[GraphIndexStore.patchGraphApprox]] (beam-search candidates +
  * symmetric reverse + delta-delta fused top-k), and compare against
  * the full REBUILD on three axes: patch wall vs rebuild wall,
  * delta-row recall@10, and base-row recall@10 (the patch must not
  * damage existing lists).
  *
  * Usage: `runMain graft.knn.GraphUpsertScale [n] [deltaPct]` */
object GraphUpsertScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val deltaPct = if (args.length > 1) args(1).toInt else 5
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("GraphUpsertScale")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val path = s"/root/repo/target/scaling/mix${n / 1000}k_seed42.fvecs"
    val f = new java.io.File(path)
    if (!f.exists() || f.length() != n * (4L + 4L * 64)) {
      Option(f.getParentFile).foreach(_.mkdirs())
      graft.io.FvecsGen.write(path, n, 64, 42L, 1000)
    }
    val vecs = graft.io.Fvecs.readAuto(spark, path)
      .toDF("vec_id", "embedding").localCheckpoint()
    val cut = n * (100 - deltaPct) / 100
    val base = vecs.filter(col("vec_id") < cut).localCheckpoint()
    val delta = vecs.filter(col("vec_id") >= cut).localCheckpoint()
    val params = graft.mrdf.Mrdf.Params(alpha = 12000)

    val t0 = System.nanoTime()
    val baseEdges = graft.mrdf.Mrdf.buildGraph(base, params).localCheckpoint()
    val baseBuildSec = (System.nanoTime() - t0) / 1e9

    // the router is an INDEX-BUILD artifact (persisted by
    // GraphIndexStore.write next to the adjacency) — trained once,
    // measured apart, reused by every serving batch AND every patch
    val tR = System.nanoTime()
    val cent = graft.similarity.Kmeans.centroids(base, 1024, iters = 3,
      portable = false)
    val cseeds = GraphSearch.clusterSeeds(base, cent, seedsPerList = 8)
      .localCheckpoint()
    val routerSec = (System.nanoTime() - tR) / 1e9

    val t1 = System.nanoTime()
    val patched = GraphIndexStore.patchGraphApprox(base, baseEdges, delta,
      k = params.k, beam = 8, hops = 4,
      router = Some((cent, cseeds))).localCheckpoint()
    val nPatched = patched.count()
    val patchSec = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val rebuilt = graft.mrdf.Mrdf.buildGraph(vecs, params).localCheckpoint()
    val rebuildSec = (System.nanoTime() - t2) / 1e9

    // recall vs exact truth on sampled queries from both sides
    val step = math.max(1L, n / 256L)
    def recallOf(edges: org.apache.spark.sql.DataFrame,
                 qs: org.apache.spark.sql.DataFrame): Double = {
      val got = edges.join(qs.select(col("vec_id").as("id")), Seq("id"),
          "left_semi")
        .select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = org.apache.spark.sql.graft.TopKJoin.knn(qs, vecs, params.k)
        .select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      truth.count(got.contains).toDouble / truth.length
    }
    val baseQs = base.filter(col("vec_id") % step === 0).localCheckpoint()
    val deltaQs = delta.filter(col("vec_id") % 7 === 0)
      .limit(256).localCheckpoint()
    val dRecallPatched = recallOf(patched, deltaQs)
    val bRecallPatched = recallOf(patched, baseQs)
    val dRecallRebuilt = recallOf(rebuilt, deltaQs)
    val bRecallRebuilt = recallOf(rebuilt, baseQs)
    println(f"[graph-upsert-scale] n=$n deltaPct=$deltaPct " +
      f"baseBuildSec=$baseBuildSec%.1f routerSec=$routerSec%.1f " +
      f"patchSec=$patchSec%.1f " +
      f"rebuildSec=$rebuildSec%.1f edges=$nPatched " +
      f"deltaRecall(patched)=$dRecallPatched%.4f " +
      f"baseRecall(patched)=$bRecallPatched%.4f " +
      f"deltaRecall(rebuilt)=$dRecallRebuilt%.4f " +
      f"baseRecall(rebuilt)=$bRecallRebuilt%.4f")
    spark.stop()
  }
}
