package graft.knn

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Patch-DECAY measurement (round-13 verdict #4 / SCALING
  * `round14_patch_decay`): `round13_graph_upsert` showed base recall
  * decaying 0.998 → 0.974 after ONE 5% approximate patch, but the
  * curve under REPEATED patches — the number a rebuild-as-compaction
  * policy needs — was unmeasured. This harness applies k successive
  * deltas through [[GraphIndexStore.patchGraphApprox]] (routed entry,
  * the production shape), measuring after each step:
  *   - base-row recall@10 (the original corpus's lists — damage),
  *   - all-rows recall@10 (the served quality a user sees),
  *   - patch wall,
  * then one full rebuild at the final size for the policy comparison.
  * The derived rule lands in [[GraphIndexStore]]'s scaladoc as
  * `RebuildRecallFloor`.
  *
  * Usage: `runMain graft.knn.GraphPatchDecayScale [nBase] [deltaPct]
  * [steps]` */
object GraphPatchDecayScale {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.nonEmpty) args(0).toLong else 200000L
    val deltaPct = if (args.length > 1) args(1).toInt else 2
    val steps = if (args.length > 2) args(2).toInt else 5
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("GraphPatchDecayScale")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val deltaN = nBase * deltaPct / 100
    val nTotal = nBase + steps * deltaN
    val path = s"/root/repo/target/scaling/mix${nTotal / 1000}k_seed42.fvecs"
    val f = new java.io.File(path)
    if (!f.exists() || f.length() != nTotal * (4L + 4L * 64)) {
      Option(f.getParentFile).foreach(_.mkdirs())
      graft.io.FvecsGen.write(path, nTotal, 64, 42L, 1000)
    }
    val vecs = graft.io.Fvecs.readAuto(spark, path)
      .toDF("vec_id", "embedding").localCheckpoint()
    val base = vecs.filter(col("vec_id") < nBase).localCheckpoint()
    val params = graft.mrdf.Mrdf.Params(alpha = 12000)

    val t0 = System.nanoTime()
    var edges = graft.mrdf.Mrdf.buildGraph(base, params).localCheckpoint()
    val baseBuildSec = (System.nanoTime() - t0) / 1e9

    // router trained ONCE on the base (the add-after-train contract the
    // decay curve stresses: entries, like lists, go stale under growth)
    val cent = graft.similarity.Kmeans.centroids(base, 1024, iters = 3,
      portable = false)
    val cseeds = GraphSearch.clusterSeeds(base, cent, seedsPerList = 8)
      .localCheckpoint()

    val step = math.max(1L, nBase / 256L)
    val baseQs = base.filter(col("vec_id") % step === 0).localCheckpoint()
    def recallOf(g: org.apache.spark.sql.DataFrame,
                 qs: org.apache.spark.sql.DataFrame,
                 corpus: org.apache.spark.sql.DataFrame): Double = {
      val got = g.join(qs.select(col("vec_id").as("id")), Seq("id"),
          "left_semi")
        .select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = org.apache.spark.sql.graft.TopKJoin
        .knn(qs, corpus, params.k)
        .select(col("id"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      truth.count(got.contains).toDouble / truth.length
    }

    var grown = base
    (1 to steps).foreach { s =>
      val lo = nBase + (s - 1) * deltaN
      val hi = nBase + s * deltaN
      val delta = vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .localCheckpoint()
      val t1 = System.nanoTime()
      val patched = GraphIndexStore.patchGraphApprox(grown, edges, delta,
        k = params.k, beam = 8, hops = 4,
        router = Some((cent, cseeds))).localCheckpoint()
      val nEdges = patched.count()
      val patchSec = (System.nanoTime() - t1) / 1e9
      graft.Checkpoints.release(edges)
      edges = patched
      grown = grown.unionByName(delta).localCheckpoint()
      // truth is against the CURRENT corpus: every new point can
      // displace an old neighbor, so base recall decays even if no
      // stored list is touched — the honest serving-quality number
      val allQs = grown.filter(col("vec_id") % step === 0).localCheckpoint()
      val bRec = recallOf(edges, baseQs, grown)
      val aRec = recallOf(edges, allQs, grown)
      println(f"[patch-decay] step=$s corpus=${nBase + s * deltaN} " +
        f"edges=$nEdges patchSec=$patchSec%.1f " +
        f"baseRecall=$bRec%.4f allRecall=$aRec%.4f")
    }

    val t2 = System.nanoTime()
    val rebuilt = graft.mrdf.Mrdf.buildGraph(grown, params).localCheckpoint()
    rebuilt.count()
    val rebuildSec = (System.nanoTime() - t2) / 1e9
    val allQs = grown.filter(col("vec_id") % step === 0).localCheckpoint()
    val bRecR = recallOf(rebuilt, baseQs, grown)
    val aRecR = recallOf(rebuilt, allQs, grown)
    println(f"[patch-decay] rebuild at ${nTotal}: rebuildSec=$rebuildSec%.1f " +
      f"baseRecall=$bRecR%.4f allRecall=$aRecR%.4f " +
      f"(baseBuildSec=$baseBuildSec%.1f)")
    spark.stop()
  }
}
