package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.knn.GraphIndexStore
import graft.similarity.{Ann, IvfIndexStore}
import graft.streaming.StreamingPipelines

/** Spark jobs per call, call plus one collect of its output, of each
  * iterative loop at the fixed toy inputs of [[IterativeLoops]] and of
  * each coarse-quantizer caller at sf0.001, and per run of the
  * `patch_decay` scale point at toy size. Each ceiling is the count
  * measured (three times) at those inputs; a count above its ceiling
  * fails. */
class JobCountSpec extends SparkSpec {

  private val ceilings: Map[String, Int] = Map(
    "mrdf" -> 57,
    "connected_components" -> 35,
    "page_rank" -> 54,
    "seed_expansion" -> 46,
    "k_core" -> 119,
    "label_propagation" -> 35,
    "bfs_levels" -> 24,
    "sssp_micro" -> 24,
    "bpe_merges" -> 16,
    "ivf_kmeans_topk" -> 20,
    "ivf_build_and_search" -> 31,
    "ann_ingest" -> 21,
    "graph_index_search" -> 45,
    // Measured 413–422 over 16 runs. AQE re-plans each search hop's
    // frontier ⋈ edges join (GraphSearch.expand) as a broadcast join
    // from whichever of its two shuffle stages finishes first; one
    // build side costs one more job than the other.
    "scale_patch_decay" -> 440)

  private def emb(s: SparkSession): DataFrame = Tables.load(s, sf0001, "embeddings")

  /** A graph index over sf0.001's embeddings, written once. */
  private lazy val graphIndex: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobcount-gidx-")
    dir.toFile.deleteOnExit()
    GraphIndexStore.write(emb(spark),
      org.apache.spark.sql.graft.TopKJoin.knn(emb(spark), emb(spark), 10), dir.toString)
    dir.toString
  }

  /** The callers of `Kmeans.assign`, `Kmeans.probe` and `Ann.ivfSearch`. */
  private val calls: Seq[(String, SparkSession => DataFrame)] = Seq(
    "ivf_kmeans_topk" -> (s =>
      Ann.ivfKmeansTopK(emb(s), 10, col("vec_id") < 20, portable = true)),
    "ivf_build_and_search" -> (s => IvfIndexStore.buildAndSearch(emb(s))),
    "ann_ingest" -> (s => StreamingPipelines.annIngestAvailableNow(s, sf0001)),
    "graph_index_search" -> (s =>
      GraphIndexStore.search(s, graphIndex, emb(s).filter(col("vec_id") < 20))))

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def check(name: String, jobs: Int): Unit = {
    info(s"$name: $jobs jobs")
    println(s"JOBCOUNT $name $jobs")
    assert(jobs <= ceilings(name), s"$name ran $jobs jobs, ceiling ${ceilings(name)}")
  }

  private val runs = IterativeLoops.all(sf0001).map(l => l.name -> l.run) ++ calls

  test("every iterative loop has a ceiling") {
    assert(ceilings.keySet == runs.map(_._1).toSet + "scale_patch_decay")
  }

  runs.foreach { case (name, run) =>
    test(s"$name: jobs per call no higher than its ceiling") {
      run(spark).collect() // warm: first-use planning may add jobs
      check(name, jobsOf { run(spark).collect(); () })
    }
  }

  test("scale_patch_decay: jobs per point no higher than its ceiling") {
    val p = Scale.points.find(_.name == "patch_decay").get
    check("scale_patch_decay",
      jobsOf { Scale.run(spark, p, Scale.parseArgs(p, Seq("n=2000"))); () })
  }
}
