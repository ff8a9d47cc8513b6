package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per call of each iterative loop, call plus one collect of
  * its output, at the fixed toy inputs of [[IterativeLoops]], and per
  * run of the `patch_decay` scale point at toy size. Each ceiling is
  * the count measured before the loops moved onto
  * [[Checkpoints.iterate]]; a count above its ceiling fails. */
class JobCountSpec extends SparkSpec {

  private val ceilings: Map[String, Int] = Map(
    "mrdf" -> 57,
    "connected_components" -> 73,
    "page_rank" -> 56,
    "seed_expansion" -> 48,
    "k_core" -> 121,
    "label_propagation" -> 37,
    "bfs_levels" -> 26,
    "sssp_micro" -> 26,
    "bpe_merges" -> 20,
    "scale_patch_decay" -> 440)

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

  test("every iterative loop has a ceiling") {
    assert(ceilings.keySet == IterativeLoops.all(sf0001).map(_.name).toSet + "scale_patch_decay")
  }

  IterativeLoops.all(sf0001).foreach { loop =>
    test(s"${loop.name}: jobs per call no higher than its ceiling") {
      loop.run(spark).collect() // warm: first-use planning may add jobs
      check(loop.name, jobsOf { loop.run(spark).collect(); () })
    }
  }

  test("scale_patch_decay: jobs per point no higher than its ceiling") {
    val p = Scale.points.find(_.name == "patch_decay").get
    check("scale_patch_decay",
      jobsOf { Scale.run(spark, p, Scale.parseArgs(p, Seq("n=2000"))); () })
  }
}
