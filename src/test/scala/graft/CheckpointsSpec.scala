package graft

import org.apache.spark.sql.functions._

/** Checkpoint hygiene of [[Checkpoints.iterate]] and of every loop on
  * it: a call pins only the state its output reads, and releasing that
  * output returns the session to its baseline — also when a round
  * throws. */
class CheckpointsSpec extends SparkSpec {

  private def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet

  IterativeLoops.all(sf0001).foreach { loop =>
    test(s"${loop.name}: pins only its output's state; releasing it restores the baseline") {
      val before = pinned
      val out = loop.run(spark)
      assert(out.collect().nonEmpty)
      // the output pins the last state until it is released; BPE's
      // output is a driver-built merge table
      val held = pinned -- before
      assert(held.size == (if (loop.name == "bpe_merges") 0 else 1),
        s"pinned after the call: $held")
      Checkpoints.release(out)
      val leaked = pinned -- before
      assert(leaked.isEmpty, s"leaked RDD blocks: $leaked")
    }
  }

  test("iterate: probes each state once, stops on None, counts rounds") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val done = Checkpoints.iterate[Long](spark.range(10).toDF("x"), maxRounds = 5)(
      (df, _) => { val n = df.count(); seen += n; n }) { (df, n, _) =>
      if (n <= 7) None else Some(df.filter(col("x") < n - 1))
    }
    assert(seen.toSeq == Seq(10L, 9L, 8L, 7L))
    assert(done.rounds == 3 && done.probe == 7L)
    assert(done.state.count() == 7L)
    Checkpoints.release(done.state)
  }

  test("iterate: zero rounds still returns a materialized state") {
    val before = pinned
    val r = Checkpoints.rounds(spark.range(4).toDF("x"), 0)(identity)
    assert(r.count() == 4L)
    Checkpoints.release(r)
    assert((pinned -- before).isEmpty)
  }

  test("iterate: a step that throws in round 2 leaves nothing pinned") {
    val before = pinned
    val e = intercept[IllegalStateException] {
      Checkpoints.iterate[Long](spark.range(100).toDF("x"), maxRounds = 5)(
        (df, _) => df.count()) { (df, _, round) =>
        if (round == 2) throw new IllegalStateException("step 2")
        Some(df.filter(col("x") % 2 === 0))
      }
    }
    assert(e.getMessage == "step 2")
    assert((pinned -- before).isEmpty, s"leaked: ${pinned -- before}")
  }

  test("iterate: a probe that throws in round 2 leaves nothing pinned") {
    val before = pinned
    val boom = udf((x: Long) => if (x == 3L) throw new IllegalStateException("probe 2") else x)
    intercept[Exception] {
      Checkpoints.iterate[Long](spark.range(100).toDF("x"), maxRounds = 5)(
        (df, _) => df.count()) { (df, _, round) =>
        Some(if (round == 2) df.select(boom(col("x")).as("x")) else df)
      }
    }
    assert((pinned -- before).isEmpty, s"leaked: ${pinned -- before}")
  }
}
