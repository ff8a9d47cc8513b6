package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one rule for iterative DataFrame loops, and its release helper.
  *
  * Iterative algorithms (MRDF rounds, the graph family, BPE training)
  * truncate lineage once per round with a `localCheckpoint`, which pins
  * its RDD blocks for the life of the session (`Dataset.unpersist` does
  * not reach them): without an explicit release every superseded
  * round's blocks tax every later query in the same session (measured
  * 7–26× inflation in the round-1 shared-session bench). [[iterate]]
  * owns the rule:
  *  - each round's state is a lazy `localCheckpoint`;
  *  - the round's own probe (a convergence count, a fingerprint, a
  *    driver collect, or a plain row count) is the action that
  *    materializes it, so no round pays a separate checkpoint job;
  *  - the superseded state is released only after that probe;
  *  - if a step or a probe throws, every live state is released.
  */
object Checkpoints {

  /** The last state of an [[iterate]] loop (materialized and pinned
    * until the caller releases it or a frame built on it), its probe
    * value and the number of rounds run. */
  final case class Iterated[M](state: DataFrame, probe: M, rounds: Int)

  /** Up to `maxRounds` rounds from `init`. The loop checkpoints `init`
    * like every later state, so it never releases a frame it did not
    * create; `init` is probed only when `start` is empty, else round 1's
    * job materializes it. `probe(state, previous probe)` runs on each
    * new state; `step(state, probe, round)` returns the next state's
    * plan, or None once the probe says the loop has converged. */
  def iterate[M](init: DataFrame, maxRounds: Int, start: Option[M] = None)(
      probe: (DataFrame, Option[M]) => M)(
      step: (DataFrame, M, Int) => Option[DataFrame]): Iterated[M] = {
    var cur = init.localCheckpoint(eager = false)
    var pending: Option[DataFrame] = None // checkpointed, not yet probed
    try {
      var m = start.getOrElse(probe(cur, None))
      var rounds = 0
      var more = maxRounds > 0
      while (more) step(cur, m, rounds + 1) match {
        case Some(plan) =>
          val n = plan.localCheckpoint(eager = false)
          pending = Some(n)
          m = probe(n, Some(m))
          release(cur)
          cur = n
          pending = None
          rounds += 1
          more = rounds < maxRounds
        case None => more = false
      }
      if (rounds == 0 && start.isDefined) rowCount(cur)
      Iterated(cur, m, rounds)
    } catch {
      case t: Throwable =>
        release(cur)
        pending.foreach(release(_))
        throw t
    }
  }

  /** Fixed-round [[iterate]]: `n` steps, each materialized by a plain
    * row count. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    iterate(init, n, start = Some(0L))((df, _) => rowCount(df))(
      (s, _, _) => Some(step(s))).state

  /** One job, no aggregation stage: a lazy checkpoint materialized at
    * the cost of the eager checkpoint it replaces. */
  private def rowCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Unpersist the checkpointed RDDs at the leaves of `df`'s plan.
    * No-op for plans without `LogicalRDD` leaves (e.g. the initial
    * empty graph or an un-checkpointed first iteration). Safe to call
    * only once every frame read off those leaves has materialized.
    * `blocking` waits for the blocks to go: a non-blocking removal
    * still in flight when the session stops races the block manager's
    * shutdown (WARN "Block rdd_N was not removed normally"). */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }
}

/** Directories that live no longer than the process: replay sources,
  * served indexes, per-cycle index dirs. */
object ScratchDirs {

  /** Run `body` over a fresh temp dir and delete the dir when `body`
    * returns or throws. A result that outlives the dir must be
    * materialized off its files inside `body` (`localCheckpoint`). */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(d.toString) finally deleteRecursively(d)
  }

  private val builtOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** The dir `build` filled for `key`, built once per process under a
    * [[cleanedOnExit]] dir — the served indexes, whose search-only rows
    * must not re-pay the build. */
  def onceFor(prefix: String, key: String)(build: String => Unit): String =
    builtOnce.getOrElseUpdate((prefix, key), {
      val d = cleanedOnExit(prefix)
      build(d)
      d
    })

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** A fresh temp dir (under `parent`, else the JVM temp dir), removed
    * recursively at JVM exit. Within-process staleness is impossible by
    * contract: testdata dirs are immutable for a process lifetime. */
  def cleanedOnExit(prefix: String, parent: Option[String] = None): String = {
    val d = parent match {
      case Some(p) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(p), prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(d.toFile)))
    d.toString
  }
}
