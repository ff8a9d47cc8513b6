package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release helper for `localCheckpoint`ed DataFrames.
  *
  * `Dataset.unpersist` only covers CacheManager entries; a
  * `localCheckpoint` pins its materialized RDD blocks in executor
  * memory directly, for the life of the session, unless the underlying
  * RDD is unpersisted. Iterative algorithms (MRDF divide/merge, k-means)
  * checkpoint per round to truncate lineage — without an explicit
  * release every superseded round's blocks stay pinned and tax every
  * later query in the same session (measured 7–26× inflation in the
  * round-1 shared-session bench).
  */
object Checkpoints {

  /** Unpersist the checkpointed RDDs at the leaves of `df`'s plan.
    * No-op for plans without `LogicalRDD` leaves (e.g. the initial
    * empty graph or an un-checkpointed first iteration). Safe to call
    * only once the successor checkpoint has eagerly materialized.
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
