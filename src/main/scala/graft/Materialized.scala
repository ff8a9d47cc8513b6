package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-process cache of expensive shared intermediates ("materialized
  * views"). Several declared queries consume the same costly table —
  * the exact KNN edge graph feeds knn_bruteforce / knn_adjacency /
  * q38 / q39 / mrdf_recall, and the seeded MRDF graph feeds both
  * mrdf_knn_graph and mrdf_recall. Recomputing the producer per
  * consumer multiplies the dominant cost of the whole suite.
  *
  * The cache is parquet-backed (not `.persist()`) deliberately:
  *  - Bench/Verify sweep persistent RDDs after every query (shared-
  *    session hygiene, see Bench.scala) — a parquet snapshot survives;
  *  - readers get a clean scan plan (column pruning, no lineage);
  *  - at cluster scale this is exactly the shared-fragment pattern: a
  *    pipeline materializes the graph once to distributed storage and
  *    every downstream query scans it.
  *
  * Scoped to the JVM process via a fresh temp dir (removed at exit),
  * so reruns after a code change never see stale results; each
  * [[reset]] deletes the snapshots it drops. Correctness is unaffected:
  * producers here are deterministic (brute-force KNN) or seeded-
  * deterministic (MRDF), and a parquet round-trip is lossless for the
  * long/double edge schema — the DuckDB oracle still checks every
  * consumer end-to-end.
  */
object Materialized {

  private lazy val root = new java.io.File(ScratchDirs.cleanedOnExit("graft-mat-"))
  /** Snapshots live under `gen<N>`; a reset deletes the generation it
    * ends. */
  private var generation = 0
  private def genDir = new java.io.File(root, s"gen$generation")

  private val built = scala.collection.mutable.HashSet.empty[String]

  /** Drop and delete every cached snapshot: the next `table` call
    * rebuilds from scratch. Used by Bench between measurement passes so
    * pass 2 re-pays shared-table construction — otherwise a
    * min-of-passes headline would silently report warm-cache numbers.
    * A DataFrame returned by an earlier `table` call must not be read
    * after the reset: its files are gone. */
  def reset(): Unit = synchronized {
    built.clear()
    ScratchDirs.deleteRecursively(genDir)
    generation += 1
  }

  /** Return `name`'s materialized table for `sfDir`, building it on
    * first use in this process. */
  def table(spark: SparkSession, sfDir: String, name: String)
           (build: => DataFrame): DataFrame = {
    // Collision-free key: sanitize the full sfDir path (a 32-bit
    // hashCode could, rarely, alias two scale-factor dirs).
    val key = name + "-" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = synchronized {
      val p = new java.io.File(genDir, key).toString
      if (!built.contains(key)) {
        build.write.mode("overwrite").parquet(p)
        built += key
      }
      p
    }
    spark.read.parquet(path)
  }
}
