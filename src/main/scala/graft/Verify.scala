package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Every core on the box by default (SessionTuning.cpus): running
    // 155+ queries at local[4] on a 32-CPU host wastes 8× of the
    // correctness phase's wall-clock budget.
    val spark = SessionTuning.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration: GRAFT_ONLY=q20,q21 tools/check.py
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    // Exclusive harness lock: a Verify co-running with Bench poisons the
    // bench numbers (round-5 493 s adjudication) — serialize them.
    HarnessLock.exclusive {
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // Release any RDD blocks the query pinned (checkpoint remnants)
        // so the shared session stays clean for the remaining queries.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The `oracle_sql.json` object: query name → oracle SQL. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${Bench.jq(k)}: ${Bench.jq(v)}" }.mkString("{", ",", "}")
}
