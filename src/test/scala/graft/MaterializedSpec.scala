package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.col

class MaterializedSpec extends SparkSpec {

  test("builds once per (sfDir, name) and round-trips content exactly") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    def read() = Materialized.table(spark, "/spec/dirA", "matspec-a") {
      builds.incrementAndGet()
      Seq((1L, 0.5), (2L, Double.NaN), (3L, -0.0)).toDF("id", "v")
    }
    val first = read().orderBy(col("id")).collect()
    val second = read().orderBy(col("id")).collect()
    assert(builds.get() == 1, "producer must run exactly once")
    assert(first.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // doubles survive the parquet round-trip bit-exactly (incl. NaN, -0.0)
    assert(java.lang.Double.doubleToRawLongBits(second(2).getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(second(1).getDouble(1).isNaN)
    // bit-level equality covers NaN payloads too
    assert(first.map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq ==
      second.map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq)
  }

  test("same name under a different sfDir is a separate entry") {
    import spark.implicits._
    val a = Materialized.table(spark, "/spec/dirB", "matspec-b") {
      Seq(1L).toDF("id")
    }
    val b = Materialized.table(spark, "/spec/dirC", "matspec-b") {
      Seq(2L, 3L).toDF("id")
    }
    assert(a.count() == 1 && b.count() == 2)
  }

  test("cache survives the harness's persistent-RDD sweep") {
    import spark.implicits._
    Materialized.table(spark, "/spec/dirD", "matspec-c") { Seq(7L).toDF("id") }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val again = Materialized.table(spark, "/spec/dirD", "matspec-c") {
      fail("producer must not re-run after an RDD sweep"); null
    }
    assert(again.collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("reset deletes the snapshots it drops") {
    import spark.implicits._
    val t = Materialized.table(spark, "/spec/dirE", "matspec-d") { Seq(1L).toDF("id") }
    val files = t.inputFiles.map(f => new java.io.File(new java.net.URI(f)))
    assert(files.nonEmpty && files.forall(_.exists))
    Materialized.reset()
    assert(files.forall(!_.exists), s"snapshot left after reset: ${files.filter(_.exists).toSeq}")
    val rebuilt = Materialized.table(spark, "/spec/dirE", "matspec-d") { Seq(2L).toDF("id") }
    assert(rebuilt.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("withTempDir deletes its dir when the body throws") {
    var seen: java.io.File = null
    intercept[IllegalStateException] {
      ScratchDirs.withTempDir("graft-withtmp-spec-") { d =>
        seen = new java.io.File(d)
        java.nio.file.Files.write(seen.toPath.resolve("f"), Array[Byte](1))
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen != null && !seen.exists, s"$seen survived the failed body")
  }
}
