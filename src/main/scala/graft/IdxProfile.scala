package graft

import org.apache.spark.sql.functions._

/** Dev tool (round-15): phase-level timing of the persisted-index
  * cycles (q227's upsertCycle shape) — where do the ~5 s actually go? */
object IdxProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SessionTuning.session("graft-idx-profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[idxprof] $name%-32s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (1 to 2).foreach { pass =>
      println(s"== pass $pass ==")
      Materialized.reset()
      val emb = Tables.load(spark, sfDir, "embeddings")
      val base = emb.filter(col("vec_id") % 4 =!= 3)
      val delta = emb.filter(col("vec_id") % 4 === 3)
      ScratchDirs.withTempDir("graft-idxprof-") { dir =>
        val edges = t("topkjoin.base.build+ckpt") {
          org.apache.spark.sql.graft.TopKJoin.knn(
            base.repartition(col("vec_id")), base, 10).localCheckpoint()
        }
        t("write(index)") {
          graft.knn.GraphIndexStore.write(base, edges, dir, k = 10,
            routerFor = Some(graft.knn.GraphIndexStore.sharedBaseRouter(spark, sfDir)),
            onPhase = (ph, s) => println(f"[idxprof]   phase $ph%-22s $s%7.3f s"))
        }
        t("upsert(delta)") {
          graft.knn.GraphIndexStore.upsert(spark, dir, delta, k = 10)
        }
        t("isFreshFor(full)") {
          require(graft.knn.GraphIndexStore.isFreshFor(spark, dir, emb))
        }
        t("read+orderBy+ckpt") {
          spark.read.parquet(s"$dir/edges")
            .orderBy(col("id"), col("dist"), col("nbr")).localCheckpoint().count()
        }
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
