package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.linalg.Distances

class KmeansSpec extends SparkSpec {

  private val K = 3

  /** (grp, id, vec) rows; ungrouped corpora carry the constant grp 0.
    * Read back from parquet: over an in-memory relation the optimizer
    * would evaluate the argmin projection on the driver. */
  private def points(grouped: Boolean)(vec: (Int, Int) => Seq[Float]): DataFrame = {
    import spark.implicits._
    val grps = if (grouped) Seq(0, 1) else Seq(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-spec-")
    dir.toFile.deleteOnExit()
    (for (g <- grps; i <- 0 until 40) yield (g, i.toLong, vec(g, i)))
      .toDF("grp", "id", "vec").write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** Two distinct locations per group, each repeated 20 times: any 3
    * sampled centroids include two equal ones, and the higher cid of
    * that pair loses every argmin tie — its cluster is empty. */
  private def duplicated(grouped: Boolean): DataFrame =
    points(grouped)((g, i) =>
      if (i % 2 == 0) Seq.fill(4)(g.toFloat) else Seq.fill(4)(10f + g))

  private def gaussian(grouped: Boolean): DataFrame = {
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(2, 40, 4)(rnd.nextGaussian().toFloat)
    points(grouped)((g, i) => noise(g)(i).toSeq.map(_ + (i % 3) * 4f))
  }

  private def rows(df: DataFrame): Seq[(Int, Int, Seq[Float])] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2))).toSeq
      .sortBy(t => (t._1, t._2))

  for (portable <- Seq(true, false); grouped <- Seq(false, true)) {
    val name = s"portable=$portable, ${if (grouped) "grouped" else "ungrouped"}"

    test(s"Kmeans.train ($name): an emptied centroid carries, k rows per group") {
      val pts = duplicated(grouped)
      val got = rows(Kmeans.train(pts, K, iters = 3, portable))
      val nGroups = if (grouped) 2 else 1
      assert(got.size == nGroups * K, s"exactly k rows per group: $got")
      got.groupBy(_._1).foreach { case (g, cs) =>
        assert(cs.map(_._2) == (0 until K), s"group $g cids: $cs")
        assert(cs.map(_._3).toSet ==
          Set(Seq.fill(4)(g.toFloat), Seq.fill(4)(10f + g)),
          s"group $g centroids must sit on its two locations: $cs")
      }
    }

    if (portable) test(s"Kmeans.train ($name): output identical under repartition(7)") {
      val pts = gaussian(grouped)
      assert(rows(Kmeans.train(pts, K, iters = 4, portable)) ==
        rows(Kmeans.train(pts.repartition(7), K, iters = 4, portable)))
    }

    test(s"Kmeans.round ($name): codegen argmin, one Exchange, no join") {
      val pts = gaussian(grouped)
      val round = Kmeans.round(pts, Kmeans.init(pts, K, portable), portable)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = try round.queryExecution.executedPlan
        finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val p = plan.toString
      assert(p.contains("nearest_centroid_idx"), s"argmin must be the codegen expression:\n$p")
      assert(plan.collect { case e: Exchange => e }.size == 1,
        s"a round is exactly one Exchange:\n$p")
      assert(!p.contains("Join") &&
        plan.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"a round has no join and no broadcast:\n$p")
      assert(round.collect().nonEmpty)
    }
  }

  /** The windowed n-nearest probe as each IVF search, the graph router
    * and the blocked pairs wrote it out before [[Kmeans.probe]]: the
    * reference its rows must equal. */
  private def windowedProbe(q: DataFrame, cent: DataFrame, n: Int): DataFrame =
    q.join(broadcast(cent))
      .withColumn("cd", Distances.euclidean(col("qv"), col("cvec")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cd"), col("cid"))))
      .filter(col("pr") <= n)
      .select(col("qid"), col("qv"), col("cid"))

  private def probeRows(df: DataFrame): Seq[(Long, Int, Seq[Float])] =
    df.select(col("qid"), col("cid"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).toSeq
      .sortBy(t => (t._1, t._2))

  for (n <- 1 to 3)
    test(s"Kmeans.probe: n = $n returns the windowed probe's exact rows at sf0.001") {
      val emb = graft.Tables.load(spark, sf0001, "embeddings")
      val cent = Kmeans.centroids(emb, 8, 3, portable = true)
      val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val got = probeRows(Kmeans.probe(q, cent, n))
      assert(got.size == emb.count() * n, "n rows per query")
      assert(got == probeRows(windowedProbe(q, cent, n)))
    }

  test("Kmeans.probe and Kmeans.assign: equidistant centroids go to the lower cid") {
    import spark.implicits._
    // the query sits exactly halfway between cids 5 and 2; cid 9 is far
    val cent = Seq((5, Seq(1f, 0f)), (9, Seq(0f, 3f)), (2, Seq(-1f, 0f)))
      .toDF("cid", "cvec")
    val q = Seq((7L, Seq(0f, 0f))).toDF("qid", "qv")
    assert(probeRows(Kmeans.probe(q, cent, 1)).map(_._2) == Seq(2))
    assert(probeRows(Kmeans.probe(q, cent, 2)).map(_._2) == Seq(2, 5))
    assert(probeRows(windowedProbe(q, cent, 1)).map(_._2) == Seq(2))
    val assigned = Kmeans.assign(q.toDF("vec_id", "embedding"), cent)
      .select(col("cid")).as[Int].collect().toSeq
    assert(assigned == Seq(2))
  }
}
