package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scale runner at toy size: every declared point runs, returns
  * exactly its declared keys and passes its in-run requires. */
class ScaleSpec extends SparkSpec {

  /** Toy arguments per point: mixture points at a few thousand
    * vectors, text points on sf0.001 with a small nDerived. */
  private val toyArgs: Map[String, Seq[String]] = Map(
    "mrdf" -> Seq("counts=600,1200", "mode=default:alpha=400"),
    "graph_search" -> Seq("n=2000", "seedsPerList=8", "sampleMod=2"),
    "graph_index" -> Seq("n=2000"),
    "graph_upsert" -> Seq("n=2000", "deltaPct=5"),
    "patch_decay" -> Seq("n=2000"),
    "stream_graph_ingest" -> Seq("n=2000"),
    "exact_substr" -> Seq(s"sf=$sf0001", "nDerived=200"),
    "stream_substr" -> Seq(s"sf=$sf0001", "nDerived=200"),
    "stream_selfdedup" -> Seq(s"sf=$sf0001", "nDerived=200"))

  private def recalls(v: Any): Seq[Double] = v match {
    case d: Double => Seq(d)
    case Some(d: Double) => Seq(d)
    case s: Seq[_] => s.flatMap(recalls)
    case _ => Nil
  }

  test("every declared scale point has toy arguments") {
    assert(toyArgs.keySet == Scale.points.map(_.name).toSet)
    assert(Scale.points.map(_.name).distinct.size == Scale.points.size)
  }

  Scale.points.foreach { p =>
    test(s"scale point ${p.name} runs at toy size and returns its declared keys") {
      val row = Scale.run(spark, p, Scale.parseArgs(p, toyArgs(p.name)))
      assert(row.map(_._1) == Seq("point", "git_sha", "args") ++ p.keys)
      val m = row.toMap
      assert(m("point") == p.name)
      p.keys.filter(_.contains("recall")).foreach { k =>
        val rs = recalls(m(k))
        assert(rs.nonEmpty && rs.forall(r => r > 0.5 && r <= 1.0), s"$k = ${m(k)}")
      }
      p.name match {
        case "stream_selfdedup" =>
          assert(m("missing") == 0L && m("extra") == 0L)
          assert(m("streamed_spans") == m("batch_spans"))
        case "stream_substr" =>
          assert(m("streamed_spans") == m("batch_cross_spans"))
        case "stream_graph_ingest" =>
          assert(m("batch_sec").asInstanceOf[Seq[_]].size == 3)
        case "patch_decay" =>
          assert(m("corpus") == Seq(2040L, 2080L, 2120L, 2160L, 2200L))
        case "mrdf" =>
          assert(m("n") == Seq(600, 1200) && m("edges") == Seq(18000L, 36000L))
        case _ => ()
      }
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Scale.json(row))
      assert(parsed.get("point").asText == p.name)
      assert(parsed.get("args").size == p.params.size)
    }
  }

  test("recallAt: 1.0 for the exact graph, (k-1)/k with one neighbour dropped per query") {
    val k = 5
    val corpus = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val queries = corpus.filter(col("vec_id") % 7 === 0).localCheckpoint()
    val exact = org.apache.spark.sql.graft.TopKJoin.knn(queries, corpus, k)
      .localCheckpoint()
    assert(Scale.recallAt(exact.select(col("id"), col("nbr")), queries, corpus, k) == 1.0)
    val dropped = exact
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("dist"), col("nbr"))))
      .filter(col("rn") =!= 1)
      .select(col("id"), col("nbr"))
    assert(Scale.recallAt(dropped, queries, corpus, k) == (k - 1).toDouble / k)
    // rows of ids outside `queries` do not count
    val extra = corpus.filter(col("vec_id") % 7 === 1)
      .select(col("vec_id").as("id"), col("vec_id").as("nbr"))
    assert(Scale.recallAt(dropped.unionByName(extra), queries, corpus, k) ==
      (k - 1).toDouble / k)
  }

  test("an unknown key or point is rejected with the valid names") {
    val e = intercept[IllegalArgumentException](
      Scale.parseArgs(Scale.byName("graph_search"), Seq("n=2000", "beam=4")))
    assert(e.getMessage.contains("beam") &&
      e.getMessage.contains("n, seedsPerList, sampleMod"))
    intercept[IllegalArgumentException](
      Scale.parseArgs(Scale.byName("mrdf"), Seq("counts")))
    val u = intercept[IllegalArgumentException](Scale.main(Array("nope")))
    assert(Scale.points.forall(p => u.getMessage.contains(p.name)))
    assert(Scale.parseArgs(Scale.byName("graph_upsert"), Nil) ==
      Map("n" -> "200000", "deltaPct" -> "5"))
  }
}
