package graft.knn

import graft.SparkSpec

class KCoreSpec extends SparkSpec {

  // directed edge list; mutual graph = pairs present in both directions
  private def run(k: Int, edges: Seq[(Long, Long)]): Map[Long, (Long, Boolean)] = {
    import spark.implicits._
    GraphAnalytics.kCore(edges.toDF("id", "nbr"), k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
  }

  private def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  test("triangle with a tail: triangle is the 2-core, tail is peeled") {
    val edges = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = run(2, edges)
    assert(got(1L) == ((2L, true)) && got(2L) == ((2L, true)))
    assert(got(3L)._2 == true && got(3L)._1 == 3L)
    // the tail peels: 5 first (deg 1), then 4
    assert(got(4L)._2 == false && got(5L)._2 == false)
  }

  test("3-core of a triangle is empty; one-way edges are not mutual") {
    val tri = sym((1L, 2L), (2L, 3L), (1L, 3L))
    assert(run(3, tri).values.forall(!_._2))
    // one-way edges only → mutual graph empty → nothing in any core
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val got = run(1, oneWay)
    assert(got.values.forall { case (deg, in) => deg == 0L && !in })
  }

  test("4-clique survives the 3-core peel intact") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = sym((for {
      a <- nodes; b <- nodes if a < b
    } yield (a, b)): _*)
    val got = run(3, edges)
    assert(got.values.forall { case (deg, in) => deg == 3L && in })
  }
}
