package graft.knn

import graft.SparkSpec

class GraphAnalyticsSpec extends SparkSpec {

  test("seedExpansion refuses a graph with no seed nodes, by name") {
    // round-9 advice: nSeeds = 0 used to surface as ArithmeticException
    // (1000000000L / 0) on the driver; the guard must name the seed rule
    import spark.implicits._
    val edges = Seq((1L, 3L, 0.5), (3L, 1L, 0.5))
      .toDF("id", "nbr", "dist")
    val e = intercept[IllegalArgumentException] {
      GraphAnalytics.seedExpansion(edges, seedMod = 20)
    }
    assert(e.getMessage.contains("no seed nodes") &&
      e.getMessage.contains("% 20"), e.getMessage)
  }
}
