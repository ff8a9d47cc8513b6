package graft.knn

import graft.SparkSpec

class BfsLevelsSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(rows: Seq[(Long, Long)]) = rows.toDF("id", "nbr")

  test("chain from a single source gets increasing levels, tail unreached") {
    // 100 -> 1 -> 2 -> 3 -> 4 -> 5 -> 6 with maxHops 4: 5,6 unreached/beyond
    val e = edgesOf(Seq((100L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val out = GraphAnalytics.bfsLevels(e, sourceMod = 100L, maxHops = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out(100L) == 0 && out(1L) == 1 && out(2L) == 2
      && out(3L) == 3 && out(4L) == 4)
    assert(out(5L) == -1 && out(6L) == -1)
  }

  test("min level wins when reachable from two sources") {
    // 100 -> a -> b; 200 -> b directly: b is level 1, not 2
    val e = edgesOf(Seq((100L, 11L), (11L, 12L), (200L, 12L)))
    val out = GraphAnalytics.bfsLevels(e, 100L, 4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(12L) == 1)
  }

  test("directed edges: a node pointing AT a source is not level 1") {
    val e = edgesOf(Seq((7L, 100L), (100L, 8L)))
    val out = GraphAnalytics.bfsLevels(e, 100L, 4).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out(7L) == -1 && out(8L) == 1 && out(100L) == 0)
  }

  test("repartition invariance") {
    val rows = (0 until 300).map(i => (i.toLong, ((i * 17 + 3) % 300).toLong))
    val a = GraphAnalytics.bfsLevels(edgesOf(rows), 50L, 4).collect().toSeq
    val b = GraphAnalytics.bfsLevels(edgesOf(rows).repartition(13), 50L, 4)
      .collect().toSeq
    assert(a == b)
  }
}
