package graft.relational

import graft.SparkSpec

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: Seq[(Long, Long, String)]) =
    rows.toDF("pk", "cents", "attr")

  test("added / removed / changed classified; unchanged dropped") {
    val v1 = snap(Seq((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, "c"),
      (4L, 400L, "d")))
    val v2 = snap(Seq((1L, 100L, "a"),   // unchanged → dropped
      (2L, 250L, "b"),                   // cents changed
      (3L, 300L, "z"),                   // attr changed
      (5L, 500L, "e")))                  // added; 4 removed
    val out = ChangeData.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("empty diff on identical snapshots") {
    val v = snap(Seq((1L, 1L, "x"), (2L, 2L, "y")))
    assert(ChangeData.snapshotDiff(v, v).isEmpty)
  }

  test("old/new cents carried on the diff rows") {
    val v1 = snap(Seq((7L, 700L, "p")))
    val v2 = snap(Seq((7L, 770L, "p")))
    val r = ChangeData.snapshotDiff(v1, v2).collect()(0)
    assert(r.getLong(2) == 700L && r.getLong(3) == 770L)
  }
}
