package graft.relational

import graft.SparkSpec

class DataQualitySpec extends SparkSpec {

  test("audit: testdata is clean — 7 constraints, zero violations, full counts") {
    val out = DataQuality.audit(spark, sf0001).collect()
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getLong(2) == 0L, s"${r.getString(0)} reported violations")
      assert(r.getLong(1) > 0L, s"${r.getString(0)} checked nothing")
    }
  }

  test("audit surfaces violations on a corrupted orders slice") {
    import org.apache.spark.sql.functions._
    // duplicate one order key and orphan one custkey, write to a temp
    // dir mirroring the table layout, then audit that dir
    val dir = java.nio.file.Files.createTempDirectory("graft-dq").toString
    val orders = graft.Tables.load(spark, sf0001, "orders")
    orders.unionByName(orders.limit(1))                       // dup PK
      .unionByName(orders.limit(1).withColumn("o_custkey", lit(999999L)))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    graft.Tables.load(spark, sf0001, "customer")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    graft.Tables.load(spark, sf0001, "lineitem")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = DataQuality.audit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("orders.o_orderkey unique") >= 1L)
    assert(got("orders.o_custkey in customer") == 1L)
    assert(got("lineitem.l_quantity > 0") == 0L)
  }

  test("merkleDiff: exactly the buckets touched by corruption/drop drift") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val dirty = ids.filter(id => id % 97 == 0 || id % 101 == 0)
      .map(_ % 64).toSet
    val got = DataQuality.merkleDiff(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    got.foreach { case (bucket, inSync) =>
      assert(inSync == !dirty(bucket),
        s"bucket $bucket: in_sync=$inSync but dirty=${dirty(bucket)}")
    }
    // count bookkeeping: dropped docs shrink n_b only
    val rows = DataQuality.merkleDiff(docs).collect()
    val droppedTotal = ids.count(_ % 101 == 0)
    assert(rows.map(_.getLong(1)).sum - rows.map(_.getLong(2)).sum == droppedTotal)
  }

  test("merkleDiff: hand case — corrupt and dropped ids flag their buckets") {
    import spark.implicits._
    // ids: 97 corrupt (bucket 1), 202 dropped (bucket 2), 5 clean (bucket 1)
    val docs = Seq((97L, "t97"), (202L, "t202"), (5L, "t5"), (8L, "t8"))
      .toDF("doc_id", "text")
    val got = DataQuality.merkleDiff(docs, buckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (0L, 1L, 1L, true),   // doc 8: untouched
      (1L, 2L, 2L, false),  // doc 97 corrupted: same counts, digest drift
      (2L, 1L, 0L, false))) // doc 202 dropped: count drift
  }
}
