package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IoSpecs extends SparkSpec {

  /** Runs `f` with SQL confs set, restoring the previous values. */
  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Splits of at most `bytes` each: Spark's file-split rule caps every
    * split at `spark.sql.files.maxPartitionBytes`. */
  private def withMaxSplit[T](bytes: Long)(f: => T): T =
    withConf("spark.sql.files.maxPartitionBytes" -> bytes.toString)(f)

  test("graph text format round-trips the reference's (id, [nbrs]) lines") {
    import spark.implicits._
    val adj = Seq((0L, Seq(1L, 2L)), (1L, Seq(0L)), (2L, Seq.empty[Long]))
      .toDF("id", "nbrs")
    val lines = GraphText.format(adj).as[String].collect()
    assert(lines.toSeq == Seq("(0, [1, 2])", "(1, [0])", "(2, [])"))
    val dir = Files.createTempDirectory("graft-graphtext").toString
    GraphText.write(adj, dir)
    val back = GraphText.read(spark, dir).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    assert(back.toSeq == Seq((0L, Seq(1L, 2L)), (1L, Seq(0L)), (2L, Seq())))
  }

  test("csv and json sources round-trip the orders table (§2.1)") {
    val orders = graft.Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    val base = Files.createTempDirectory("graft-io").toString
    orders.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    orders.write.mode("overwrite").json(s"$base/json")
    val fromCsv = spark.read.option("header", "true")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
      .csv(s"$base/csv")
    val fromJson = spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
      .json(s"$base/json")
    val want = orders.orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq
    assert(fromCsv.orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq == want)
    assert(fromJson.orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq == want)
  }

  test("orc source round-trips (§2.1)") {
    val orders = graft.Tables.load(spark, sf0001, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val dir = Files.createTempDirectory("graft-orc").toString
    orders.write.mode("overwrite").orc(dir)
    assert(spark.read.orc(dir).orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq
      == orders.orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq)
  }

  test("asofJoin: hand-checked semantics incl. equal-ts and no-match rows") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, 10L, ts(100)), (1L, 11L, ts(200)), (2L, 20L, ts(50)))
      .toDF("k", "lid", "lts")
    val right = Seq((1L, ts(100), "a"), (1L, ts(150), "b"), (2L, ts(60), "c"))
      .toDF("k", "rts", "v")
    val out = graft.relational.AsOfJoin
      .asofJoin(left, right, "k", "lts", "rts", Seq("v"))
      .select(col("lid"), col("asof_v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "a", "equal-ts right row must match (<= semantics)")
    assert(out(11L) == "b", "latest prior row wins")
    assert(out(20L) == null, "no prior row → null")
  }

  test("partitioned parquet sink: lang partitions + partition pruning") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val dir = Files.createTempDirectory("graft-part").toString
    graft.text.CorpusPipeline.curate(docs)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.select("lang").distinct().count() >= 3)
    val pruned = back.filter(col("lang") === "en")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") || pruned.count() > 0)
    // pruning must actually reduce the files read
    val explain = pruned.queryExecution.toString
    assert(explain.contains("lang"), "partition column must appear in plan")
  }

  test("fvecs codec round-trips arbitrary vectors (property)") {
    val gen = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val vecs = (0 until 1 + gen.nextInt(40)).map { _ =>
        Array.fill(1 + gen.nextInt(64))(
          java.lang.Float.intBitsToFloat(gen.nextInt()) match {
            case f if f.isNaN => 0f // NaN != NaN would fail sameElements
            case f => f
          })
      }
      val back = Fvecs.decodeFvecs(Fvecs.encodeFvecs(vecs))
      assert(back.length == vecs.length)
      back.foreach { case (id, v) => assert(v.sameElements(vecs(id.toInt))) }
    }
  }

  test("bvecs codec round-trips uint8 vectors, promotes to float, truncates, rejects oob") {
    val gen = new scala.util.Random(13)
    val vecs = (0 until 30).map(_ => Array.fill(1 + gen.nextInt(32))(gen.nextInt(256)))
    val back = Fvecs.decodeBvecs(Fvecs.encodeBvecs(vecs))
    assert(back.length == vecs.length)
    back.foreach { case (id, v) =>
      assert(v.sameElements(vecs(id.toInt).map(_.toFloat)))
    }
    // inputMax truncates by record count
    assert(Fvecs.decodeBvecs(Fvecs.encodeBvecs(vecs), inputMax = 7).length == 7)
    // components outside uint8 are a loud error, not silent wrap
    intercept[IllegalArgumentException] {
      Fvecs.encodeBvecs(Seq(Array(256)))
    }
    // truncated payload is a loud error
    intercept[IllegalArgumentException] {
      Fvecs.decodeBvecs(Fvecs.encodeBvecs(vecs).dropRight(1))
    }
  }

  test("distributed fvecs read equals the driver codec, ids intact") {
    val rnd = new scala.util.Random(11)
    val dim = 24
    val vecs = (0 until 5000).map(_ => Array.fill(dim)(rnd.nextFloat()))
    val f = Files.createTempFile("graft-dist", ".fvecs").toString
    Fvecs.writeFvecsFile(f, vecs)
    // splits small enough to force many record-aligned chunks
    withMaxSplit(16L * (4 + 4 * dim)) {
      val ds = Fvecs.readAuto(spark, f)
      assert(ds.rdd.getNumPartitions > 1)
      val dist = ds.collect().sortBy(_._1)
      assert(dist.length == 5000)
      dist.foreach { case (id, v) => assert(v.sameElements(vecs(id.toInt)), s"id $id") }
      // inputMax caps records, same convention as the driver codec
      val capped = Fvecs.readAuto(spark, f, inputMax = 37).collect().sortBy(_._1)
      assert(capped.length == 37)
      capped.foreach { case (id, v) => assert(v.sameElements(vecs(id.toInt)), s"id $id") }
    }
    // variable-dim files are rejected by the scan; readAuto falls back
    // to the driver codec
    val vf = Files.createTempFile("graft-vardim", ".fvecs").toString
    Fvecs.writeFvecsFile(vf, Seq(Array.fill(8)(1f), Array.fill(9)(2f)))
    intercept[IllegalArgumentException](
      v2.VecsKind.Fvecs.probe(vf, spark.sparkContext.hadoopConfiguration))
    assert(Fvecs.readAuto(spark, vf).count() == 2)
  }

  test("fvecs DataSource V2: format read, limit + column pruning pushdown") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    val vecs = (0 until 3000).map(_ => Array.fill(dim)(rnd.nextFloat()))
    val f = Files.createTempFile("graft-dsv2", ".fvecs").toString
    Fvecs.writeFvecsFile(f, vecs)
    val stride = 4 + 4 * dim
    withMaxSplit(100L * stride) {
      val df = spark.read.format("fvecs").load(f)
      // full read equals the driver codec, ids intact
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == 3000)
      rows.foreach { r =>
        assert(r.getSeq[Float](1).toArray.sameElements(vecs(r.getLong(0).toInt)))
      }
      // limit pushdown: the scan plans only the partitions the limit needs
      val limited = df.limit(150)
      val scanDesc = limited.queryExecution.executedPlan.toString
      assert(scanDesc.contains("limit=150"), s"limit not pushed:\n$scanDesc")
      assert(limited.count() == 150)
      // column pruning: id-only projection decodes no vectors (zero file
      // IO per the reader contract) and still yields every id
      val ids = df.select("id")
      assert(ids.queryExecution.executedPlan.toString.contains("columns=id"))
      assert(ids.collect().map(_.getLong(0)).sorted.toSeq == (0L until 3000L))
      // multi-chunk partitioning is record-aligned: no id dup/loss at
      // chunk boundaries (3000 recs / 100-rec chunks = 30 partitions)
      assert(df.rdd.getNumPartitions == 30)
    }
  }

  test("distributed bvecs read equals the driver codec (uint8→float), ids intact") {
    val rnd = new scala.util.Random(31)
    val dim = 20
    val vecs = (0 until 4000).map(_ => Array.fill(dim)(rnd.nextInt(256)))
    val f = Files.createTempFile("graft-dist", ".bvecs").toString
    Fvecs.writeBvecsFile(f, vecs)
    // splits small enough to force many record-aligned chunks
    // (stride = 4 + dim for uint8 components, NOT 4 + 4·dim)
    withMaxSplit(16L * (4 + dim)) {
      // readAuto sniffs the extension: .bvecs scans as uint8
      val ds = Fvecs.readAuto(spark, f)
      assert(ds.rdd.getNumPartitions > 1)
      val dist = ds.collect().sortBy(_._1)
      assert(dist.length == 4000)
      dist.foreach { case (id, v) =>
        assert(v.sameElements(vecs(id.toInt).map(_.toFloat)), s"id $id")
      }
      // inputMax caps records, same convention as the driver codec
      assert(Fvecs.readAuto(spark, f, inputMax = 23).count() == 23)
    }
    // one default-sized split, same rows
    val auto = Fvecs.readAuto(spark, f).collect().sortBy(_._1)
    assert(auto.length == 4000)
    auto.foreach { case (id, v) =>
      assert(v.sameElements(vecs(id.toInt).map(_.toFloat)))
    }
  }

  test("bvecs DataSource V2: format read, limit + column pruning pushdown") {
    val rnd = new scala.util.Random(37)
    val dim = 12
    val vecs = (0 until 2000).map(_ => Array.fill(dim)(rnd.nextInt(256)))
    val f = Files.createTempFile("graft-dsv2", ".bvecs").toString
    Fvecs.writeBvecsFile(f, vecs)
    val stride = 4 + dim
    withMaxSplit(100L * stride) {
      val df = spark.read.format("bvecs").load(f)
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == 2000)
      rows.foreach { r =>
        assert(r.getSeq[Float](1).toArray
          .sameElements(vecs(r.getLong(0).toInt).map(_.toFloat)))
      }
      // same pushdown contract as the fvecs source
      val limited = df.limit(150)
      assert(limited.queryExecution.executedPlan.toString.contains("limit=150"))
      assert(limited.count() == 150)
      val ids = df.select("id")
      assert(ids.queryExecution.executedPlan.toString.contains("columns=id"))
      assert(ids.collect().map(_.getLong(0)).sorted.toSeq == (0L until 2000L))
      // record-aligned partitioning at the uint8 stride
      assert(df.rdd.getNumPartitions == 20)
    }
  }

  test("distributed ivecs read equals the driver codec, k-truncation intact") {
    val rnd = new scala.util.Random(41)
    val dim = 10
    val vecs = (0 until 3000).map(_ => Array.fill(dim)(rnd.nextInt()))
    val f = Files.createTempFile("graft-dist", ".ivecs").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f), Fvecs.encodeIvecs(vecs))
    // splits small enough to force many record-aligned chunks
    withMaxSplit(16L * (4 + 4 * dim)) {
      val ds = Fvecs.readAutoIvecs(spark, f)
      assert(ds.rdd.getNumPartitions > 1)
      val dist = ds.collect().sortBy(_._1)
      assert(dist.length == 3000)
      dist.foreach { case (id, v) => assert(v.sameElements(vecs(id.toInt)), s"id $id") }
      // ground-truth k-truncation, same convention as decodeIvecs
      val k3 = Fvecs.readAutoIvecs(spark, f, k = 3).collect().sortBy(_._1)
      assert(k3.length == 3000)
      k3.foreach { case (id, v) => assert(v.sameElements(vecs(id.toInt).take(3))) }
      // inputMax caps records
      assert(Fvecs.readAutoIvecs(spark, f, inputMax = 19).count() == 19)
    }
    // variable-dim ground truth falls back to the driver codec, k intact
    val vf = Files.createTempFile("graft-vardim", ".ivecs").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(vf),
      Fvecs.encodeIvecs(Seq(Array(1, 2, 3, 4), Array(5, 6, 7))))
    assert(Fvecs.readAutoIvecs(spark, vf, k = 3).collect().sortBy(_._1)
      .map(_._2.toSeq).toSeq == Seq(Seq(1, 2, 3), Seq(5, 6, 7)))
  }

  test("readAuto mis-extension tripwires: .ivecs never decodes as floats, and vice versa") {
    val f = Files.createTempFile("graft-trip", ".ivecs").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      Fvecs.encodeIvecs(Seq(Array(1, 2, 3))))
    val e = intercept[IllegalArgumentException](Fvecs.readAuto(spark, f))
    assert(e.getMessage.contains("readAutoIvecs"), e.getMessage)
    val g = Files.createTempFile("graft-trip", ".fvecs").toString
    Fvecs.writeFvecsFile(g, Seq(Array(1f, 2f)))
    val e2 = intercept[IllegalArgumentException](Fvecs.readAutoIvecs(spark, g))
    assert(e2.getMessage.contains("readAuto"), e2.getMessage)
    val b = Files.createTempFile("graft-trip", ".bvecs").toString
    Fvecs.writeBvecsFile(b, Seq(Array(1, 2)))
    intercept[IllegalArgumentException](Fvecs.readAutoIvecs(spark, b))
  }

  test("ivecs DataSource V2: format read, limit + column pruning pushdown") {
    val rnd = new scala.util.Random(43)
    val dim = 8
    val vecs = (0 until 2000).map(_ => Array.fill(dim)(rnd.nextInt()))
    val f = Files.createTempFile("graft-dsv2", ".ivecs").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(f), Fvecs.encodeIvecs(vecs))
    val stride = 4 + 4 * dim
    withMaxSplit(100L * stride) {
      val df = spark.read.format("ivecs").load(f)
      // int-element schema, full read equals the driver codec
      assert(df.schema("vec").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false))
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == 2000)
      rows.foreach { r =>
        assert(r.getSeq[Int](1).toArray.sameElements(vecs(r.getLong(0).toInt)))
      }
      // same pushdown contract as the fvecs/bvecs sources
      val limited = df.limit(150)
      assert(limited.queryExecution.executedPlan.toString.contains("limit=150"))
      assert(limited.count() == 150)
      val ids = df.select("id")
      assert(ids.queryExecution.executedPlan.toString.contains("columns=id"))
      assert(ids.collect().map(_.getLong(0)).sorted.toSeq == (0L until 2000L))
      // record-aligned partitioning at the int32 stride
      assert(df.rdd.getNumPartitions == 20)
    }
  }

  test("readAuto plans the v2 scan at any size: no LocalTableScan, one split per core") {
    val dim = 8
    val f = Files.createTempFile("graft-scan", ".fvecs").toString
    Fvecs.writeFvecsFile(f, Seq.tabulate(50)(i => Array.fill(dim)(i.toFloat)))
    val b = Files.createTempFile("graft-scan", ".bvecs").toString
    Fvecs.writeBvecsFile(b, Seq.tabulate(50)(i => Array.fill(dim)(i)))
    for (path <- Seq(f, b)) {
      val plan = Fvecs.readAuto(spark, path).toDF("vec_id", "embedding")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BatchScan"), s"$path:\n$plan")
      assert(!plan.contains("LocalTableScan"), s"$path:\n$plan")
    }
    // N cores × 1 MiB: Spark's split rule plans one split per core
    val cores = spark.sparkContext.defaultParallelism
    val stride = 4 + 4 * 64
    val recs = (cores.toLong << 20) / stride
    val big = Files.createTempFile("graft-scan-big", ".fvecs").toString
    FvecsGen.write(big, recs, 64, seed = 5L, clusters = 0)
    withConf("spark.sql.files.openCostInBytes" -> (64L << 10).toString) {
      val ds = Fvecs.readAuto(spark, big)
      assert(ds.rdd.getNumPartitions >= cores,
        s"${ds.rdd.getNumPartitions} splits for $cores cores")
      assert(ds.count() == recs)
    }
    new java.io.File(big).delete()
  }

  test("salted join equals plain join under key skew") {
    import spark.implicits._
    // 10k rows of one hot key + uniform tail, joined to a small dim
    val left = ((1 to 10000).map(i => (7L, i)) ++ (1 to 1000).map(i => (i.toLong % 50, i)))
      .toDF("k", "v")
    val right = (0L to 60L).map(k => (k, s"dim$k")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .select(col("k"), col("v"), col("name"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = graft.relational.SkewJoin.saltedJoin(left, right, "k", "rk", 8)
      .select(col("k"), col("v"), col("name"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.sameElements(plain))
  }

  test("GraftExtensions registers SQL functions") {
    import org.apache.spark.sql.graft._
    // the real extension on fresh SparkSessionExtensions; its functions
    // go into a new session's registry, so the shared session's stays as
    // it was and every name below resolves through the extension
    val session = spark.newSession()
    val (rules, strategies) = ExtensionsProbe(session, new graft.GraftExtensions())
    assert(rules == Seq(DistanceComparisonRewrite))
    assert(strategies == Seq(TopKJoinStrategy))
    val q = session.sql(
      """SELECT euclidean_distance(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       squared_euclidean(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS s,
        |       cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       dot_product(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |                   array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT))) AS p
        |""".stripMargin)
    val resolved = q.queryExecution.analyzed.expressions.flatMap(_.collect {
      case e @ (_: EuclideanDistance | _: SquaredEuclidean | _: CosineSimilarity |
          _: DotProduct) => e.prettyName
    })
    assert(resolved.toSet ==
      Set("euclidean_distance", "squared_euclidean", "cosine_similarity", "dot_product"))
    val r = q.collect()(0)
    assert(r.getDouble(0) === 5.0)
    assert(r.getDouble(1) === 25.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) === 23.0)
  }

}
