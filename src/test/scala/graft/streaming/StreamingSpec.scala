package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Drives the Structured Streaming pipelines end-to-end with a file
  * source fed from the events testdata (SURVEY.md §2.11). */
class StreamingSpec extends SparkSpec {

  private def eventsBatch() = {
    Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  test("streaming tumbling counts match the batch plan") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val stream = StreamingPipelines.readEventsStream(spark, src)
    val q = StreamingPipelines.tumblingCounts(stream)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // watermark holds back open windows in append mode; compare the
    // closed prefix against the batch result
    // Compare window starts as strings, not Timestamp objects: the
    // collected class (java.sql.Timestamp vs java.time.LocalDateTime)
    // depends on the timestamp type (NTZ parquet) and the session's
    // java8 datetime API flag, which another suite sharing the JVM may
    // have flipped; NTZ also refuses a bigint cast.
    val got = spark.table("tumbling")
      .select(col("w_start").cast("string"), col("event_type"), col("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val all = StreamingPipelines.tumblingCounts(eventsBatch())
      .select(col("w_start").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "streaming produced no closed windows")
    assert(got.subsetOf(all), "streaming window disagrees with batch")
  }

  test("streaming dedup emits one row per (user, event_type)") {
    val src = Files.createTempDirectory("graft-stream-dedup").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.dedupStream(
        StreamingPipelines.readEventsStream(spark, src))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("dedup")
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.distinct.length, "duplicates survived")
    val expected = eventsBatch().select(col("user_id"), col("event_type"))
      .distinct().count()
    assert(got.length == expected)
  }

  test("stream-stream interval join matches the batch interval join") {
    val src = Files.createTempDirectory("graft-stream-ssj").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.purchaseClickJoin(
        StreamingPipelines.readEventsStream(spark, src))
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.table("ssjoin").select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingPipelines.purchaseClickJoin(eventsBatch())
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, s"missing=${(batch -- got).size} extra=${(got -- batch).size}")
    assert(batch.nonEmpty)
  }

  test("foreachBatch sink: batch-wise parquet writes equal the input") {
    val src = Files.createTempDirectory("graft-stream-feb-src").toString
    val out = Files.createTempDirectory("graft-stream-feb-out").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.readEventsStream(spark, src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$out/data")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data").select(col("event_id"))
      .collect().map(_.getLong(0)).sorted
    val want = eventsBatch().select(col("event_id"))
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("streaming curation keeps the same content set as the batch gate") {
    val src = Files.createTempDirectory("graft-stream-curate").toString
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        // deterministic ingest time: one doc per second
        timestamp_seconds(lit(1600000000L) + col("doc_id")).as("ingest_ts"))
    docs.select(col("doc_id"), col("lang"), col("text"), col("ingest_ts"))
      .write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.curateStream(
        StreamingPipelines.readDocsStream(spark, src))
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("curated").collect()
    // one survivor per distinct content...
    assert(got.map(_.getLong(4)).distinct.length == got.length,
      "duplicate content survived streaming dedup")
    // ...and the kept CONTENT set equals the batch gate's (ids may
    // differ: first-seen vs min-id — the documented semantic delta)
    val batch = graft.text.CorpusPipeline.curate(docs).collect()
    assert(got.length == batch.length,
      s"streaming kept ${got.length} docs, batch kept ${batch.length}")
    val gotTokens = got.map(r => (r.getInt(2), r.getLong(3))).sorted.toSeq
    val batchTokens = batch.map(r => (r.getInt(3), r.getLong(5))).sorted.toSeq
    assert(gotTokens == batchTokens,
      "per-doc (n_words, est_tokens) multiset must match the batch gate")
  }

  test("streaming decontamination flags exactly the batch-contaminated docs") {
    val src = Files.createTempDirectory("graft-stream-decon").toString
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        timestamp_seconds(lit(1600000000L) + col("doc_id")).as("ingest_ts"))
    docs.write.mode("overwrite").parquet(src)
    // static benchmark side: the held-out slice's distinct hashed
    // 5-grams (q55's convention), from the batch table
    val bench = graft.text.TextQueries
      .hashedWordShingles(docs.filter(col("doc_id") % 10 === 0), 5)
      .select(col("shingle")).distinct()
    val stream = StreamingPipelines.readDocsStream(spark, src)
      .filter(col("doc_id") % 10 =!= 0)
    val q = StreamingPipelines.decontaminateStream(stream, bench)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("decon").collect().map(_.getLong(0)).toSet
    val batch = graft.text.CurationQueries.contamination(docs).collect()
      .filter(_.getLong(2) > 0L).map(_.getLong(0)).toSet
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    assert(batch.nonEmpty, "fixture has no contaminated docs — test is vacuous")
  }

  test("streaming incremental dedup matches the batch pair set") {
    import graft.text.TextQueries
    val src = Files.createTempDirectory("graft-stream-incdedup").toString
    val all = Tables.load(spark, sf0001, "documents")
    val corpus = all.filter(col("doc_id") % 10 =!= 9)
    val arriving = all.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("lang"), col("text"),
        timestamp_seconds(lit(1600000000L) + col("doc_id")).as("ingest_ts"))
    // sentinel far in the future closes every real window at the
    // watermark (append mode holds open windows back); three words
    // but colliding with nothing (no letters shared with the corpus)
    val sentinel = spark.sql(
      """SELECT CAST(-1 AS BIGINT) AS doc_id, 'en' AS lang,
        |'zz1 zz2 zz3' AS text,
        |timestamp_seconds(1700000000) AS ingest_ts""".stripMargin)
    arriving.unionByName(sentinel).write.mode("overwrite").parquet(src)
    val posting = TextQueries.cappedPostingLists(corpus)
    val sizes = TextQueries.postingDocSizes(posting)
    val q = StreamingPipelines.incrementalDedupStream(
        StreamingPipelines.readDocsStream(spark, src), posting, sizes, 0.1)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.table("incdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch mirror with identical size semantics: arriving size = own
    // distinct shingle count, corpus size = capped posting size
    val arrSh = TextQueries.hashedWordShingles(arriving)
    val arrSizes = arrSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val batch = arrSh
      .join(posting, Seq("shingle"))
      .select(col("doc_id"), explode(col("ds")).as("d_old"))
      .groupBy(col("doc_id"), col("d_old")).agg(count(lit(1)).as("inter"))
      .join(arrSizes, Seq("doc_id"))
      .join(sizes.withColumnRenamed("doc_id", "d_old"), Seq("d_old"))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("n_sh") + col("sz") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= 0.1)
      .select(col("doc_id"), col("d_old"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture has no incremental near-dups — vacuous")
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("flatMapGroupsWithState sessionization closes sessions at the gap") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-stream-sess").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val stream = StreamingPipelines.readEventsStream(spark, src)
      .as[StreamingPipelines.Event]
    val q = StreamingPipelines.sessionizeStream(stream)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // ProcessingTimeTimeout makes AvailableNow keep scheduling batches
    // to fire timeouts — the query can outlive the await window. Stop
    // it unconditionally so no orphan query runs into later suites.
    try q.awaitTermination(120000)
    finally q.stop()
    val got = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch gaps-and-islands reference: all but each user's last session
    // (streaming cannot close the final session without more input)
    val batch = TimeWindows.sessionize(eventsBatch()).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty, "no sessions closed")
    assert(got.subsetOf(batch),
      s"streaming sessions must agree with batch; extras: ${(got -- batch).take(3)}")
  }

  test("append-mode window closure is exact at the watermark boundary") {
    import spark.implicits._
    // Planted boundary: max ts = 12:00:00, watermark delay 2h ⇒ final
    // watermark 10:00:00. The [09:00,10:00) window's END lands exactly
    // ON the watermark — q168's oracle rule says w_end ≤ wm is emitted
    // (closed), and [10:00,11:00) (end 11:00 > wm) is not. This pins
    // the <= convention the 3-SF oracle runs rely on against Spark
    // version changes.
    def ev(id: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(t), id, "click", 1.0)
    val rows = Seq(
      ev(1, "2024-01-01 09:30:00"), // in the boundary window
      ev(2, "2024-01-01 10:30:00"), // open: end 11:00 > wm
      ev(3, "2024-01-01 12:00:00")) // the watermark driver
    val src = Files.createTempDirectory("graft-stream-boundary").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.tumblingCounts(
        StreamingPipelines.readEventsStream(spark, src))
      .writeStream.format("memory").queryName("boundary")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    val got = spark.table("boundary")
      .select(col("w_start").cast("string")).collect().map(_.getString(0)).toSet
    assert(got.exists(_.startsWith("2024-01-01 09:00")),
      s"window ending exactly at the watermark must close (got $got)")
    assert(!got.exists(_.startsWith("2024-01-01 10:00")),
      s"window ending past the watermark must stay open (got $got)")
    assert(!got.exists(_.startsWith("2024-01-01 12:00")), s"got $got")
  }

  test("event-time session timeout fires on STRICT < at the watermark boundary") {
    import spark.implicits._
    // Planted boundary: clock event at 12:00:00, delay 2h ⇒ final
    // watermark 10:00:00.000. user 1's idle timer = 09:30:00 + 30min =
    // 10:00:00.000 — exactly ON the watermark — and must NOT flush
    // (Spark fires event-time timeouts on timeoutTimestamp < watermark,
    // strictly). user 2's timer = 09:59:59.000 < wm and must flush.
    // This pins the strict `<` that q193's oracle states; a Spark
    // version changing the comparison fails HERE, not silently at the
    // driver gate.
    def ev(id: Long, user: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(t), user, "click", 1.0)
    val rows = Seq(
      ev(1, 1L, "2024-01-01 09:30:00"),
      ev(2, 2L, "2024-01-01 09:29:59"),
      ev(3, 99L, "2024-01-01 12:00:00")) // the watermark driver
    val src = Files.createTempDirectory("graft-stream-sess-boundary").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.sessionizeEventTime(
        StreamingPipelines.readEventsStream(spark, src)
          .as[StreamingPipelines.Event])
      .writeStream.format("memory").queryName("sess_boundary")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    val got = spark.table("sess_boundary").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // (user_id, n_events)
    assert(got == Set((2L, 1L)),
      s"expected exactly user 2's session to flush (timer strictly below wm); got $got")
  }

  test("two-batch event-time sessionization equals the batch emission rule") {
    val got = StreamingPipelines.sessionizeAvailableNow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // Independent batch mirror of the q193 oracle: gaps-and-islands on
    // second-truncated event times, non-final sessions always emitted,
    // final session emitted iff (end+gap)·1000 < max-event-ms − 2h.
    val e = eventsBatch().selectExpr("user_id", "ts", "event_id",
      "unix_micros(ts) div 1000000 as sec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wmMs = eventsBatch()
      .selectExpr("max(unix_micros(ts)) div 1000 - 7200000").head().getLong(0)
    val sess = e
      .withColumn("brk", when(lag(col("sec"), 1).over(w).isNull
        || col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
    val lastSid = sess.groupBy(col("user_id")).agg(max(col("sid")).as("mx"))
    val expected = sess.join(lastSid, Seq("user_id"))
      .filter(col("sid") < col("mx")
        || (col("end_sec") + 1800L) * 1000L < lit(wmMs))
      .select(col("user_id"), col("n_events"), col("start_sec"), col("end_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && expected.nonEmpty, "vacuous fixture")
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("native session_window closure boundary at the watermark is pinned") {
    import spark.implicits._
    // Clock event at 12:00:00, delay 2h ⇒ final watermark 10:00:00.
    // user 1's session end = 09:30:00 + 30min = 10:00:00.000 exactly ON
    // the watermark; user 2's end = 09:59:59 strictly below; user 3's
    // end = 10:00:01 above (must stay open). Pins the closure
    // comparison q194's oracle states.
    def ev(id: Long, user: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(t), user, "click", 1.0)
    val rows = Seq(
      ev(1, 1L, "2024-01-01 09:30:00"),
      ev(2, 2L, "2024-01-01 09:29:59"),
      ev(3, 3L, "2024-01-01 09:30:01"),
      ev(4, 99L, "2024-01-01 12:00:00"))
    val src = Files.createTempDirectory("graft-stream-snat-boundary").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val q = StreamingPipelines.readEventsStream(spark, src)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"))
      .writeStream.format("memory").queryName("snat_boundary")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    val got = spark.table("snat_boundary").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L),
      s"expected sessions ending AT or below the watermark to close (<= rule); got $got")
  }

  test("two-batch native session_window equals the batch closed-session rule") {
    val got = StreamingPipelines.sessionNativeAvailableNow(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch mirror: q23b sessions restricted to end_us <= wm_us
    val wmUs = (eventsBatch()
      .selectExpr("max(unix_micros(ts)) div 1000 - 7200000").head().getLong(0)) * 1000L
    val e = eventsBatch().selectExpr("user_id", "ts", "event_id",
      "unix_micros(ts) as us")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val expected = e
      .withColumn("brk", when(lag(col("us"), 1).over(w).isNull
        || col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"),
        (max(col("us")) + 1800000000L).as("end_us"))
      .filter(col("end_us") <= lit(wmUs))
      .select(date_format((col("start_us") / 1e6).cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_start"),
        col("user_id"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && expected.nonEmpty, "vacuous fixture")
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("streaming semi join emits each matched purchase exactly once") {
    val got = StreamingPipelines.semiJoinAvailableNow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the same plan on the batch frame (withWatermark is a no-op there)
    val expected = StreamingPipelines.purchaseClickSemiJoin(eventsBatch())
      .select(col("p_id"), col("p_user"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "no semi matches — vacuous")
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("streaming EWMA state equals the batch ordered fold") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-stream-ewma").toString
    eventsBatch().write.mode("overwrite").parquet(src)
    val stream = StreamingPipelines.readEventsStream(spark, src)
      .as[StreamingPipelines.Event]
    val q = StreamingPipelines.ewmaStream(stream)
      .writeStream.format("memory").queryName("ewma")
      .outputMode("update").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    // last update per user (the row with that user's max n_events)
    val got = spark.table("ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet
    val batch = graft.relational.TimeSeries.ewmaByUser(eventsBatch()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
  }
}
