package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tuning}

/** Drives the multi-batch streaming paths with a hand-built two-file
  * source: state carried ACROSS a micro-batch boundary is what the
  * single-file replays can never exercise. */
class TwoBatchStreamSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Stage `rows` as N single-file arrivals split at `cuts` (time
    * boundaries, row goes to the first batch whose upper cut is
    * strictly above its ts), through the declared replays' harness. */
  private def filesSource(rows: Seq[(Long, Timestamp, Long, String, Double)],
                          cuts: Seq[Timestamp]): Replay.Staged = {
    import spark.implicits._
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val lows = None +: cuts.map(Some(_))
    val highs = cuts.map(Some(_)) :+ None
    Replay.stage(None)(Replay.Arrivals(lows.zip(highs).map { case (lo, hi) =>
      df.filter(lo.map(c => col("ts") >= lit(c)).getOrElse(lit(true)))
        .filter(hi.map(c => col("ts") < lit(c)).getOrElse(lit(true)))
    }))
  }

  private def twoFileSource(rows: Seq[(Long, Timestamp, Long, String, Double)],
                            mid: Timestamp): Replay.Staged = filesSource(rows, Seq(mid))

  /** transformWithState requires a multi-column-family store provider;
    * scope RocksDB to the replay and restore the previous setting. */
  private def withRocksDb[T](f: => T): T =
    Tuning.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(f)

  test("transformWithState max-gap: boundary-spanning gap comes from carried state, two data batches run") {
    import spark.implicits._
    val src = twoFileSource(Seq(
      // user 1: gaps 600s (in batch 1) and 6600s (ACROSS the boundary)
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:10:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0),
      // user 2: single event in batch 1 → gap 0
      (4L, ts("2024-01-01 10:05:00"), 2L, "view", 1.0),
      // user 3: both events in batch 2 → plain in-batch gap 300s
      (5L, ts("2024-01-01 11:00:00"), 3L, "click", 1.0),
      (6L, ts("2024-01-01 11:05:00"), 3L, "click", 1.0)),
      mid = ts("2024-01-01 10:30:00"))
    withRocksDb {
      val q = StreamingPipelines.maxGapStream(
          Replay.read(spark, src).as[StreamingPipelines.Event])
        .writeStream.format("memory").queryName("gap2b")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "source must deliver exactly two data micro-batches")
    }
    // final update per user (max n)
    val fin = spark.table("gap2b")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("max_gap_us"))).as("w"))
      .select(col("user_id"), col("w.n_events"), col("w.max_gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fin == Set(
      (1L, 3L, 6600L * 1000000L),
      (2L, 1L, 0L),
      (3L, 2L, 300L * 1000000L)), fin.mkString(", "))
    // user 1's max gap spans the file boundary: only carried state can
    // produce it, and its batch-1 update must NOT already have it
    val u1 = spark.table("gap2b").filter(col("user_id") === 1)
      .select(col("n_events"), col("max_gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(u1 == Set((2L, 600L * 1000000L), (3L, 6600L * 1000000L)),
      u1.mkString(", "))
  }

  test("window top-k: one window's counts accumulate across THREE batches (round-9 verdict #6)") {
    // window [10:00, 11:00): clicks land in batches 1, 2 AND 3 — only
    // MapState carried across two boundaries can produce count 4 — and
    // the closer event advances the final watermark past the window end
    val src = filesSource(Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:10:00"), 1L, "view", 1.0),
      (3L, ts("2024-01-01 10:25:00"), 1L, "click", 1.0),
      (4L, ts("2024-01-01 10:50:00"), 1L, "click", 1.0),
      (5L, ts("2024-01-01 10:55:00"), 2L, "click", 1.0),
      (6L, ts("2024-01-01 14:00:00"), 1L, "view", 1.0)),
      cuts = Seq(ts("2024-01-01 10:20:00"), ts("2024-01-01 10:40:00")))
    import spark.implicits._
    withRocksDb {
      val q = StreamingPipelines.windowTopKStream(
          Replay.read(spark, src).as[StreamingPipelines.Event])
        .writeStream.format("memory").queryName("topk3b")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "source must deliver exactly three data micro-batches")
    }
    val got = spark.table("topk3b")
      .select(col("w_start").cast("string"), col("rank"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    // watermark 12:00 closes only the 10:00 window; counts span batches
    assert(got == Set(
      ("2024-01-01 10:00:00", 1, "click", 4L),
      ("2024-01-01 10:00:00", 2, "view", 1L)), got.mkString(", "))
  }

  test("event-time timer boundary: watermark EXACTLY at the window end (round-9 advice)") {
    // final max ts = 13:00 ⇒ final watermark = 11:00 = the [10:00,11:00)
    // window's timer timestamp exactly. Pins whether transformWithState
    // fires a timer at watermark == expiry (<=) or only strictly past
    // it (<) — the q201 oracle's closure rule must state the same
    // comparison or a dataset landing on the boundary would diverge.
    val src = twoFileSource(Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:25:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 13:00:00"), 1L, "view", 1.0)),
      mid = ts("2024-01-01 10:20:00"))
    import spark.implicits._
    withRocksDb {
      val q = StreamingPipelines.windowTopKStream(
          Replay.read(spark, src).as[StreamingPipelines.Event])
        .writeStream.format("memory").queryName("topkboundary")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }
    val got = spark.table("topkboundary")
      .select(col("w_start").cast("string"), col("rank"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    // Spark fires event-time timers when expiry <= watermark — the
    // boundary window EMITS (matching the q201 oracle's w_end <= wm
    // rule); if this assertion ever flips on a Spark upgrade, the
    // oracle must flip with it.
    assert(got == Set(("2024-01-01 10:00:00", 1, "click", 2L)),
      got.mkString(", "))
  }

  test("streaming ANN ingest equals the batch IVF probe (routing, list join, top-5)") {
    import org.apache.spark.sql.functions._
    val got = StreamingPipelines.annIngestAvailableNow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got.nonEmpty)
    // independent batch composition of the same index + routing
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val static = emb.filter(col("vec_id") % 10 =!= 0)
    val cent = graft.similarity.Kmeans.centroids(static, 8, 3, portable = true)
    def assign(df: org.apache.spark.sql.DataFrame, idc: String, vc: String) =
      df.select(col(idc).as("id"), col(vc).as("v"))
        .join(broadcast(cent))
        .select(col("id"), col("v"), org.apache.spark.sql.functions.struct(
          graft.linalg.Distances.euclidean(col("v"), col("cvec")).as("d"),
          col("cid").as("cid")).as("cand"))
        .groupBy(col("id"), col("v")).agg(min(col("cand")).as("m"))
        .select(col("id"), col("v"), col("m.cid").as("cid"))
    val lists = assign(static, "vec_id", "embedding")
      .select(col("cid"), col("id").as("nbr"), col("v").as("cv"))
    val routed = assign(emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding")
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    val cands = routed.join(lists, Seq("cid"))
      .select(col("qid"), col("nbr"),
        round(graft.linalg.Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim"))
    val batch = graft.agg.TopKByWeight.topKBySimilarity(cands, 5)
      .orderBy(col("qid"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == batch)
  }

  test("streaming KL drift: zero for windows matching the global mix, positive for skewed ones") {
    import org.apache.spark.sql.functions._
    val got = StreamingPipelines.klDriftAvailableNow(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    // KL is Gibbs-nonnegative up to the nano floor
    got.foreach { case (w, _, kl) => assert(kl >= -1L, s"$w: kl $kl") }
    // windows whose mix deviates from global must register positive
    // divergence somewhere in the stream
    assert(got.exists(_._3 > 0L), "no window diverged — vacuous monitor")
    // emitted set = the closed windows of the q168 tumbling query
    val closed = StreamingPipelines.tumblingCounts(
        graft.Tables.load(spark, sf0001, "events"))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"))
      .distinct().collect().map(_.getString(0)).toSet
    // batch plan has no watermark cut; streaming emits the prefix the
    // final watermark closed
    assert(got.map(_._1).toSet.subsetOf(closed))
  }

  test("docs replay horizon: derived ingest step keeps a wide-id corpus inside the watermark (round-10 verdict #2)") {
    import spark.implicits._
    // 24 purely-lowercase words → passes curateStream's quality gate
    // (digits would count against the non-alpha ratio)
    val dupText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray"
    val otherText = "zulu yankee whiskey victor uniform tango sierra romeo " +
      "quebec papa oscar november mike lima kilo juliett india hotel " +
      "golf foxtrot echo delta charlie bravo"
    // doc ids 0 and 3_900_000 share content. At the OLD fixed 1 ms/id
    // step their ingest gap would be 3900 s > the 3600 s watermark
    // horizon — the duplicate would arrive after the first copy's dedup
    // state expired and survive, silently diverging from the batch
    // oracle. The derived step (1 µs/id here) keeps the whole corpus
    // inside the horizon, so the dedup contract stays EXACT.
    assert((3900001L + 2) * 1000L >= StreamingPipelines.DocsHorizonUs,
      "fixture must overflow the horizon at the old fixed 1 ms step")
    val docs = Seq(
      (0L, "en", dupText),
      (3900000L, "en", dupText),
      (3900001L, "en", otherText)).toDF("doc_id", "lang", "text")
    val src = Replay.stage(None)(StreamingPipelines.docsArrivals(spark, docs,
      batches = 2, sentinelFinalBatch = false))
    val q = StreamingPipelines.curateStream(Replay.read(spark, src))
      .writeStream.format("memory").queryName("horizon2b")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    // the duplicate pair straddles the batch boundary: the first-seen
    // claim below is only meaningful under real multi-batch execution
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    val got = spark.table("horizon2b")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // first-seen survivor of the duplicate pair is doc 0 (it arrives in
    // batch 1; its copy in batch 2 meets carried state)
    assert(got == Set(0L, 3900001L), got.mkString(", "))
    // a corpus that cannot fit even at 1 µs/id must FAIL LOUDLY, not
    // silently let the horizon expire mid-corpus
    val tooBig = Seq((0L, "en", dupText), (4_000_000_000_000L, "en", otherText))
      .toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      Replay.stage(None)(StreamingPipelines.docsArrivals(spark, tooBig,
        batches = 2, sentinelFinalBatch = false))
    }
    assert(e.getMessage.contains("watermark horizon"), e.getMessage)
  }

  test("right/full-join click-side eviction boundary: c_ts + 30min == final watermark does NOT null-extend (round-10 advice)") {
    // closers: max purchase ts = max click ts = 20:00 ⇒ final watermark
    // = 19:00. Planted unmatched click at exactly 18:30 = wm − 30min:
    // the q211/q212 oracles state STRICT eviction (c_ts < wm − 30min),
    // so the boundary click must NOT emit; if Spark's eviction
    // strictness ever flips, this assertion flips the oracles with it.
    val rows = Seq(
      // matched pair (user 1): click 10:45 within purchase 11:00's range
      (1L, ts("2024-01-01 10:45:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "purchase", 1.0),
      // unmatched click far below the boundary → must null-extend
      (3L, ts("2024-01-01 10:00:00"), 2L, "click", 1.0),
      // the planted boundary click: c_ts + 30min == final watermark
      (4L, ts("2024-01-01 18:30:00"), 3L, "click", 1.0),
      // closers on disjoint users (no accidental matches)
      (5L, ts("2024-01-01 20:00:00"), 98L, "click", 1.0),
      (6L, ts("2024-01-01 20:00:00"), 99L, "purchase", 1.0))
    val src = twoFileSource(rows, mid = ts("2024-01-01 19:30:00"))
    val q = StreamingPipelines.purchaseClickJoinOf(Replay.read(spark, src), "right_outer")
      .writeStream.format("memory").queryName("rboundary")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    val got = spark.table("rboundary")
      .select(col("c_id"), col("p_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    // click 1 matched; click 3 evicted-and-null-extended; boundary
    // click 4 NOT emitted (strict <); closer click 5 above the boundary
    assert(got == Set((1L, 2L), (3L, -1L)), got.mkString(", "))
    // same boundary rule through the full-outer state machine: the
    // boundary click stays in state there too
    val q2 = StreamingPipelines.purchaseClickJoinOf(Replay.read(spark, src), "full_outer")
      .writeStream.format("memory").queryName("fboundary")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000))
    val clicksOut = spark.table("fboundary").filter(col("c_id").isNotNull)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(clicksOut == Set(1L, 3L), clicksOut.mkString(", "))
  }

  test("two-batch dropDuplicatesWithinWatermark: cross-batch copies suppressed, each key emits once") {
    val src = twoFileSource(Seq(
      // (1, click, hour 10): twice in batch 1, once more in batch 2
      // (10:45 ≥ mid) — the batch-2 copy meets batch-1 state
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:20:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 10:45:00"), 1L, "click", 1.0),
      // (2, view, hour 11): batch 2 only
      (4L, ts("2024-01-01 11:10:00"), 2L, "view", 1.0),
      // (1, click, hour 11): same user+type, NEW hour → new key
      (5L, ts("2024-01-01 11:30:00"), 1L, "click", 1.0)),
      mid = ts("2024-01-01 10:30:00"))
    val q = StreamingPipelines.hourlyKeyDedupStream(Replay.read(spark, src))
      .writeStream.format("memory").queryName("dedup2b")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    val got = spark.table("dedup2b")
      .select(col("user_id"), col("event_type"), col("ts_h").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got.length == got.distinct.length, "a key emitted twice")
    assert(got.toSet == Set(
      (1L, "click", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 11:00:00"),
      (2L, "view", "2024-01-01 11:00:00")), got.mkString(", "))
  }
}
