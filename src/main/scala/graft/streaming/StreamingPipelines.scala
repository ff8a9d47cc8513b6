package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines over the `events` schema
  * (SURVEY.md §2.11 — the reference has no streaming surface; these
  * are the north-star stream-processing extensions).
  *
  * The same transformations as [[TimeWindows]] run here against a
  * `readStream` source: watermarked tumbling/sliding aggregation, and
  * custom per-key session state via `flatMapGroupsWithState` — the
  * Spark-native replacement for hand-rolled streaming state. Tests
  * drive them with a file source feeding parquet events batches.
  */
object StreamingPipelines {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class SessionOut(user_id: Long, n_events: Long,
                              start_sec: Long, end_sec: Long)
  final case class SessionState(n: Long, start: Long, last: Long)

  /** Watermarked tumbling 1h counts — unified with the batch
    * [[TimeWindows.tumblingHourly]] plan. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** 30-minute-gap sessionization with explicit keyed state —
    * `flatMapGroupsWithState` with a processing-time timeout: a user
    * idle for `gapSec` of wall-clock gets their trailing session
    * flushed and the per-key state removed, so state stays bounded by
    * the set of *recently active* users, not all users ever seen. */
  def sessionizeStream(events: Dataset[Event], gapSec: Long = 1800): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Idle past the gap: flush the open session, expire the key.
            val out = state.getOption
              .map(s => SessionOut(userId, s.n, s.start, s.last)).iterator
            state.remove()
            out
          } else {
            // Full-precision order: getTime alone is millisecond-truncated,
            // so two same-user events within one ms could fold in a
            // different order than the batch mirror's full-timestamp
            // sort_array. getNanos carries the sub-ms component.
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.last <= gapSec =>
                  cur = Some(s.copy(n = s.n + 1, last = sec))
                case Some(s) =>
                  closed += SessionOut(userId, s.n, s.start, s.last)
                  cur = Some(SessionState(1, sec, sec))
                case None =>
                  cur = Some(SessionState(1, sec, sec))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapSec * 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** [[sessionizeStream]]'s event-time twin — same 30-minute-gap fold,
    * but the idle-flush timer is an EVENT-TIME timeout against the
    * stream's watermark instead of wall-clock. That makes the emitted
    * set a pure function of the DATA (deterministic, hence driver-
    * oracle-able, unlike the processing-time form whose flushes depend
    * on scheduling):
    *
    *  - a session CLOSED BY A LATER EVENT (gap > gapSec to the user's
    *    next event) emits when that event arrives — every non-final
    *    session per user;
    *  - a user's final open session emits iff its timer
    *    `(end_sec + gapSec) · 1000` ms falls STRICTLY BELOW the final
    *    watermark (max event-time ms − delay) — Spark fires event-time
    *    timeouts on `timeoutTimestamp < watermark`, a strictness the
    *    planted-boundary spec pins against version drift (the q168
    *    closed-window-rule pattern);
    *  - otherwise it stays in state, unemitted.
    *
    * Both rules are stated verbatim in q193's oracle SQL. State stays
    * bounded by construction: one (count, start, last) triple per user
    * with an armed timer, evicted at watermark + gap. */
  def sessionizeEventTime(events: Dataset[Event], gapSec: Long = 1800,
      delay: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => SessionOut(userId, s.n, s.start, s.last)).iterator
            state.remove()
            out
          } else {
            // Full-precision order (see sessionizeStream): getTime is
            // ms-truncated; getNanos carries the sub-ms component.
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.last <= gapSec =>
                  cur = Some(s.copy(n = s.n + 1, last = sec))
                case Some(s) =>
                  closed += SessionOut(userId, s.n, s.start, s.last)
                  cur = Some(SessionState(1, sec, sec))
                case None =>
                  cur = Some(SessionState(1, sec, sec))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Arm the idle timer at session end + gap. Spark rejects
              // timestamps at or below the current watermark; a session
              // that is ALREADY idle-expired at arrival time (possible
              // only for watermark-straddling late data, which the
              // time-split replay never produces) flushes immediately.
              val timer = (s.last + gapSec) * 1000L
              if (timer > state.getCurrentWatermarkMs()) {
                state.setTimeoutTimestamp(timer)
              } else {
                closed += SessionOut(userId, s.n, s.start, s.last)
                state.remove()
              }
            }
            closed.result().iterator
          }
      }
  }

  final case class EwmaOut(user_id: Long, n_events: Long, ewma_micros: Long)
  final case class EwmaState(n: Long, s: Long)

  /** Streaming per-user EWMA (α = 1/2) — the incremental form of the
    * batch q158 fold: state is two longs per user ((count, smoothed
    * micros)), each batch folds its rows in (ts, event_id) order into
    * the integer recurrence s' = (s + v) div 2 and emits the user's
    * updated row (Update mode). The recurrence telescopes, so state
    * never stores history — O(1) per key, bounded at any stream
    * length; the e2e spec proves the single-source run reproduces the
    * batch fold exactly. */
  def ewmaStream(events: Dataset[Event]): Dataset[EwmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          // Full-precision order: getTime alone is millisecond-truncated,
            // so two same-user events within one ms could fold in a
            // different order than the batch mirror's full-timestamp
            // sort_array. getNanos carries the sub-ms component.
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(EwmaState(0L, 0L))
            sorted.foreach { e =>
              // floor-micros long, clamped at 0, then integer halving —
              // identical to the batch TimeSeries.ewmaByUser arithmetic
              val v = math.max(0L, math.floor(e.value * 1e6).toLong)
              st = EwmaState(st.n + 1, (st.s + v) / 2)
            }
            state.update(st)
            Iterator(EwmaOut(userId, st.n, st.s))
          }
      }
  }

  /** Streaming exact dedup: one row per (user_id, event_type). Uses
    * dropDuplicatesWithinWatermark — plain dropDuplicates only evicts
    * state when the event-time column is among the dedup keys, so with
    * (user_id, event_type) keys its state would grow forever; the
    * WithinWatermark variant expires entries once the watermark passes
    * them, bounding state at any cardinality. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** The purchase×click stream-stream interval join, parametrized by
    * join type — ONE state machine declaration for the whole streaming
    * join matrix (round-10 verdict #7: the five per-type copies made
    * the shared eviction rules five-source). Each purchase joins the
    * same user's clicks in the preceding 30 minutes; watermarks on
    * both sides + the time-bound condition let Spark expire join
    * state. Shared eviction semantics, single-source here:
    *  - matched rows emit eagerly in their data batch (all types);
    *  - a no-click PURCHASE null-extends (left/full) once the
    *    watermark passes p_ts — its match range [p_ts − 30 min, p_ts]
    *    lies entirely at or below its own ts;
    *  - a no-purchase CLICK null-extends (right/full) only once the
    *    watermark passes c_ts + 30 min (its FORWARD match range), i.e.
    *    STRICTLY `c_ts < wm − 30 min` — pinned by the planted
    *    boundary spec in TwoBatchStreamSpec;
    *  - left_semi emits each purchase at most once on its first
    *    qualifying click, never materializing the match. */
  def purchaseClickJoinOf(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")
        && col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Inner form of [[purchaseClickJoinOf]] (kept as the named entry
    * point for specs and the batch-equality test). */
  def purchaseClickJoin(events: DataFrame): DataFrame =
    purchaseClickJoinOf(events, "inner")

  /** LEFT SEMI form — existence, not pairing. */
  def purchaseClickSemiJoin(events: DataFrame): DataFrame =
    purchaseClickJoinOf(events, "left_semi")

  /** Streaming corpus curation — the batch [[graft.text.CorpusPipeline]]
    * gate as an incremental pipeline over an ingest-timestamped
    * document stream: content dedup via `dropDuplicatesWithinWatermark`
    * on a 64-bit content hash (state is one hash per recent doc, not
    * the text, and expires with the watermark), then the row-local
    * quality gate and annotations, which fuse into the same stage.
    *
    * Semantics note vs batch q49: a stream cannot keep min-doc_id
    * state over all history with bounded memory, so streaming dedup
    * keeps the FIRST-SEEN copy within the watermark horizon — the
    * standard incremental contract (the kept CONTENT set is identical;
    * only which duplicate's id survives differs). */
  def curateStream(docs: DataFrame, minWords: Int = 20,
                   maxNonAlphaRatio: Double = 0.05): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("content_hash", xxhash64(col("text")))
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("n_words", size(words))
      .withColumn("nonalpha_ratio",
        round(length(regexp_replace(col("text"), "[a-z ]", "")).cast("double")
          / length(col("text")), 4))
      .filter(col("n_words") >= minWords
        && col("nonalpha_ratio") <= maxNonAlphaRatio)
      .withColumn("est_tokens", ceil(length(col("text")).cast("double") / 4.0))
      .select(col("doc_id"), col("lang"), col("n_words"), col("est_tokens"),
        col("content_hash"))
  }

  /** Streaming decontamination — q70/q55's gate as an incremental
    * pipeline: each arriving document's hashed word n-grams are probed
    * against the STATIC benchmark shingle set via a stream-static
    * left-semi join (the static side builds once and broadcasts/hashes;
    * per micro-batch work is row-local probing, no stream state), and a
    * flagged doc id is emitted once (`dropDuplicatesWithinWatermark`
    * bounds the dedup state to the watermark horizon). At corpus scale
    * this is the shape of an ingest-time contamination tripwire: the
    * benchmark set is fixed, the corpus streams past it. */
  def decontaminateStream(docs: DataFrame, benchShingles: DataFrame, n: Int = 5): DataFrame =
    graft.text.TextQueries.hashedWordShingles(
        docs.withWatermark("ingest_ts", "1 hour"), n, keep = Seq("ingest_ts"))
      .join(benchShingles, Seq("shingle"), "left_semi")
      .select(col("ingest_ts"), col("doc_id"))
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"))

  /** Streaming incremental dedup — q105's twin at ingest time: each
    * arriving document's hashed shingles probe the STATIC corpus
    * posting lists (stream-static join, no corpus shuffle per batch),
    * the per-(new, old) intersection accumulates in a watermarked
    * windowed aggregation (append-mode emission, state expires with
    * the watermark), and the Jaccard refine joins the static corpus
    * sizes AFTER the aggregation — the pair stream that crosses the
    * stateful boundary carries counts, not vectors of text.
    *
    * Size semantics: the arriving doc's size is its own distinct
    * shingle count (computed row-locally before the explode — a stream
    * cannot re-derive corpus-capped sizes for a doc it is seeing for
    * the first time); corpus sizes come capped from the static index,
    * as in the batch q105. */
  def incrementalDedupStream(docs: DataFrame, corpusPosting: DataFrame,
      corpusSizes: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    val shs = docs
      .withWatermark("ingest_ts", "1 hour")
      .select(col("doc_id"), col("ingest_ts"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("ingest_ts"),
        array_distinct(transform(
          sequence(lit(1), size(col("ws")) - lit(n - 1)),
          i => xxhash64((0 until n).map(o =>
            element_at(col("ws"), i + lit(o))): _*))).as("shs"))
      .select(col("doc_id"), col("ingest_ts"), size(col("shs")).as("n_sh"),
        explode(col("shs")).as("shingle"))
    val hits = shs.join(corpusPosting, Seq("shingle"))
      .select(col("doc_id"), col("ingest_ts"), col("n_sh"),
        explode(col("ds")).as("d_old"))
    val inter = hits
      .groupBy(window(col("ingest_ts"), "1 hour"),
        col("doc_id"), col("d_old"), col("n_sh"))
      .agg(count(lit(1)).as("inter"))
    inter.join(corpusSizes.withColumnRenamed("doc_id", "d_old"), Seq("d_old"))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("n_sh") + col("sz") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("d_old"), col("jaccard"))
  }

  /** Hour-grain streaming exact dedup — [[dedupStream]]'s
    * deterministically-replayable form: every row of a dedup key
    * (user, type, hour) carries the SAME event-time value (the
    * truncated hour is both a key column and the watermark column), so
    * the state content — and with it the multi-batch emission set — is
    * independent of intra-batch processing order. One row per key
    * crosses the sink per horizon; duplicates arriving in a LATER
    * batch are suppressed by state carried across the batch boundary
    * as long as the watermark has not passed their hour. */
  def hourlyKeyDedupStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("ts_h"))
      .withWatermark("ts_h", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts_h")

  final case class GapState(n: Long, lastUs: Long, maxGapUs: Long)
  final case class GapOut(user_id: Long, n_events: Long, max_gap_us: Long)

  /** Per-user largest inter-event gap via `transformWithState` — the
    * Spark 4 arbitrary-state API (typed ValueState handles, RocksDB
    * state store): the evolution of [[ewmaStream]]'s
    * flatMapGroupsWithState tier. State is three longs per user
    * (count, last event micros, max gap); each batch folds its rows in
    * (ts, event_id) order and emits the user's running row (Update
    * semantics). The fold telescopes, so any batching that preserves
    * per-key time order — which the time-boundary replay source
    * guarantees — produces the batch-SQL answer. */
  class MaxGapProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, GapOut] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[GapState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[GapState]("gap",
        org.apache.spark.sql.Encoders.product[GapState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[GapOut] = {
      // same full-precision order as the ewma fold (ms + sub-ms + id)
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var st = if (state.exists()) state.get() else GapState(0L, 0L, 0L)
        sorted.foreach { e =>
          val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
          st =
            if (st.n == 0L) GapState(1L, us, 0L)
            else GapState(st.n + 1, us, math.max(st.maxGapUs, us - st.lastUs))
        }
        state.update(st)
        Iterator(GapOut(key, st.n, st.maxGapUs))
      }
    }
  }

  def maxGapStream(events: Dataset[Event]): Dataset[GapOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new MaxGapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class TopKOut(w_start: java.sql.Timestamp, rank: Int,
                           event_type: String, n: Long)

  /** Streaming per-window top-k via `transformWithState` with
    * EVENT-TIME TIMERS — the one arbitrary-state surface the q184
    * processor (TimeMode.None, per-batch Update) does not exercise:
    * state is a typed `MapState` of per-type counts keyed by the
    * tumbling-window start, an event-time timer is armed at the window
    * end, and the ranked top-k emits ONLY when the watermark proves the
    * window complete (Append semantics — counts accumulated across
    * every micro-batch that touched the window, ranked exactly once).
    * This is the streaming leaderboard primitive: per-window heavy
    * hitters with bounded state (#types per open window) and
    * watermark-driven finalization. */
  class WindowTopKProcessor(k: Int, windowMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TopKOut] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var armed: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKOut] = {
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
      }
      if (!armed.exists()) {
        // one timer per window, at its end: fires when the watermark
        // passes w_end, i.e. no further row can belong to the window
        getHandle.registerTimer(key + windowMs)
        armed.update(true)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TopKOut] = {
      val top = counts.iterator().toSeq
        .sortBy { case (t, n) => (-n, t) }.take(k)
      counts.clear()
      armed.clear()
      top.zipWithIndex.iterator.map { case ((t, n), i) =>
        TopKOut(new java.sql.Timestamp(key), i + 1, t, n) }
    }
  }

  def windowTopKStream(events: Dataset[Event], k: Int = 3,
                       windowMs: Long = 3600000L): Dataset[TopKOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => e.ts.getTime - java.lang.Math.floorMod(e.ts.getTime, windowMs))
      .transformWithState(new WindowTopKProcessor(k, windowMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[windowTopKStream]] executed through THREE micro-batches
    * (time-split replay + RocksDB, q184's harness): counts for a
    * straddle window accumulate across batch boundaries in MapState,
    * and each window's ranked top-3 emits exactly once, when the
    * watermark passes its end. Emitted set = q168's closure rule
    * (w_end ≤ max ts − 2h), ranked — stated directly in the oracle. */
  def windowTopKAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = eventsReplay(spark, dir, batches = 3)
    val q = Replay.run(windowTopKStream(Replay.read(spark, src).as[Event]).toDF(),
      src, rocksDb = true)
    spark.table(q.name)
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("rank"), col("event_type"), col("n"))
      .orderBy(col("w_start"), col("rank"))
  }

  /** Streaming MERGE: maintain a keyed last-write-wins snapshot from a
    * change stream via `foreachBatch` — the streaming half of q112's
    * CDC compaction, and the pattern every streaming warehouse sink
    * (Delta/Iceberg MERGE) implements underneath. Each micro-batch is
    * one hash aggregation of (prior snapshot ∪ batch): `max(struct(ts,
    * event_id, …))` picks the per-key winner with map-side partials —
    * no per-key log sort, cost ∝ snapshot + batch, not history.
    *
    * Tombstones (value < 0.1) STAY in the snapshot: dropping them
    * would let an out-of-order older update resurrect a deleted key
    * in a later batch. The read view filters them. Snapshots write to
    * `gen=<n>` subdirs (parquet can't overwrite a dir it is reading);
    * each batch reads the latest generation — the manifest-swap
    * pattern of table formats, reduced to its core. */
  def upsertStreamSink(changes: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch(upsertBatch(stateDir))

  /** [[upsertStreamSink]]'s per-micro-batch MERGE into `stateDir`. */
  def upsertBatch(stateDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val tagged = batch.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
        .withColumn("is_delete", col("value") < 0.1)
      val prior = latestSnapshot(spark, stateDir).getOrElse(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          tagged.schema))
      val merged = prior.unionByName(tagged)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("is_delete"),
          col("event_type"), col("value"))).as("w"))
        .select(col("user_id"), col("w.ts").as("ts"),
          col("w.event_id").as("event_id"),
          col("w.event_type").as("event_type"), col("w.value").as("value"),
          col("w.is_delete").as("is_delete"))
      merged.write.mode("overwrite")
        .parquet(s"$stateDir/gen=${batchId + 1}")
    }

  /** Latest `gen=<n>` snapshot under `stateDir`, if any. */
  def latestSnapshot(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val dir = new java.io.File(stateDir)
    val gens = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName.stripPrefix("gen=").toLong)
    if (gens.isEmpty) None
    else Some(spark.read.parquet(s"$stateDir/gen=${gens.max}"))
  }

  /** Live read view over the snapshot: tombstones filtered. */
  def upsertView(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestSnapshot(spark, stateDir).map(_.filter(!col("is_delete"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")))

  /** File-source streaming read of ingest-timestamped documents. */
  def readDocsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING, ingest_ts TIMESTAMP")
      .parquet(dir)

  /** File-source streaming read of events-shaped parquet. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE")
      .parquet(dir)

  /** The events table as a `batches`-arrival replay source, staged once
    * per (process, sfDir, batches).
    *
    * ONE arrival is the whole table in a single file — for q167 that
    * matters: the EWMA fold is ordered, and state folds batch-by-batch
    * in arrival order, so with one micro-batch the per-key sort inside
    * it IS the global order and the batch-oracle equality is
    * structural, not an accident of source defaults.
    *
    * N > 1 arrivals split the table at its N−1 event-time quantiles
    * (exact `percentile` over `unix_micros(ts)`), so an AvailableNow
    * run executes N real micro-batches with a watermark advance between
    * each. Splitting on TIME boundaries keeps multi-batch runs
    * deterministic at any N: per-key processing order = batch-1 rows
    * (sorted) then batch-2 rows (sorted) … = the global (ts, event_id)
    * order, and no batch-(k+1) row is ever behind the batch-k
    * watermark. The declared replays run N = 3 (round-9 verdict: state
    * must be carried across MULTIPLE boundaries and ≥ 2 watermark
    * advances); their emitted sets are N-invariant by each query's
    * closure rule — pinned by the N=2 → N=3 oracle equality and the
    * three-batch straddle spec. */
  private[streaming] def eventsReplay(spark: SparkSession, dir: String,
      batches: Int): Replay.Staged =
    Replay.stage(Some(("events", dir, batches))) {
      val ev = graft.Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      if (batches == 1) Replay.Arrivals(Seq(ev))
      else {
        val fracs = (1 until batches)
          .map(i => s"CAST(${i.toDouble / batches} AS DOUBLE)").mkString(", ")
        val cuts = ev
          .selectExpr(s"percentile(unix_micros(ts), array($fracs)) AS c")
          .head().getSeq[Double](0).map(_.toLong)
        val bounds = (Long.MinValue +: cuts) zip (cuts :+ Long.MaxValue)
        Replay.Arrivals(bounds.map { case (lo, hi) =>
          ev.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
        })
      }
    }

  /** Per-user EWMA computed THROUGH streaming execution: the events
    * table replayed as a file-source stream into [[ewmaStream]] under
    * AvailableNow, Update-mode memory sink, then the final
    * update per user (its max-n row — n is strictly monotone per key).
    * The replay source is a SINGLE parquet file ([[eventsReplay]]),
    * which structurally guarantees one micro-batch: the ordered fold
    * only equals the batch q158 result when no later-ts rows arrive in
    * an earlier batch, and one file cannot be split by the file source.
    * Oracled against the SAME DuckDB SQL as the batch q158 fold — the
    * driver's oracle table exercises a streaming-executed path, not
    * only spec-gated mirrors (round-4 verdict #8). */
  def ewmaAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = eventsReplay(spark, dir, batches = 1)
    val q = Replay.run(ewmaStream(Replay.read(spark, src).as[Event]).toDF(), src,
      Replay.Memory(OutputMode.Update()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    spark.table(q.name)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("user_id"), col("n_events"), col("ewma_micros"))
      .orderBy(col("user_id"))
  }

  /** Watermarked tumbling counts computed THROUGH streaming execution
    * (AvailableNow, Append mode): the emitted set is exactly the
    * windows the final watermark closed — `w_end ≤ max(ts) − 2h` —
    * which is a deterministic function of the data, so the query
    * oracles against plain SQL stating that rule. Exercises the
    * watermark/state-eviction path the way q167 exercises
    * `flatMapGroupsWithState`. */
  def tumblingAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 1)
    val q = Replay.run(tumblingCounts(Replay.read(spark, src)), src)
    spark.table(q.name)
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** One executor for the whole streaming join matrix:
    * [[purchaseClickJoinOf]] over the single-file events replay under
    * AvailableNow, with a per-type output projection
    * (round-10 verdict #7 — the five executor copies collapsed into
    * this runner + thin declarations).
    *
    * Shared execution contract, stated once: matches emit in the data
    * batch (the single-file source delivers the whole table in ONE
    * micro-batch, so the matched set is exactly the batch interval
    * join); null-extended PURCHASES (left/full) emit in the final
    * watermark-advance batch for exactly the purchases whose
    * click-side state closed — `p_ts < wm` where `wm = min(max
    * purchase ts, max click ts) − 1h` (each watermarked side is a
    * FILTERED stream, so its event-time max is over its own rows, and
    * the global watermark is the min across sides); null-extended
    * CLICKS (right/full) emit only when no FUTURE purchase can reach
    * them — a click at c_ts matches purchases in [c_ts, c_ts+30 min],
    * so its state closes at STRICTLY `c_ts < wm − 30 min` (pinned by
    * the planted boundary spec). Delays are exact integer microseconds
    * (epoch_us difference) — no boundary-crossing date_diff semantics
    * to align across engines. Every rule is stated verbatim in the
    * q169/q179/q211/q212/q184 oracle SQL. */
  private def pcJoinAvailableNow(spark: SparkSession, dir: String,
      joinType: String)(finalize: DataFrame => DataFrame): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 1)
    val q = Replay.run(purchaseClickJoinOf(Replay.read(spark, src), joinType), src)
    finalize(spark.table(q.name))
  }

  private def delayUs = (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("delay_us")

  /** INNER join through streaming execution (q169). */
  def intervalJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    pcJoinAvailableNow(spark, dir, "inner")(
      _.select(col("p_id"), col("c_id"), col("p_user"), delayUs)
        .orderBy(col("p_id"), col("c_id")))

  /** LEFT OUTER through streaming execution (q179). */
  def leftJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    pcJoinAvailableNow(spark, dir, "left_outer")(
      _.select(col("p_id"), col("p_user"), col("c_id"), delayUs)
        .orderBy(col("p_id"), col("c_id").asc_nulls_first))

  /** FULL OUTER through streaming execution (q211). */
  def fullJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    pcJoinAvailableNow(spark, dir, "full_outer")(
      _.select(col("p_id"), col("c_id"),
          coalesce(col("p_user"), col("c_user")).as("user_id"), delayUs)
        .orderBy(col("p_id").asc_nulls_first, col("c_id").asc_nulls_first))

  /** RIGHT OUTER through streaming execution (q212). */
  def rightJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    pcJoinAvailableNow(spark, dir, "right_outer")(
      _.select(col("c_id"), col("p_id"),
          coalesce(col("c_user"), col("p_user")).as("user_id"), delayUs)
        .orderBy(col("c_id"), col("p_id").asc_nulls_first))

  /** The streaming MERGE sink ([[upsertStreamSink]]) executed end to
    * end: the events table replayed as the change stream into a fresh
    * state dir, then the final compacted snapshot read back through
    * [[upsertView]]. One micro-batch (single-file source) against an
    * empty prior snapshot ⇒ the snapshot is exactly the batch CDC
    * compaction of the whole table — per-user latest (ts, event_id)
    * winner, tombstones (value < 0.1) filtered at read — which is the
    * oracle SQL (q112's shape over the full table with the sink's
    * tombstone rule). */
  def upsertSinkAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 1)
    val stateDir = graft.ScratchDirs.cleanedOnExit("graft-upsert-state")
    Replay.run(Replay.read(spark, src), src, Replay.PerBatch(upsertBatch(stateDir)))
    upsertView(spark, stateDir)
      .getOrElse(sys.error(s"upsert sink wrote no snapshot under $stateDir"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        round(col("value"), 6).as("value"))
      .orderBy(col("user_id"))
  }

  /** Streaming ANN ingest — the online half of the IVF retrieval
    * index: vectors ARRIVE as a stream (the vec_id ≡ 0 mod 10 slice),
    * the INDEX is static (portable-k-means centroids + inverted lists
    * over the rest of the corpus), and each arrival is routed and
    * matched entirely without streaming state:
    *
    *  - nearest-centroid routing is [[graft.similarity.Kmeans.assign]]
    *    on the arrivals: the codegen argmin over the task-shipped
    *    centroid table (nlist × dim floats, collected once from the
    *    seeded quantizer build) — a MAP-SIDE projection, so no
    *    aggregation or window touches the stream and append mode
    *    needs no watermark;
    *  - candidates come from ONE stream-static equi-join on the list
    *    id; similarity is rounded row-locally before the sink.
    *
    * The per-query top-k runs on the memory-sink read (the q167
    * post-sink convention): a per-key top-k over an unwatermarked
    * stream would need stateful aggregation, and the bounded replay
    * makes the batch top-k over the emitted candidate set exactly the
    * per-arrival answer. */
  def annIngestAvailableNow(spark: SparkSession, dir: String,
      nlist: Int = 8, kmeansIters: Int = 3, k: Int = 5): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val static = emb.filter(col("vec_id") % 10 =!= 0)
    val cent = graft.similarity.Kmeans
      .centroids(static, nlist, kmeansIters, portable = true)
    val lists = graft.similarity.Kmeans
      .assign(static.select(col("vec_id"), col("embedding")), cent)
      .select(col("cid"), col("vec_id").as("nbr"), col("embedding").as("cv"))
      .localCheckpoint() // the static index the stream probes
    // the embeddings table as ONE single-file arrival
    val src = Replay.stage(Some(("embeddings", dir)))(Replay.Arrivals(Seq(
      graft.Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding")))))
    val arrivals = Replay.read(spark, src).filter(col("vec_id") % 10 === 0)
    val routed = graft.similarity.Kmeans.assign(arrivals, cent)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cid"))
    val cands = routed.join(lists, Seq("cid"))
      .select(col("qid"), col("nbr"),
        round(graft.linalg.Distances.cosineSimilarity(col("qv"), col("cv")), 6)
          .as("sim"))
    val q = Replay.run(cands, src)
    graft.agg.TopKByWeight.topKBySimilarity(spark.table(q.name), k)
      .orderBy(col("qid"), col("rn"))
  }

  /** Streaming distribution-drift monitor — per-closed-window KL
    * divergence of the event-type mix against the corpus-global
    * reference distribution (the data-quality tripwire an ingest
    * pipeline alarms on; q72's KL over a STREAM instead of sources).
    * The streaming surface is exactly q168's watermarked tumbling
    * aggregation (closed 1h windows of per-type counts); the KL itself
    * computes on the memory-sink read: per window, Σ p·ln(p/q) over
    * the ≤ |event types| terms in a pinned type-ordered fold, every
    * ratio an exact IEEE division of exact integer counts and the sum
    * quantized to nano-nats (the q137 idiom — the single ln is the
    * only transcendental). */
  def klDriftAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 1)
    val q = Replay.run(tumblingCounts(Replay.read(spark, src)), src)
    val global = graft.Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("g"))
    val bigG = global.agg(sum(col("g")).as("big_g"))
    spark.table(q.name)
      .join(broadcast(global), Seq("event_type"))
      .groupBy(col("w_start"))
      .agg(sum(col("n")).as("nw"),
        sort_array(collect_list(struct(col("event_type"), col("n"), col("g"))))
          .as("ts"))
      .crossJoin(broadcast(bigG))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("nw").as("n_events"),
        expr("CAST(floor(1e9 * aggregate(ts, CAST(0 AS DOUBLE), (acc, s) -> " +
          "acc + (CAST(s.n AS DOUBLE) / nw) * " +
          "ln((CAST(s.n AS DOUBLE) / nw) / (CAST(s.g AS DOUBLE) / big_g)))) " +
          "AS BIGINT)").as("kl_nano"))
      .orderBy(col("w_start"))
  }

  /** [[hourlyKeyDedupStream]] executed through THREE micro-batches
    * (time-split replay source): batch 1 emits its distinct keys,
    * the watermark advances, batch 2 emits only keys not already in
    * carried state. Because the source splits on a time boundary, a
    * later batch never contains an hour the watermark already closed,
    * so every (user, type, hour) key emits EXACTLY once and the
    * emitted set equals the batch distinct — stated directly in the
    * oracle SQL. The cross-batch suppression is real: batch 2's copies
    * of the straddle hour meet batch 1's state and are dropped. */
  def dedupAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 3)
    val q = Replay.run(hourlyKeyDedupStream(Replay.read(spark, src)), src)
    spark.table(q.name)
      .select(col("user_id"), col("event_type"),
        date_format(col("ts_h"), "yyyy-MM-dd HH:mm:ss").as("ts_h"))
      .orderBy(col("user_id"), col("event_type"), col("ts_h"))
  }

  /** [[maxGapStream]] (transformWithState) executed through THREE
    * micro-batches: per-user state (count, last-event micros, max gap)
    * persists in the RocksDB store across both batch boundaries, so a
    * gap that SPANS a boundary — last event of batch k to first event
    * of batch k+1 — is computed from carried state, the path a
    * single-batch replay never runs. Final row per user = its max-n
    * update (n is strictly monotone per key, q167's convention). */
  def maxGapAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = eventsReplay(spark, dir, batches = 3)
    val q = Replay.run(maxGapStream(Replay.read(spark, src).as[Event]).toDF(), src,
      Replay.Memory(OutputMode.Update()), rocksDb = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    spark.table(q.name)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("user_id"), col("n_events"), col("max_gap_us"))
      .orderBy(col("user_id"))
  }

  /** [[purchaseClickSemiJoin]] through AvailableNow: a semi join emits
    * matched left rows eagerly (like the inner join — watermarks only
    * bound state), and the single-file replay delivers everything in
    * ONE micro-batch, so the emitted set is exactly the batch
    * EXISTS-semi-join — verbatim in the oracle. */
  def semiJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    pcJoinAvailableNow(spark, dir, "left_semi")(
      _.select(col("p_id"), col("p_user"), unix_micros(col("p_ts")).as("p_us"))
        .orderBy(col("p_id")))

  /** Native `session_window` aggregation executed through THREE
    * micro-batches — the session-STATE-STORE path (SessionWindow exec
    * merging adjacent windows in keyed state across batches), distinct
    * from q193's hand-rolled flatMapGroupsWithState fold and from the
    * batch q23b plan. A session straddling a time-split boundary is
    * MERGED in the store (batch k+1's windows overlap batch k's stored
    * session); the final watermark closes and emits exactly the
    * sessions whose end (last event + gap) lands at or below it — the
    * closed-window rule, pinned by the planted-boundary spec and
    * stated in the oracle SQL over q23b's gaps-and-islands CTEs. */
  def sessionNativeAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsReplay(spark, dir, batches = 3)
    val agg = Replay.read(spark, src)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("sess_start"),
        col("user_id"), col("n_events"))
    val q = Replay.run(agg, src)
    spark.table(q.name)
      .select(col("sess_start"), col("user_id"), col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** [[sessionizeEventTime]] executed through THREE micro-batches: the
    * session fold runs with real cross-batch keyed state (a session
    * straddling the time-split boundary merges from carried state — and
    * can NEVER be split by a mid-stream timer: the user's last batch-1
    * event is within gapSec of a batch-2 event ⇒ it sits above
    * batch-1's watermark by construction), and the final watermark
    * flushes exactly the idle-expired trailing sessions. Emitted set =
    * every session closed by a later event (all non-final sessions per
    * user) ∪ final sessions with `(end_sec + gap)·1000 < final
    * watermark ms` — stated verbatim in the oracle SQL. */
  def sessionizeAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = eventsReplay(spark, dir, batches = 3)
    val q = Replay.run(sessionizeEventTime(Replay.read(spark, src).as[Event]).toDF(), src)
    spark.table(q.name)
      .select(col("user_id"), col("n_events"), col("start_sec"), col("end_sec"))
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** The streaming-dedup horizon (the `withWatermark("ingest_ts",
    * "1 hour")` delay every docs pipeline uses), in microseconds. */
  private[streaming] val DocsHorizonUs: Long = 3600L * 1000000L

  /** Replay epoch for the synthetic ingest timeline, in µs (the old
    * 1600000000000 ms constant). */
  private[streaming] val DocsEpochUs: Long = 1600000000000000L

  /** Documents as ingest-timestamped N-arrival replay input:
    * `ingest_ts = epoch + doc_id · step`, step DERIVED from the corpus
    * (1 ms per id while `(max doc_id + 2) ms` fits inside the 1-hour
    * dedup/watermark horizon — every corpus up to ~3.6 M ids, including
    * all three SFs; 1 µs per id past that, up to ~3.6 B ids; beyond
    * even that the exact-dedup contract is unprovable and the build
    * FAILS LOUDLY instead of silently letting the horizon expire
    * mid-corpus — round-10 verdict #2). The whole corpus inside the
    * horizon makes the streaming dedup contract EXACT (every duplicate
    * pair sits inside the watermark delay ⇒
    * `dropDuplicatesWithinWatermark` must catch it), so the replays
    * oracle against plain batch SQL instead of a data-dependent
    * "within one hour of each other" rule. Split into `batches`
    * arrivals at doc_id (= ingest-time) quantiles; `sentinelFinalBatch`
    * adds one far-future no-op doc (content shared with nothing) as the
    * FINAL arrival, so the closing watermark advance flushes every real
    * windowed aggregation. */
  private[streaming] def docsArrivals(spark: SparkSession, docs0: DataFrame,
      batches: Int, sentinelFinalBatch: Boolean): Replay.Arrivals = {
    val ids = docs0.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!ids.isNullAt(0), "docs replay over an EMPTY documents corpus")
    val (minId, maxId) = (ids.getLong(0), ids.getLong(1))
    // negative ids would precede the epoch and collide with the
    // sentinel's reserved doc_id = -1
    require(minId >= 0, s"docs replay needs non-negative doc_id, saw $minId")
    // +2: the id after the max must still be strictly inside the
    // horizon, so the ts of EVERY real doc (and the derived span
    // arithmetic below) has slack against the boundary
    val stepUs = if ((maxId + 2) * 1000L < DocsHorizonUs) 1000L else 1L
    require((maxId + 2) * stepUs < DocsHorizonUs,
      s"docs replay cannot fit max doc_id $maxId inside the " +
        s"${DocsHorizonUs / 1000000L} s watermark horizon even at 1 µs per " +
        "id: the streaming-dedup exactness contract (every duplicate pair " +
        "within the watermark delay) would break silently — shrink the " +
        "corpus or re-derive the timeline")
    val docs = docs0
      .select(col("doc_id"), col("lang"), col("text"),
        timestamp_micros(lit(DocsEpochUs) + col("doc_id") * lit(stepUs))
          .as("ingest_ts"))
    val fracs = (1 until batches)
      .map(i => s"CAST(${i.toDouble / batches} AS DOUBLE)").mkString(", ")
    val cuts = docs
      .selectExpr(s"percentile(doc_id, array($fracs)) AS c")
      .head().getSeq[Double](0).map(_.toLong)
    val bounds = (Long.MinValue +: cuts) zip (cuts :+ Long.MaxValue)
    val parts = bounds.map { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    // two days past the epoch ⇒ beyond every real ingest_ts (span <
    // horizon = 1 h) plus every window end; content collides with
    // nothing. Asserted, not assumed, against the derived span.
    val sentinelUs = DocsEpochUs + 48L * 3600L * 1000000L
    require(!sentinelFinalBatch ||
      sentinelUs > DocsEpochUs + (maxId + 2) * stepUs + DocsHorizonUs,
      "sentinel must land beyond every real ingest_ts + horizon")
    Replay.Arrivals(parts, if (!sentinelFinalBatch) Nil else Seq(spark.sql(
      s"""SELECT CAST(-1 AS BIGINT) AS doc_id, 'en' AS lang,
         |'zz1 zz2 zz3' AS text,
         |timestamp_micros(${sentinelUs}) AS ingest_ts""".stripMargin)))
  }

  /** The documents replay staged once per FULL parameter tuple — keying
    * only on (dir, variant) let a future caller reusing a variant name
    * with different batches/sentinel silently read the wrong replay
    * data (round-10 advice). */
  private def docsReplay(spark: SparkSession, dir: String, variant: String,
      select: DataFrame => DataFrame, batches: Int,
      sentinelFinalBatch: Boolean): Replay.Staged =
    Replay.stage(Some(("docs", dir, variant, batches, sentinelFinalBatch)))(
      docsArrivals(spark, select(graft.Tables.load(spark, dir, "documents")),
        batches, sentinelFinalBatch))

  /** [[curateStream]] executed through THREE micro-batches: content
    * dedup runs with real cross-batch state (a batch-2/3 copy of
    * batch-1 content is suppressed by carried state), then the gate.
    * Which duplicate's doc_id survives is first-seen — racy within a
    * parallel micro-batch — so the declared projection maps each
    * surviving CONTENT back to its canonical min-doc_id via one join
    * against the batch table (decoration only: the streamed dedup +
    * gate decide the row set, and a contract violation — duplicate
    * content emitted twice — would double a row and fail the oracle's
    * row diff). */
  def curateAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = docsReplay(spark, dir, "all", identity, batches = 3,
      sentinelFinalBatch = false)
    val q = Replay.run(curateStream(Replay.read(spark, src)), src)
    val canon = graft.Tables.load(spark, dir, "documents")
      .groupBy(xxhash64(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), min(col("lang")).as("lang"))
    spark.table(q.name)
      .select(col("content_hash"), col("n_words"), col("est_tokens"))
      .join(canon, Seq("content_hash"))
      .select(col("keep_id"), col("lang"), col("n_words"), col("est_tokens"))
      .orderBy(col("keep_id"))
  }

  /** [[decontaminateStream]] executed through THREE micro-batches:
    * each arriving training doc's hashed 5-gram shingles probe the
    * STATIC benchmark set (q55's held-out slice) via the stream-static
    * left-semi join; flagged ids dedup once across batches. Emitted
    * set = exactly the batch-contaminated ids — deterministic (ids,
    * not survivors), stated verbatim in the oracle. */
  def decontaminateAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = docsReplay(spark, dir, "all", identity, batches = 3,
      sentinelFinalBatch = false)
    val bench = graft.text.TextQueries.sharedHashedShingles(spark, dir, 5)
      .filter(col("doc_id") % 10 === 0)
      .select(col("shingle")).distinct()
    val q = Replay.run(decontaminateStream(
      Replay.read(spark, src).filter(col("doc_id") % 10 =!= 0), bench), src)
    spark.table(q.name).orderBy(col("doc_id"))
  }

  /** [[incrementalDedupStream]] executed through THREE micro-batches
    * (two real arrival splits of the `doc_id % 10 = 9` slice + the
    * sentinel arrival that closes the hour window): per-(new, old)
    * intersections accumulate in windowed state ACROSS the arrival
    * boundary, the static corpus posting lists are probed per batch
    * with no corpus shuffle, and the Jaccard refine joins sizes after
    * the stateful boundary. Oracled against the batch pair mirror with
    * identical size semantics (arriving = own distinct count, corpus =
    * df-capped posting size). */
  def incrementalDedupAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val src = docsReplay(spark, dir, "arriving",
      _.filter(col("doc_id") % 10 === 9), batches = 2, sentinelFinalBatch = true)
    val corpus = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 9)
    val posting = graft.text.TextQueries.cappedPostingLists(corpus).localCheckpoint()
    val sizes = graft.text.TextQueries.postingDocSizes(posting)
    try {
      // two real arrival splits + the sentinel arrival
      val q = Replay.run(incrementalDedupStream(Replay.read(spark, src),
        posting, sizes, threshold = 0.1), src)
      // the memory sink holds the emitted rows; the posting blocks are
      // no longer referenced once the replay has terminated
      spark.table(q.name)
        .select(col("doc_id"), col("d_old"), col("jaccard"))
        .orderBy(col("doc_id"), col("d_old"))
    } finally graft.Checkpoints.release(posting)
  }

  val declared: Seq[graft.Declared] = Seq(
    graft.Declared(
      "q194_stream_session_native",
      (s, dir) => sessionNativeAvailableNow(s, dir),
      // q23b's gaps-and-islands CTEs (merge at exactly-gap: > not >=)
      // restricted to the closed sessions: end (last event + 30min)
      // AT OR BELOW the final watermark (max event ms − 2h) — the <=
      // closure rule the planted-boundary spec pins.
      Some("""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us
        |      FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM flagged)
        |SELECT strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S.%f') AS sess_start,
        |  user_id, count(*) AS n_events
        |FROM sess CROSS JOIN m
        |GROUP BY user_id, sid, wm_us
        |HAVING max(us) + 1800000000 <= wm_us
        |ORDER BY user_id, sess_start""".stripMargin),
      doc = "Native session_window aggregation executed through THREE micro-batches - the session-state-store merge path (boundary-straddling sessions merge in keyed state); emitted set = watermark-closed sessions, stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q195_stream_semi_join",
      (s, dir) => semiJoinAvailableNow(s, dir),
      // Semi joins emit matched left rows eagerly; one micro-batch ⇒
      // emitted set = the batch EXISTS semi join, verbatim in SQL.
      Some("""SELECT p.event_id AS p_id, p.user_id AS p_user,
        |  epoch_us(p.ts) AS p_us
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |  AND EXISTS (SELECT 1 FROM events c
        |        WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)
        |ORDER BY p_id""".stripMargin),
      doc = "LEFT SEMI stream-stream interval join through AvailableNow - existence semantics with emitted-once left-side state, a distinct streaming join path from inner/outer",
      streamingExecuted = true),

    graft.Declared(
      "q193_stream_sessionize",
      (s, dir) => sessionizeAvailableNow(s, dir),
      // Gaps-and-islands sessionization (30-min gap on second-truncated
      // event times, (ts, event_id) order) + the two emission rules:
      // non-final sessions always emit (closed by the next event);
      // a user's final session emits iff its idle timer lands strictly
      // below the final watermark (max event ms − 2h) — the strict `<`
      // is Spark's event-time-timeout firing condition, pinned by the
      // planted-boundary spec.
      Some("""WITH e AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events),
        |m AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
        |b AS (
        |  SELECT user_id, ts, event_id, sec,
        |    CASE WHEN lag(sec) OVER w IS NULL
        |           OR sec - lag(sec) OVER w > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, sec,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b),
        |sess AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |         min(sec) AS start_sec, max(sec) AS end_sec
        |  FROM s GROUP BY 1, 2),
        |last AS (SELECT user_id, max(sid) AS mx_sid FROM sess GROUP BY 1)
        |SELECT sess.user_id, n_events, start_sec, end_sec
        |FROM sess JOIN last USING (user_id) CROSS JOIN m
        |WHERE sid < mx_sid OR (end_sec + 1800) * 1000 < wm_ms
        |ORDER BY user_id, start_sec""".stripMargin),
      doc = "Stateful streaming sessionization (flatMapGroupsWithState, EVENT-TIME timeout) through THREE micro-batches - boundary-straddling sessions merge from carried state, trailing idle sessions flush at the final watermark; both emission rules stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q183_stream_dedup",
      (s, dir) => dedupAvailableNow(s, dir),
      // Emission rule under the N-batch time-split replay: every
      // (user, type, hour) key emits exactly once (see
      // dedupAvailableNow) — the batch distinct, verbatim in SQL.
      Some("""SELECT user_id, event_type,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ts_h
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, ts_h""".stripMargin),
      doc = "Streaming exact dedup (dropDuplicatesWithinWatermark) executed through THREE micro-batches with cross-batch state suppression; emitted set stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q184_stream_max_gap",
      (s, dir) => maxGapAvailableNow(s, dir),
      // The telescoping fold over per-user (ts, event_id) order equals
      // the batch lag-window maximum; single-event users report 0.
      Some("""WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us
        |             FROM events),
        |g AS (SELECT user_id,
        |        us - lag(us) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS gap
        |      FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  coalesce(max(gap), 0) AS max_gap_us
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin),
      doc = "Per-user max inter-event gap via transformWithState (Spark 4 arbitrary-state API, RocksDB store) through THREE micro-batches - the boundary-spanning gap comes from carried state",
      streamingExecuted = true),

    graft.Declared(
      "q201_stream_window_topk",
      (s, dir) => windowTopKAvailableNow(s, dir),
      // Emitted set = watermark-closed windows (q168's rule), each
      // ranked top-3 by (count DESC, type ASC) — counts are exact, so
      // the ranking is deterministic under any batch split. The rule's
      // boundary (a timer landing EXACTLY on the final watermark fires:
      // expiry <= wm, matching the SQL's w_end <= mx - 2h) is pinned by
      // the planted equal-boundary spec in TwoBatchStreamSpec — it is
      // Spark's timer semantics, not an accident of the testdata.
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        |      FROM events GROUP BY 1, 2),
        |cl AS (SELECT c.* FROM c, m WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR),
        |r AS (SELECT ws, event_type, n,
        |        row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type) AS rank
        |      FROM cl)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start,
        |  CAST(rank AS INTEGER) AS rank, event_type, n
        |FROM r WHERE rank <= 3 ORDER BY w_start, rank""".stripMargin),
      doc = "Streaming per-window top-3 event types via transformWithState EVENT-TIME TIMERS (MapState counts, watermark-driven finalization) through THREE micro-batches",
      streamingExecuted = true),

    graft.Declared(
      "q168_stream_tumbling",
      (s, dir) => tumblingAvailableNow(s, dir),
      // The closed-window rule in SQL: a 1h window is emitted iff its
      // end is at or before the final watermark (max event time − 2h).
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |  event_type, count(*) AS n
        |FROM events, m
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),
      doc = "Tumbling 1h counts executed through Structured Streaming (AvailableNow) — emitted set = watermark-closed windows, stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q167_stream_ewma",
      (s, dir) => ewmaAvailableNow(s, dir),
      // Identical oracle to q158: streaming execution must converge to
      // the exact batch fold (the telescoping recurrence is the proof;
      // the e2e spec asserts it row-for-row too).
      Some("""WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         greatest(CAST(floor(value * 1e6) AS BIGINT), 0) AS v
        |  FROM events),
        |l AS (
        |  SELECT user_id, count(*) AS n_events,
        |         list(v ORDER BY ts, event_id) AS vs
        |  FROM e GROUP BY 1)
        |SELECT user_id, n_events,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
        |              (s, x) -> (s + x) // 2) AS ewma_micros
        |FROM l ORDER BY user_id""".stripMargin),
      doc = "Per-user EWMA executed through Structured Streaming (AvailableNow) — same oracle as batch q158",
      streamingExecuted = true),

    graft.Declared(
      "q169_stream_interval_join",
      (s, dir) => intervalJoinAvailableNow(s, dir),
      // Inner stream-stream joins emit matches eagerly; one micro-batch
      // ⇒ emitted set = the batch interval join, verbatim in SQL.
      Some("""SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.user_id AS p_user,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin),
      doc = "Stream-stream purchase×click interval join executed through Structured Streaming (AvailableNow)",
      streamingExecuted = true),

    graft.Declared(
      "q179_stream_outer_join",
      (s, dir) => leftJoinAvailableNow(s, dir),
      // Matched rows = the batch interval join; null-extended rows =
      // unmatched purchases whose click-side state the final watermark
      // closed. The global watermark is the MIN across the two
      // watermarked sides (multipleWatermarkPolicy=min), and each side
      // is a FILTERED stream — its event-time max is the max over its
      // own rows (purchases resp. clicks), not over all events. So the
      // eviction bound is p_ts < least(max purchase ts, max click ts)
      // − 1h — verified against the executed emission set at all three
      // SFs, then pinned here (the q168 closed-window-rule pattern).
      Some("""WITH m AS (
        |  SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
        |               max(CASE WHEN event_type = 'click' THEN ts END)) AS mx
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.p_id, p.p_user, c.c_id,
        |        epoch_us(p.p_ts) - epoch_us(c.c_ts) AS delay_us
        |      FROM p JOIN c ON p.p_user = c.c_user
        |       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts),
        |um AS (SELECT p.p_id, p.p_user,
        |         CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS BIGINT) AS delay_us
        |       FROM p, m
        |       WHERE NOT EXISTS (SELECT 1 FROM c
        |               WHERE c.c_user = p.p_user
        |                 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |                 AND c.c_ts <= p.p_ts)
        |         AND p.p_ts < mx - INTERVAL 1 HOUR)
        |SELECT p_id, p_user, c_id, delay_us FROM j
        |UNION ALL SELECT p_id, p_user, c_id, delay_us FROM um
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin),
      doc = "LEFT OUTER stream-stream interval join through AvailableNow — null-extension on watermark state eviction, the emission path the inner join never runs; eviction rule stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q212_stream_right_join",
      (s, dir) => rightJoinAvailableNow(s, dir),
      // Matched rows = the batch interval join; null-extended clicks
      // close at c_ts < wm − 30 min (q211's pinned forward-range rule),
      // through the dedicated right-outer state machine.
      Some("""WITH m AS (
        |  SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
        |               max(CASE WHEN event_type = 'click' THEN ts END)) AS mx
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT c.c_id, p.p_id, c.c_user AS user_id,
        |        epoch_us(p.p_ts) - epoch_us(c.c_ts) AS delay_us
        |      FROM p JOIN c ON p.p_user = c.c_user
        |       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts),
        |uc AS (SELECT c.c_id, CAST(NULL AS BIGINT) AS p_id, c.c_user AS user_id,
        |         CAST(NULL AS BIGINT) AS delay_us
        |       FROM c, m
        |       WHERE NOT EXISTS (SELECT 1 FROM p
        |               WHERE p.p_user = c.c_user
        |                 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |                 AND c.c_ts <= p.p_ts)
        |         AND c.c_ts < mx - INTERVAL 90 MINUTE)
        |SELECT c_id, p_id, user_id, delay_us FROM j
        |UNION ALL SELECT c_id, p_id, user_id, delay_us FROM uc
        |ORDER BY c_id, p_id NULLS FIRST""".stripMargin),
      doc = "RIGHT OUTER stream-stream interval join through AvailableNow - click-side null-extension at the forward-range eviction bound (c_ts < wm - 30min); completes the streaming join matrix",
      streamingExecuted = true),

    graft.Declared(
      "q211_stream_full_join",
      (s, dir) => fullJoinAvailableNow(s, dir),
      // Matched rows = the batch interval join; null-extended
      // purchases close at p_ts < wm (q179's pinned rule); null-
      // extended clicks close at c_ts < wm − 30 min (their match
      // range extends 30 min FORWARD, so state lives that much
      // longer). wm = least(max purchase ts, max click ts) − 1h —
      // each watermarked side is a filtered stream, global watermark
      // is the min across sides.
      Some("""WITH m AS (
        |  SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
        |               max(CASE WHEN event_type = 'click' THEN ts END)) AS mx
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.p_id, c.c_id, p.p_user AS user_id,
        |        epoch_us(p.p_ts) - epoch_us(c.c_ts) AS delay_us
        |      FROM p JOIN c ON p.p_user = c.c_user
        |       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts),
        |um AS (SELECT p.p_id, CAST(NULL AS BIGINT) AS c_id, p.p_user AS user_id,
        |         CAST(NULL AS BIGINT) AS delay_us
        |       FROM p, m
        |       WHERE NOT EXISTS (SELECT 1 FROM c
        |               WHERE c.c_user = p.p_user
        |                 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |                 AND c.c_ts <= p.p_ts)
        |         AND p.p_ts < mx - INTERVAL 1 HOUR),
        |uc AS (SELECT CAST(NULL AS BIGINT) AS p_id, c.c_id, c.c_user AS user_id,
        |         CAST(NULL AS BIGINT) AS delay_us
        |       FROM c, m
        |       WHERE NOT EXISTS (SELECT 1 FROM p
        |               WHERE p.p_user = c.c_user
        |                 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |                 AND c.c_ts <= p.p_ts)
        |         AND c.c_ts < mx - INTERVAL 90 MINUTE)
        |SELECT p_id, c_id, user_id, delay_us FROM j
        |UNION ALL SELECT p_id, c_id, user_id, delay_us FROM um
        |UNION ALL SELECT p_id, c_id, user_id, delay_us FROM uc
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin),
      doc = "FULL OUTER stream-stream interval join through AvailableNow - the state machine that null-extends BOTH sides, with each side's eviction rule (p_ts < wm; c_ts < wm - 30min, the forward match range) stated in SQL",
      streamingExecuted = true),

    graft.Declared(
      "q192_stream_kl_drift",
      (s, dir) => klDriftAvailableNow(s, dir),
      // Closed-window rule (q168) + the pinned type-ordered KL fold.
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events),
        |g AS MATERIALIZED (SELECT event_type, count(*) AS g
        |                   FROM events GROUP BY 1),
        |gt AS (SELECT CAST(sum(g) AS BIGINT) AS big_g FROM g),
        |w AS (SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        |      FROM events, m
        |      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |              <= mx - INTERVAL 2 HOUR
        |      GROUP BY 1, 2),
        |t AS (SELECT w.ws, sum(w.n) AS nw,
        |        list(struct_pack(et := w.event_type, n := w.n, g := g.g)
        |             ORDER BY w.event_type) AS ts
        |      FROM w JOIN g USING (event_type) GROUP BY w.ws)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start,
        |  CAST(nw AS BIGINT) AS n_events,
        |  CAST(floor(1e9 * list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(ts, s ->
        |      (CAST(s.n AS DOUBLE) / nw) *
        |      ln((CAST(s.n AS DOUBLE) / nw) / (CAST(s.g AS DOUBLE) / big_g)))),
        |    (a, x) -> a + x)) AS BIGINT) AS kl_nano
        |FROM t CROSS JOIN gt
        |ORDER BY w_start""".stripMargin),
      doc = "Streaming KL drift: per-closed-window event-type distribution vs the global reference, through the watermarked tumbling aggregation; nano-nat-quantized type-ordered fold",
      streamingExecuted = true),

    graft.Declared(
      "q191_stream_ann_ingest",
      (s, dir) => annIngestAvailableNow(s, dir),
      // Batch mirror: the q175 Lloyd's CTEs over the STATIC slice,
      // top-1 centroid routing for the arrival slice, candidates from
      // the routed list, 6-dp cosine top-5.
      Some {
        val eucl = graft.DuckSql.euclidean("p.qv", "c.cvec")
        s"""WITH ${graft.similarity.SimilarityQueries.kmeansPortableCtes(
              8, 3, " WHERE vec_id % 10 <> 0")},
          |lists AS MATERIALIZED (
          |  SELECT cid, id AS nbr, vec AS cv FROM (
          |    SELECT p.id, p.vec, c.cid,
          |      row_number() OVER (PARTITION BY p.id
          |        ORDER BY ${graft.DuckSql.euclidean("p.vec", "c.cvec")}, c.cid) AS rn
          |    FROM pts p CROSS JOIN k3 c) WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          |      WHERE vec_id % 10 = 0),
          |probe AS (
          |  SELECT qid, qv, cid FROM (
          |    SELECT p.qid, p.qv, c.cid,
          |      row_number() OVER (PARTITION BY p.qid
          |        ORDER BY $eucl, c.cid) AS rn
          |    FROM q p CROSS JOIN k3 c) WHERE rn = 1),
          |cand AS (
          |  SELECT p.qid, l.nbr,
          |    round(${graft.DuckSql.cosineSimilarity("p.qv", "l.cv")}, 6) AS sim
          |  FROM probe p JOIN lists l ON l.cid = p.cid)
          |SELECT qid, nbr, sim, CAST(rn AS INT) AS rn FROM (
          |  SELECT qid, nbr, sim,
          |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr) AS rn
          |  FROM cand)
          |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
      },
      doc = "Streaming ANN ingest: arriving vectors routed to the static portable-IVF index by the map-side codegen nearest-centroid argmin, matched through one stream-static list join - no streaming state, append mode; routing, index build and top-5 all replayed in the oracle",
      streamingExecuted = true),

    graft.Declared(
      "q170_stream_upsert",
      (s, dir) => upsertSinkAvailableNow(s, dir),
      // The foreachBatch MERGE over one batch from an empty prior =
      // batch CDC compaction of the whole table (q112's oracle shape
      // with the sink's tombstone rule value < 0.1).
      Some("""WITH r AS (SELECT *, value < 0.1 AS is_delete,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |SELECT user_id, event_id, ts, event_type, round(value, 6) AS value
        |FROM r WHERE rn = 1 AND NOT is_delete
        |ORDER BY user_id""".stripMargin),
      doc = "Streaming MERGE (foreachBatch upsert sink) executed end to end; final snapshot = batch CDC compaction",
      streamingExecuted = true),

    graft.Declared(
      "q204_stream_curate",
      (s, dir) => curateAvailableNow(s, dir),
      // The batch curation gate (q49's dedup → quality rule) with the
      // streamed first-seen survivor mapped to the canonical min
      // doc_id per content; the compressed ingest timeline keeps every
      // duplicate pair inside the watermark horizon, so the streamed
      // dedup is exact and the emitted CONTENT set equals the batch
      // group-by — stated verbatim.
      Some("""WITH dedup AS (
        |  SELECT text, min(doc_id) AS keep_id, min(lang) AS lang
        |  FROM documents GROUP BY text),
        |ann AS (
        |  SELECT keep_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |      / length(text), 4) AS nonalpha_ratio,
        |    CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_tokens
        |  FROM dedup)
        |SELECT keep_id, lang, n_words, est_tokens FROM ann
        |WHERE n_words >= 20 AND nonalpha_ratio <= 0.05
        |ORDER BY keep_id""".stripMargin),
      doc = "Streaming corpus curation (dropDuplicatesWithinWatermark content dedup + quality gate) executed through THREE micro-batches with cross-batch dedup state; kept content set = the batch gate",
      streamingExecuted = true),

    graft.Declared(
      "q205_stream_decontam",
      (s, dir) => decontaminateAvailableNow(s, dir),
      // Ingest-time contamination tripwire: emitted ids = training docs
      // sharing ≥ 1 5-gram with the held-out slice (q55's convention),
      // each flagged once across all batches.
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ws) - 3),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
        |       FROM w WHERE len(ws) >= 5),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
        |SELECT DISTINCT doc_id FROM sh
        |WHERE doc_id % 10 <> 0 AND shingle IN (SELECT shingle FROM bench)
        |ORDER BY doc_id""".stripMargin),
      doc = "Streaming decontamination (stream-static semi join against the benchmark shingle set + once-per-doc dedup) executed through THREE micro-batches; flagged set = the batch q55 contamination rule",
      streamingExecuted = true),

    graft.Declared(
      "q206_stream_inc_dedup",
      (s, dir) => incrementalDedupAvailableNow(s, dir),
      // q105's shape at ingest time: arriving (doc_id % 10 = 9) docs
      // probe the STATIC corpus posting lists (df-capped on corpus
      // frequency); arriving size = the doc's own distinct shingle
      // count, corpus size = its capped posting size; pairs at
      // jaccard ≥ 0.1 emit when the sentinel-advanced watermark closes
      // the hour window.
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |       FROM w WHERE len(ws) >= 3),
        |corp AS (SELECT * FROM sh0 WHERE doc_id % 10 <> 9),
        |keep AS (SELECT shingle FROM corp GROUP BY shingle
        |         HAVING count(*) <= ${graft.text.TextQueries.MaxShingleDf}),
        |cp AS (SELECT corp.* FROM corp JOIN keep USING (shingle)),
        |csz AS (SELECT doc_id, count(*) AS sz FROM cp GROUP BY doc_id),
        |arr AS (SELECT * FROM sh0 WHERE doc_id % 10 = 9),
        |asz AS (SELECT doc_id, count(*) AS n_sh FROM arr GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS doc_id, c.doc_id AS d_old, count(*) AS inter
        |      FROM arr a JOIN cp c ON a.shingle = c.shingle GROUP BY 1, 2)
        |SELECT doc_id, d_old, jaccard FROM (
        |  SELECT i.doc_id, i.d_old,
        |    round(CAST(inter AS DOUBLE) / CAST(n_sh + sz - inter AS DOUBLE), 4) AS jaccard
        |  FROM i JOIN asz USING (doc_id) JOIN csz ON i.d_old = csz.doc_id)
        |WHERE jaccard >= 0.1 ORDER BY doc_id, d_old""".stripMargin),
      doc = "Streaming incremental dedup (stream-static posting probe + watermarked windowed intersection state) executed through THREE micro-batches incl. the sentinel watermark flush; pair set = the batch mirror",
      streamingExecuted = true)
  )
}
