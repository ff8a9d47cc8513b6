package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{Declared, Tables}

/** STREAMING exact-substring SELF-dedup at span granularity (round-12
  * verdict #6 / SURVEY frontier #3): q222 decontaminates a stream
  * against a STATIC corpus; here the stream dedups against ITSELF —
  * every arriving document pairs with EARLIER arrivals, so the gram
  * posting table cannot be precomputed: it accumulates in KEYED STATE
  * (`ListState` per gram) as documents arrive. Two chained
  * `transformWithState` operators in ONE streaming query:
  *
  *  1. POSTING stage, keyed by gram hash: each batch's grams first
  *     probe the state (all stored postings are from strictly earlier
  *     arrival waves — whole documents arrive per wave, so in-batch
  *     pairs are same-wave and excluded by the rule), emitting
  *     (earlier doc, arriving doc, diagonal, position) match rows;
  *     then the batch's own grams append to the posting list, capped
  *     at [[MaxOcc]] entries per gram in arrival order — the PREFIX
  *     cap (a stream cannot know a gram's future total occurrence
  *     count, so unlike the batch family's drop-if-over-cap rule the
  *     streamed rule keeps the first maxOcc postings and matches
  *     later arrivals against them; the oracle states exactly this).
  *     Declares `ingest_ts` as its output event-time column — the
  *     chaining contract that lets a second stateful operator follow.
  *  2. The q222 diagonal-run stage VERBATIM
  *     ([[StreamSubstr.SpanRunProcessor]]): per-(pair, diagonal)
  *     maximal runs, gap-closed in-batch, watermark-timer flushed.
  *     Because documents arrive whole, all matches of a pair land in
  *     one batch — the run state here exercises the timer-flush path
  *     (runs reaching a document's end emit only via the timer).
  *
  * Exactness: emitted spans = the batch q213 span rule restricted to
  * (earlier wave, later wave) arrival pairs under the prefix cap,
  * stated verbatim in the oracle (gram STRINGS in SQL vs xxhash64 in
  * Spark — a collision fails the driver diff rather than hiding).
  *
  * Scale shape: state is the posting table itself, sharded by gram
  * key across the state store (the production streamed-dedup shape —
  * nothing is broadcast, no corpus rescan per batch); per-gram state
  * is bounded by the cap, per-batch work is Σ(batch grams × stored
  * postings) — the same Σocc² bound the batch family caps. */
object StreamSelfDedup {

  private val N = graft.text.ExactSubstr.MinTokens // 50
  private val MaxOcc = graft.text.ExactSubstr.MaxOcc
  private val Waves = 3

  final case class GramRow(g: Long, doc_id: Long, p: Long,
                           ingest_ts: java.sql.Timestamp)
  final case class Post(doc_id: Long, p: Long)

  /** Gram-posting processor: probe-then-append per batch (see object
    * doc). State per gram = at most [[MaxOcc]] (doc, position) pairs
    * in arrival order; emission order inside a batch is the
    * deterministic (doc_id, p) sort, and the downstream run stage
    * sorts per key anyway. */
  class PostingProcessor(maxOcc: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, GramRow, StreamSubstr.MatchRow] {
    @transient private var posts: org.apache.spark.sql.streaming.ListState[Post] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      posts = getHandle.getListState[Post]("posts",
        org.apache.spark.sql.Encoders.product[Post],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[GramRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[StreamSubstr.MatchRow] = {
      val stored = posts.get().toSeq // ≤ maxOcc, all strictly earlier waves
      val rs = rows.toSeq.sortBy(r => (r.doc_id, r.p))
      val out = for (b <- rs; a <- stored) yield
        StreamSubstr.MatchRow(a.doc_id, b.doc_id, b.p - a.p, a.p, b.ingest_ts)
      var room = maxOcc - stored.size
      rs.foreach { r =>
        if (room > 0) { posts.appendValue(Post(r.doc_id, r.p)); room -= 1 }
      }
      out.iterator
    }
  }

  /** The chained two-stage stream transform: whole-doc arrivals →
    * positional grams → posting stage (state probe + append, event
    * time re-declared on its output) → the q222 run stage. */
  def selfDedupSpanStream(docs: DataFrame)
      : org.apache.spark.sql.Dataset[StreamSubstr.SpanOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = col("ws")
    // watermark at the SOURCE (the q222 finding: sentinel rows must
    // survive every pushable filter, so they carry N unique tokens)
    val grams = docs.withWatermark("ingest_ts", "2 hours")
      .select(col("doc_id"), col("ingest_ts"), split(col("text"), " ").as("ws"))
      .filter(size(ws) >= N)
      .select(col("doc_id"), col("ingest_ts"),
        posexplode(transform(
          sequence(lit(1), size(ws) - lit(N - 1)),
          i => xxhash64((0 until N).map(o => element_at(ws, i + lit(o))): _*))))
      .select(col("col").as("g"), col("doc_id"),
        (col("pos") + 1).cast("long").as("p"), col("ingest_ts"))
      .as[GramRow]
    grams
      .groupByKey(_.g)
      .transformWithState(new PostingProcessor(MaxOcc),
        "ingest_ts", OutputMode.Append())
      .groupByKey(r => (r.doc_a, r.doc_b, r.d))
      .transformWithState(
        new StreamSubstr.SpanRunProcessor(N, StreamSubstr.flushMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The WAVE replay input: whole documents, wave = doc_id mod
    * [[Waves]], one arrival per wave (ts = epoch + wave·1h + doc_id·1ms)
    * — so every cross-wave pair's matches probe state written by an
    * earlier batch. Empty waves are skipped (the q222 empty-chunk
    * rule); two far-future sentinel arrivals close the stream (the
    * two-sentinel timer contract). */
  private[graft] def waveArrivals(spark: SparkSession, docs: DataFrame): Replay.Arrivals = {
    val epochUs = StreamingPipelines.DocsEpochUs
    val base = docs.select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= N)
    val waves = (0 until Waves).map { w =>
      base.filter(pmod(col("doc_id"), lit(Waves.toLong)) === w)
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(epochUs) + lit(w * 3600L * 1000000L) +
            col("doc_id") * lit(1000L)).as("ingest_ts"))
    }
    val sentinels = Seq(48L, 72L).zipWithIndex.map { case (h, j) =>
      val sentinelUs = epochUs + h * 3600L * 1000000L
      val filler = (0 until N).map(i => s"zzself${j}w$i").mkString(" ")
      spark.sql(
        s"""SELECT CAST(${-1L - j} AS BIGINT) AS doc_id,
           |'$filler' AS text, timestamp_micros($sentinelUs) AS ingest_ts""".stripMargin)
    }
    Replay.Arrivals(waves, sentinels)
  }

  /** Run the self-dedup over a staged wave replay; `onProgress` sees
    * the run's per-batch progress (the scale harness's state-store
    * telemetry: "the corpus IS the state" deserves a measured
    * rows/bytes-per-wave number, not prose). */
  private[graft] def spans(spark: SparkSession, src: Replay.Staged,
      onProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]
        => Unit = _ => ()): DataFrame = {
    val q = Replay.run(selfDedupSpanStream(Replay.read(spark, src)).toDF(), src,
      rocksDb = true)
    onProgress(q.recentProgress)
    spark.table(q.name)
      .select(col("doc_a"), col("a_start"), col("a_end"),
        col("doc_b"), col("b_start"), col("b_end"), col("len_tokens"))
      .orderBy(col("doc_a"), col("a_start"), col("doc_b"), col("b_start"))
  }

  /** q228 declared: ALL documents stream (self-dedup), three waves. */
  def selfDedupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    spans(spark, Replay.stage(Some(("waves", dir)))(
      waveArrivals(spark, Tables.load(spark, dir, "documents"))))

  /** The streamed rule as SQL: postings ranked per gram by arrival
    * order (wave, doc_id, p) and PREFIX-capped at maxOcc; matches =
    * kept postings × strictly-later-wave occurrences of the same gram;
    * islands per (pair, diagonal) — q213's chain-merge CTEs. */
  private def oracle(n: Int, maxOcc: Int, waves: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, p, list_aggregate(ws[p:p+${n - 1}], 'string_agg', ' ') AS gram,
       |         doc_id % $waves AS wave
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${n - 2})) AS p
       |        FROM w WHERE len(ws) >= $n)),
       |kept AS (
       |  SELECT doc_id, p, gram, wave FROM (
       |    SELECT doc_id, p, gram, wave,
       |      row_number() OVER (PARTITION BY gram
       |        ORDER BY wave, doc_id, p) AS prn
       |    FROM g) WHERE prn <= $maxOcc),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              b.p - a.p AS d, a.p AS pa
       |       FROM kept a JOIN g b ON a.gram = b.gram AND b.wave > a.wave),
       |i AS (SELECT doc_a, doc_b, d, pa,
       |        CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_a, doc_b, d
       |                                     ORDER BY pa) = 1
       |             THEN 0 ELSE 1 END AS brk
       |      FROM pr),
       |si AS (SELECT doc_a, doc_b, d, pa,
       |         sum(brk) OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS island
       |       FROM i)
       |SELECT doc_a, min(pa) AS a_start, max(pa) + ${n - 1} AS a_end,
       |       doc_b, min(pa) + d AS b_start, max(pa) + ${n - 1} + d AS b_end,
       |       max(pa) - min(pa) + $n AS len_tokens
       |FROM si GROUP BY doc_a, doc_b, d, island
       |ORDER BY doc_a, a_start, doc_b, b_start""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared(
      "q228_stream_selfdedup_spans",
      (s, dir) => selfDedupAvailableNow(s, dir),
      Some(oracle(N, MaxOcc, Waves)),
      doc = "STREAMING exact-substring SELF-dedup (round-12 verdict #6): the gram posting table itself lives in keyed ListState, accumulating as documents arrive in 3 waves - each batch probes the state for earlier arrivals then appends its own grams (prefix-capped), and the emitted matches chain into q222's diagonal-run stage, two transformWithState operators in ONE query; spans equal the batch q213 rule restricted to (earlier, later) arrival pairs, stated verbatim in the oracle",
      streamingExecuted = true)
  )
}
