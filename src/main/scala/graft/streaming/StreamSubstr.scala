package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{Declared, Tables}

/** STREAMING exact-substring decontamination at span granularity
  * (round-11 verdict #5 / SURVEY frontier #1): the q213 maximal-span
  * rule — Lee et al.'s ≥ 50-token maximal shared substrings — applied
  * to a document stream probing a STATIC reference corpus, with the
  * per-(pair, diagonal) RUN STATE carried across micro-batches via
  * `transformWithState`. The streamed dedup matrix previously stopped
  * at 50-gram KEYS (q205); this reaches the same span granularity as
  * the batch family.
  *
  * Why runs straddle batches at all: documents arrive CHUNKED — the
  * replay source splits every arriving document's gram-start space
  * into 3 ranges, one per micro-batch (each chunk ships its token
  * slice with the (n−1)-token overlap, so gram hashing stays
  * chunk-local and stateless — the q208 overlap trick). A shared
  * substring crossing a chunk boundary is therefore an OPEN RUN in
  * keyed state when its batch ends: the processor extends it in the
  * next batch (consecutive gram start on the same diagonal), closes
  * it on a gap, and an event-time timer flushes whatever is still
  * open when the sentinel's watermark passes — runs that reach the
  * end of a document can only emit through the timer.
  *
  * Exactness: emitted spans = the batch q213 span rule restricted to
  * (static corpus doc, arriving doc) pairs, stated verbatim in the
  * oracle (the chain-merge islands as SQL; Spark hashes grams, the
  * oracle compares gram STRINGS — a hash collision fails the driver
  * diff rather than hiding, q69's convention).
  *
  * Scale shape: the static side is a capped posting table probed by a
  * stream-static equi-join on the gram key (the corpus never shuffles
  * per batch — q55/q183's decontamination shape, occurrence-capped
  * like ExactSubstr's maxOcc so Σocc² stays bounded); keyed state is
  * ONE open run (two longs) per active (pair, diagonal); per-batch
  * work is linear in the chunk's grams. */
object StreamSubstr {

  private val N = graft.text.ExactSubstr.MinTokens // 50
  private val MaxOcc = graft.text.ExactSubstr.MaxOcc
  private val Chunks = 3

  /** Event-time flush point for open runs: far past every chunk ts
    * (epoch + chunk-hour offsets), far before the sentinel arrival
    * (epoch + 48 h) whose watermark advance fires it. */
  private[streaming] def flushMs: Long =
    StreamingPipelines.DocsEpochUs / 1000L + 24L * 3600L * 1000L

  final case class MatchRow(doc_a: Long, doc_b: Long, d: Long, pa: Long,
                            ingest_ts: java.sql.Timestamp)
  final case class RunState(s: Long, e: Long)
  final case class SpanOut(doc_a: Long, a_start: Long, a_end: Long,
                           doc_b: Long, b_start: Long, b_end: Long,
                           len_tokens: Long)

  /** Per-(doc_a, doc_b, diagonal) run chain-merge: consecutive matched
    * gram starts extend the open run, a gap closes and emits it, the
    * event-time timer flushes the final open run. Arrival order per
    * key is guaranteed by the chunked replay (chunk i's gram-start
    * range precedes chunk i+1's) plus the in-batch sort. */
  class SpanRunProcessor(n: Int, flushAtMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, Long, Long), MatchRow, SpanOut] {
    @transient private var run: org.apache.spark.sql.streaming.ValueState[RunState] = _
    @transient private var armed: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      run = getHandle.getValueState[RunState]("run",
        org.apache.spark.sql.Encoders.product[RunState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def emit(key: (Long, Long, Long), r: RunState): SpanOut = {
      val (docA, docB, d) = key
      SpanOut(docA, r.s, r.e + (n - 1), docB, r.s + d, r.e + (n - 1) + d,
        r.e - r.s + n)
    }

    override def handleInputRows(key: (Long, Long, Long),
        rows: Iterator[MatchRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SpanOut] = {
      val out = Seq.newBuilder[SpanOut]
      var st: Option[RunState] = if (run.exists()) Some(run.get()) else None
      rows.toSeq.map(_.pa).sorted.foreach { pa =>
        st match {
          case None => st = Some(RunState(pa, pa))
          case Some(r) if pa == r.e + 1 => st = Some(RunState(r.s, pa))
          case Some(r) if pa > r.e + 1 =>
            out += emit(key, r); st = Some(RunState(pa, pa))
          case Some(_) => () // pa <= e cannot occur (unique positions)
        }
      }
      st.foreach(run.update)
      if (!armed.exists()) {
        getHandle.registerTimer(flushAtMs)
        armed.update(true)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Long, Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SpanOut] = {
      val tail = if (run.exists()) Iterator(emit(key, run.get())) else Iterator.empty
      run.clear(); armed.clear()
      tail
    }
  }

  /** The stream transform: chunk rows (doc_id, off, text, ingest_ts) →
    * positional grams (hashes identical to
    * [[graft.text.SpanDedup.positionalGrams]], global position =
    * chunk-local + off) → stream-static probe of the capped corpus
    * posting table → keyed run chain-merge. */
  def substrSpanStream(chunks: DataFrame, staticGrams: DataFrame)
      : org.apache.spark.sql.Dataset[SpanOut] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val ws = col("ws")
    // watermark at the SOURCE, before any filter/join: the sentinel
    // arrivals carry no grams, so a downstream watermark node would
    // never see their event times and the flush timers would starve
    // (measured: the watermark stalled at the chunk-3 era)
    val gb = chunks.withWatermark("ingest_ts", "2 hours")
      .select(col("doc_id").as("doc_b"), col("off"), col("ingest_ts"),
        split(col("text"), " ").as("ws"))
      .filter(size(ws) >= N)
      .select(col("doc_b"), col("off"), col("ingest_ts"),
        posexplode(transform(
          sequence(lit(1), size(ws) - lit(N - 1)),
          i => xxhash64((0 until N).map(o => element_at(ws, i + lit(o))): _*))))
      .select(col("doc_b"), (col("pos") + 1 + col("off")).cast("long").as("pb"),
        col("col").as("g"), col("ingest_ts"))
    gb.join(staticGrams, "g")
      .select(col("doc_a"), col("doc_b"), (col("pb") - col("pa")).as("d"),
        col("pa"), col("ingest_ts"))
      .as[MatchRow]
      .groupByKey(r => (r.doc_a, r.doc_b, r.d))
      .transformWithState(new SpanRunProcessor(N, flushMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Occurrence-capped static posting table (g, doc_a, pa) for the
    * reference slice — the corpus side of the probe, computed once. */
  def staticGramTable(corpus: DataFrame, maxOcc: Int = MaxOcc): DataFrame = {
    val g = graft.text.SpanDedup.positionalGrams(corpus, N)
    val keep = g.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOcc).select(col("g"))
    g.join(keep, Seq("g"))
      .select(col("g"), col("doc_id").as("doc_a"), col("p").as("pa"))
  }

  /** The CHUNKED replay input: every arriving document's gram-start
    * space [1, T−n+1] cut into [[Chunks]] ranges; arrival i carries,
    * for every doc, the token slice covering its range plus the
    * (n−1)-token overlap (`off` = slice start − 1 restores global
    * positions). Chunk i of every doc lands in arrival i, so every
    * multi-chunk run straddles both batch boundaries. Sentinel
    * arrivals close the stream (fire the flush timers).
    *
    * EMPTY chunk ranges are skipped when staged (round-12 advice: a
    * corpus of barely-N-token docs leaves chunks 2..3 with no gram
    * starts at all; zero-row parts never run as data micro-batches, so
    * a hard `Chunks + 2` expectation errored on VALID input) — the
    * expected batch count is derived from what was written. */
  private[graft] def chunkArrivals(spark: SparkSession, docs: DataFrame): Replay.Arrivals = {
    val epochUs = StreamingPipelines.DocsEpochUs
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("t", size(col("ws")))
      .withColumn("sCount", greatest(col("t") - lit(N - 1), lit(0)))
      .filter(col("sCount") >= 1)
    val chunks = (0 until Chunks).map { i =>
      val lo = (col("sCount") * i / Chunks) + 1
      val hi = col("sCount") * (i + 1) / Chunks
      base
        .withColumn("lo", lo.cast("int")).withColumn("hi", hi.cast("int"))
        .filter(col("hi") >= col("lo"))
        .select(col("doc_id"),
          (col("lo") - 1).cast("long").as("off"),
          concat_ws(" ", slice(col("ws"), col("lo"),
            col("hi") - col("lo") + lit(N))).as("text"),
          timestamp_micros(lit(epochUs) + lit(i * 3600L * 1000000L) +
            col("doc_id") * lit(1000L)).as("ingest_ts"))
    }
    // TWO sentinel arrivals: timers are evaluated against the
    // watermark as of each batch's START (the watermark advance from a
    // batch's own rows lands at its end), so the first sentinel pushes
    // the watermark past the flush point and the SECOND's batch
    // processes the then-expired timers — measured: with one sentinel
    // the flush never ran (no post-data no-data batch under
    // AvailableNow on this engine build). Each sentinel carries n
    // UNIQUE throwaway tokens: Catalyst pushes the ≥ n-token filter
    // BELOW the source watermark node, so a short sentinel would be
    // dropped before its event time is even counted (measured: the
    // watermark froze at the chunk-3 era) — the tokens match nothing,
    // the probe join still discards the row, only the timestamp lands.
    val sentinels = Seq(48L, 72L).zipWithIndex.map { case (h, j) =>
      val sentinelUs = epochUs + h * 3600L * 1000000L
      val filler = (0 until N).map(i => s"zzsent${j}w$i").mkString(" ")
      spark.sql(
        s"""SELECT CAST(${-1L - j} AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS off,
           |'$filler' AS text, timestamp_micros($sentinelUs) AS ingest_ts""".stripMargin)
    }
    Replay.Arrivals(chunks, sentinels)
  }

  /** Run the span operator over a staged chunk replay: `corpus` = the
    * static reference slice. */
  private[graft] def spans(spark: SparkSession, corpus: DataFrame,
      src: Replay.Staged): DataFrame = {
    val posting = staticGramTable(corpus).localCheckpoint()
    try {
      val q = Replay.run(substrSpanStream(Replay.read(spark, src), posting).toDF(), src,
        rocksDb = true)
      spark.table(q.name)
        .select(col("doc_a"), col("a_start"), col("a_end"),
          col("doc_b"), col("b_start"), col("b_end"), col("len_tokens"))
        .orderBy(col("doc_a"), col("a_start"), col("doc_b"), col("b_start"))
    } finally graft.Checkpoints.release(posting)
  }

  /** q222 declared: documents with doc_id % 10 = 0 are the static
    * reference corpus (the q55/q189 held-out-slice convention), the
    * rest stream through in 3 chunked arrivals. */
  def substrSpansAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    spans(spark, docs.filter(col("doc_id") % 10 === 0),
      Replay.stage(Some(("chunks", dir)))(
        chunkArrivals(spark, docs.filter(col("doc_id") % 10 =!= 0))))
  }

  /** q213's span CTEs restricted to (static, arriving) pairs; the
    * static side occurrence-capped exactly like the posting table. */
  private def oracle(n: Int, maxOcc: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, p, list_aggregate(ws[p:p+${n - 1}], 'string_agg', ' ') AS gram
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${n - 2})) AS p
       |        FROM w WHERE len(ws) >= $n)),
       |ga AS (SELECT doc_id, p, gram FROM g WHERE doc_id % 10 = 0),
       |keep AS (SELECT gram FROM ga GROUP BY gram HAVING count(*) <= $maxOcc),
       |ga2 AS (SELECT ga.doc_id, ga.p, ga.gram FROM ga JOIN keep USING (gram)),
       |gb AS (SELECT doc_id, p, gram FROM g WHERE doc_id % 10 <> 0),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              b.p - a.p AS d, a.p AS pa
       |       FROM ga2 a JOIN gb b ON a.gram = b.gram),
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
      "q222_stream_substr_spans",
      (s, dir) => substrSpansAvailableNow(s, dir),
      Some(oracle(N, MaxOcc)),
      doc = "STREAMING exact-substring decontamination at span granularity (round-11 verdict #5): arriving documents chunked across 3 micro-batches probe the static corpus posting table; per-(pair, diagonal) maximal runs carried in transformWithState across the batch boundaries, gap-closed or timer-flushed - emitted spans equal the batch q213 rule restricted to (static, arriving) pairs, stated verbatim in the oracle",
      streamingExecuted = true)
  )
}
