package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** Corpus-distribution diagnostics — the "what is in this corpus"
  * reports a pipeline runs before and after every curation change:
  *
  *  - document-length histogram with cumulative share (the plot every
  *    data card carries; also the input to choosing chunking/packing
  *    budgets);
  *  - per-source unigram KL divergence vs the whole corpus — the
  *    drift/skew measure for mixture decisions: a source whose word
  *    distribution diverges hardest from the corpus is the one whose
  *    up/down-weighting moves the mixture most.
  *
  * Double determinism: KL terms are computed from integer counts with
  * an identical expression shape on both engines, quantized to integer
  * nano-nats per (source, word) BEFORE the sum (q68's idiom) — long
  * addition is order-independent where float addition is not.
  */
object CorpusStats {

  /** Fixed-width `width`-char length histogram: per bucket, doc count,
    * char bounds, and running cumulative document share. The cumulative
    * window runs over ≤ (max_chars/width) aggregated rows, not the
    * corpus. */
  def lengthHistogram(docs: DataFrame, width: Int = 200): DataFrame = {
    val agg = docs
      .groupBy((floor(col("n_chars") / width) * width).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    val total = agg.agg(sum(col("n_docs")).as("n_total"))
    val w = Window.orderBy(col("bucket_lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg.crossJoin(broadcast(total))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .select(col("bucket_lo"), col("n_docs"), col("min_chars"), col("max_chars"),
        round(col("cum_docs").cast("double") / col("n_total"), 4).as("cum_share"))
      .orderBy(col("bucket_lo"))
  }

  /** Per-source unigram KL(source ‖ corpus) over lower-cased
    * whitespace tokens: Σ_w p_s(w) · ln(p_s(w)/p(w)), with every term
    * derived from the four integer counts (c_sw, t_s, c_w, t) and
    * quantized to nano-nats before summation. Every source word occurs
    * in the corpus by construction, so no zero-division exists. */
  def sourceKlDrift(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
    // csw feeds three consumers (cw, ts, the scoring join); checkpoint
    // once so the token explode + agg don't re-run per consumer
    val csw = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      .localCheckpoint()
    val cw = csw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ts = csw.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
    val t = cw.agg(sum(col("c_w")).as("t"))
    val term = col("c_sw").cast("double") / col("t_s")
    val klNano = round(term * log(term / (col("c_w").cast("double") / col("t"))) * 1e9)
      .cast("long")
    csw.join(cw, Seq("w"))
      .join(broadcast(ts), Seq("source"))
      .crossJoin(broadcast(t))
      .withColumn("kl_nano", klNano)
      .groupBy(col("source"), col("t_s"))
      .agg(count(lit(1)).as("vocab"), sum(col("kl_nano")).as("kl_nano_sum"))
      .select(col("source"), col("t_s").as("n_tokens"), col("vocab"),
        round(col("kl_nano_sum").cast("double") / 1e9, 6).as("kl_divergence"))
      .orderBy(col("source"))
  }

  /** Equi-depth (equi-height) histogram at value grain: the corpus
    * first collapses to (n_chars, count) — one map-combinable agg, at
    * most max-length distinct rows at ANY corpus size — then each
    * distinct length lands in decile floor(cum_before·B / N). The
    * cumulative window runs over the tiny aggregated table only (the
    * q71 idiom), never the corpus, so there is no global sort of the
    * data anywhere — this is how equi-depth boundaries are computed
    * at 100 TB, where an ntile() over the raw rows would funnel the
    * whole table through one partition.
    *
    * Integer determinism: bucket = floor of an exact-integer double
    * division (all operands < 2⁵³; a correctly-rounded quotient of
    * exact integers floors identically on both engines). */
  def equiDepthHistogram(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val byLen = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
    val total = byLen.agg(sum(col("cnt")).as("n_total"))
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byLen
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("bucket",
        floor(col("cum_before") * lit(buckets.toDouble) / col("n_total"))
          .cast("int"))
      .groupBy(col("bucket"))
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
        sum(col("cnt")).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Count-Min-Sketch frequency estimates for a fixed probe vocabulary
    * (the stopword list): the sketch builds in ONE distributed pass
    * with a merge-law partial aggregation — no (word) shuffle at any
    * corpus size, unlike the exact q56 groupBy — and the driver probes
    * a constant list of words against the merged sketch. Seeded ⇒
    * deterministic; overestimate-only by construction (CMS never
    * undercounts). The spec proves both vs exact counts. */
  def cmsStopwordCounts(docs: DataFrame,
                        eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(split(lower(col("text")), " ")).as("w"))
    val cms = toks.stat.countMinSketch(col("w"), eps, confidence, seed = 42)
    TextQueries.Stopwords
      .map(w => (w, cms.estimateCount(w)))
      .toDF("word", "est_count")
      .orderBy(col("word"))
  }

  /** [[cmsStopwordCounts]]' oracle-mirrorable twin (the portable-twin
    * doctrine applied to the counter sketch): the SAME
    * depth×width counter array and min-over-rows estimate, with the
    * hash family the portable md5 convention instead of the JVM
    * sketch's internal hashing. Counters are exact integer sums over a
    * BOUNDED key space (depth × width), so the whole sketch — build,
    * merge, probe — is one map-side-combined aggregation plus a probe
    * join, and nothing can drift cross-engine. The built-in-sketch
    * form (q74) stays the throughput path.
    *
    * Row buckets derive Kirsch–Mitzenmacher-style from ONE md5 per
    * token (two 56-bit lanes, `b_r = (h1 + r·h2) mod width`) — the
    * same hoisted-lane convention as the portable Bloom
    * ([[LineDedup.bloomDecontaminatePortable]]); the earlier form paid
    * `depth` md5 computations per token, which the round-11 honest
    * bench action exposed as the query's dominant cost. CMS's
    * overestimate-only property is UNconditional (every row's counter
    * includes the true count, min can only over-count); only the ε/δ
    * independence analysis weakens under correlated rows — acceptable
    * for the twin whose purpose is cross-engine replayability, proven
    * by the overestimate/wide-exact spec either way. */
  def cmsPortable(docs: DataFrame, probes: Seq[String],
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def lanes(df: DataFrame, wCol: String): DataFrame = df
      .withColumn("cms_md5", md5(concat(lit("cms|"), col(wCol))))
      .select(col(wCol),
        conv(substring(col("cms_md5"), 1, 14), 16, 10).cast("long").as("h1"),
        conv(substring(col("cms_md5"), 17, 14), 16, 10).cast("long").as("h2"))
    def rowBuckets: org.apache.spark.sql.Column = posexplode(array(
      (0 until depth).map(r =>
        pmod(col("h1") + lit(r.toLong) * col("h2"), lit(width.toLong))): _*))
    val counters = lanes(
        docs.select(explode(split(lower(col("text")), " ")).as("w")), "w")
      .select(rowBuckets)
      .select(col("pos").as("r"), col("col").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    val probeRows = lanes(probes.toDF("word"), "word")
      .select(col("word"), rowBuckets)
      .select(col("word"), col("pos").as("r"), col("col").as("b"))
    probeRows.join(counters, Seq("r", "b"), "left")
      .groupBy(col("word"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
      .orderBy(col("word"))
  }

  private def cmsPortableOracle(probes: Seq[String],
                                depth: Int, width: Int): String = {
    val vals = probes.map(w => s"('$w')").mkString(", ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
       |lanes AS MATERIALIZED (
       |  SELECT CAST(('0x' || substr(md5('cms|' || w), 1, 14)) AS BIGINT) AS h1,
       |         CAST(('0x' || substr(md5('cms|' || w), 17, 14)) AS BIGINT) AS h2
       |  FROM toks),
       |cnts AS MATERIALIZED (
       |  SELECT r, (h1 + r * h2) % $width AS b, count(*) AS cnt
       |  FROM lanes, range($depth) t(r) GROUP BY 1, 2),
       |p AS (
       |  SELECT word, r,
       |    (CAST(('0x' || substr(md5('cms|' || word), 1, 14)) AS BIGINT)
       |     + r * CAST(('0x' || substr(md5('cms|' || word), 17, 14)) AS BIGINT))
       |    % $width AS b
       |  FROM (VALUES $vals) v(word), range($depth) t(r))
       |SELECT word, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
       |FROM p LEFT JOIN cnts USING (r, b)
       |GROUP BY word ORDER BY word""".stripMargin
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * trigrams whose globally FIRST occurrence (by doc_id order) is this
    * doc — the curve dataset builders plot to see where a corpus stops
    * contributing new content (falling novelty ⇒ the tail is
    * re-crawls/boilerplate; also the signal behind "dedup before you
    * scale" decisions).
    *
    * Scale shape: one pass builds the distinct (doc, shingle-hash)
    * table; the global first-occurrence is a map-combinable min(doc_id)
    * per shingle; attribution is ONE co-partitioned join back on the
    * shingle key (both sides already hash-partitioned by it). Novelty
    * is floor-ppm over two exact integers. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    // no checkpoint: the double scan+explode is cheaper than pinning a
    // token-sized table in executor memory for the session (the r1
    // bench-poisoning lesson), and both consumers shuffle on `shingle`
    // so the exchange is shared where it matters
    val sh = TextQueries.hashedWordShingles(docs, 3)
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        floor(lit(1e6) * col("n_novel").cast("double")
          / col("n_shingles").cast("double")).cast("long").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source exact-duplicate matrix: for every unordered source
    * pair, how many distinct contents exist in BOTH — the provenance
    * read behind mixture weighting (two crawls sharing half their
    * content must not be weighted as independent corpora).
    *
    * The content key is the normalized `keyLen`-char prefix — the
    * cheap canonical key that also catches near-identical re-crawls
    * (exact-hash equality is its keyLen→∞ degenerate case and finds
    * nothing on corpora whose twins differ by a byte).
    *
    * Scale shape: contents dedup to (key-hash, source) once (one
    * content shuffle, same budget as exact dedup q24); the pair
    * expansion is a self-join per key whose group size is bounded by
    * #sources, and the output is ≤ |sources|² rows at any corpus
    * size. The join key is the 64-bit prefix hash (collisions would
    * be CAUGHT by the string-keyed oracle, not hidden). */
  def crossSourceDup(docs: DataFrame, keyLen: Int = 80): DataFrame = {
    val d = docs.select(
      xxhash64(substring(lower(col("text")), 1, keyLen)).as("h"),
      col("source")).distinct()
    d.join(d.select(col("h"), col("source").as("source_b")), Seq("h"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Heaps-law vocabulary-growth curve — the corpus-QA signal behind
    * "is more data still adding new vocabulary, or are we re-crawling
    * the same text?": cumulative distinct-word and token counts at
    * `buckets` cuts of the doc_id range, plus the type-token ratio per
    * cut. A flattening curve (TTR collapsing faster than Heaps' V∝nᵝ
    * predicts) is the early duplicate-crawl tripwire.
    *
    * Distributed shape: one explode → groupBy(word) min(doc_id) pass
    * over the corpus (the same first-occurrence substrate as exact
    * dedup), then every word/document joins ≤ `buckets` broadcast cut
    * rows — fan-out is `buckets`×, never quadratic, and no global sort
    * or window anywhere. Cuts are RANGE-based (lo + (hi−lo)·b/buckets,
    * integer arithmetic) rather than rank-based, precisely so no
    * engine-specific quantile interpolation or global row-numbering
    * enters the contract. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val s = docs.sparkSession
    val mm = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val cuts = s.range(1, buckets + 1).toDF("b")
      .crossJoin(broadcast(mm))
      .select(col("b"),
        expr(s"lo + ((hi - lo) * b) div $buckets").as("cut"))
    val words = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("word"))
    val firstSeen = words.groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
    val vocabCum = firstSeen
      .join(broadcast(cuts), col("first_doc") <= col("cut"))
      .groupBy(col("b")).agg(count(lit(1)).as("vocab_cum"))
    val docTok = docs
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("nw"))
      .join(broadcast(cuts), col("doc_id") <= col("cut"))
      .groupBy(col("b")).agg(count(lit(1)).as("docs_cum"),
        sum(col("nw")).as("tokens_cum"))
    cuts.join(docTok, Seq("b")).join(vocabCum, Seq("b"))
      .select(col("b").as("bucket"), col("cut"), col("docs_cum"),
        col("tokens_cum"), col("vocab_cum"),
        round(col("vocab_cum") / col("tokens_cum"), 6).as("ttr"))
      .orderBy(col("bucket"))
  }

  private def vocabGrowthOracle(buckets: Int): String =
    s"""WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
       |cuts AS (SELECT b, lo + ((hi - lo) * b) // $buckets AS cut
       |         FROM (SELECT unnest(range(1, ${buckets + 1})) AS b), mm),
       |w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
       |      FROM documents),
       |fs AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY 1),
       |vc AS (SELECT b, count(*) AS vocab_cum
       |       FROM cuts JOIN fs ON first_doc <= cut GROUP BY 1),
       |dt AS (SELECT b, count(*) AS docs_cum,
       |         CAST(sum(nw) AS BIGINT) AS tokens_cum
       |       FROM cuts JOIN (SELECT doc_id,
       |              len(string_split(lower(text), ' ')) AS nw
       |            FROM documents) d ON d.doc_id <= cut
       |       GROUP BY 1)
       |SELECT c.b AS bucket, c.cut, docs_cum, tokens_cum, vocab_cum,
       |  round(CAST(vocab_cum AS DOUBLE) / tokens_cum, 6) AS ttr
       |FROM cuts c JOIN dt USING (b) JOIN vc USING (b)
       |ORDER BY bucket""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared(
      "q209_vocab_growth",
      (s, dir) => vocabGrowth(Tables.load(s, dir, "documents")),
      Some(vocabGrowthOracle(10)),
      doc = "Heaps-law vocabulary growth: cumulative vocab/token counts + type-token ratio at 10 doc_id-range cuts (duplicate-crawl tripwire); range-based cuts keep the contract free of quantile interpolation"),

    Declared(
      "q151_ngram_novelty",
      (s, dir) => ngramNovelty(Tables.load(s, dir, "documents")),
      Some("""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM w WHERE len(ws) >= 3),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(floor(1e6 * CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |       / CAST(count(*) AS DOUBLE)) AS BIGINT) AS novelty_ppm
        |FROM sh JOIN f USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Per-doc trigram novelty vs all earlier docs (global first-occurrence attribution)"),

    Declared(
      "q152_cross_source_dup",
      (s, dir) => crossSourceDup(Tables.load(s, dir, "documents")),
      Some("""WITH d AS (SELECT DISTINCT substr(lower(text), 1, 80) AS k, source
        |       FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |FROM d a JOIN d b ON a.k = b.k AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "Cross-source shared-content matrix on the normalized prefix key (≤ |sources|² rows)"),

    Declared(
      "q134_equidepth_histogram",
      (s, dir) => equiDepthHistogram(Tables.load(s, dir, "documents")),
      Some("""WITH bylen AS (SELECT n_chars, count(*) AS cnt
        |         FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM bylen),
        |c AS (SELECT n_chars, cnt,
        |        CAST(coalesce(sum(cnt) OVER (ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS cum_before
        |      FROM bylen)
        |SELECT CAST(floor(cum_before * 10.0 / n_total) AS INT) AS bucket,
        |  min(n_chars) AS lo, max(n_chars) AS hi,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs
        |FROM c CROSS JOIN t
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "Equi-depth histogram from value-grain cumulative counts (no global sort)"),

    Declared(
      "q71_length_histogram",
      (s, dir) => lengthHistogram(Tables.load(s, dir, "documents")),
      Some("""WITH h AS (SELECT CAST(floor(n_chars / 200) * 200 AS BIGINT) AS bucket_lo,
        |         count(*) AS n_docs,
        |         CAST(min(n_chars) AS BIGINT) AS min_chars,
        |         CAST(max(n_chars) AS BIGINT) AS max_chars
        |       FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS n_total FROM h)
        |SELECT bucket_lo, n_docs, min_chars, max_chars,
        |  round(CAST(sum(n_docs) OVER (ORDER BY bucket_lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / n_total, 4) AS cum_share
        |FROM h CROSS JOIN t ORDER BY bucket_lo""".stripMargin),
      doc = "Doc-length histogram with cumulative share (200-char buckets)"),

    Declared(
      "q72_kl_drift",
      (s, dir) => sourceKlDrift(Tables.load(s, dir, "documents")),
      Some("""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |         FROM documents),
        |csw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        |ts AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s FROM csw GROUP BY 1),
        |t AS (SELECT CAST(sum(c_w) AS BIGINT) AS t FROM cw),
        |terms AS (SELECT source, t_s,
        |    CAST(round((CAST(c_sw AS DOUBLE) / t_s)
        |      * ln((CAST(c_sw AS DOUBLE) / t_s) / (CAST(c_w AS DOUBLE) / t))
        |      * 1000000000) AS BIGINT) AS kl_nano
        |  FROM csw JOIN cw USING (w) JOIN ts USING (source) CROSS JOIN t)
        |SELECT source, t_s AS n_tokens, count(*) AS vocab,
        |  round(CAST(sum(kl_nano) AS DOUBLE) / 1000000000, 6) AS kl_divergence
        |FROM terms GROUP BY source, t_s ORDER BY source""".stripMargin),
      doc = "Per-source unigram KL divergence vs corpus (mixture drift)"),

    Declared(
      // Sketch ⇒ rows-only for the driver; the spec proves the CMS
      // overestimate law (est ≥ exact, est ≤ exact + ε·N) vs q56-style
      // exact counts, and bit-identical seeded reruns.
      "q74_cms_stopwords",
      (s, dir) => cmsStopwordCounts(Tables.load(s, dir, "documents")),
      None,
      doc = "Count-Min-Sketch frequency estimates, fixed probe vocab (no shuffle)"),

    Declared(
      "q187_cms_portable",
      (s, dir) => cmsPortable(Tables.load(s, dir, "documents"),
        TextQueries.Stopwords),
      Some(cmsPortableOracle(TextQueries.Stopwords, depth = 4, width = 1024)),
      doc = "Count-Min sketch on the portable md5 hash family - build, merge and min-probe all replayed in the oracle (exact integer counters over a bounded depth x width key space); q74's JVM-sketch form stays the throughput path"),

    Declared(
      // Heavy-hitter set can vary with partition layout (documented in
      // SpaceSaving) ⇒ rows-only for the driver; the spec asserts the
      // estimate law (true ≤ est ≤ true + err), the error bound
      // (err ≤ N/m), and heavy-word coverage under repartitioning.
      "q163_heavy_hitters",
      (s, dir) => spaceSavingTopWords(s, Tables.load(s, dir, "documents")),
      None,
      doc = "Space-saving heavy hitters: m-counter mergeable summary, ships m rows per map task (vs one per distinct word)"),

    Declared(
      "q160_dataset_card",
      (s, dir) => datasetCard(Tables.load(s, dir, "documents")),
      Some("""SELECT source,
        |  count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) // count(*) AS avg_chars,
        |  count(*) - count(DISTINCT text) AS n_exact_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      doc = "Per-source dataset card: docs, languages, tokens, length profile, exact-dup count")
  )

  /** Global top-word summary through the [[graft.agg.SpaceSaving]]
    * Aggregator: one partial aggregation over the token stream — each
    * map task reduces to ≤ m (word, est, err) entries before the
    * shuffle, so the exchange is m rows per task at ANY vocabulary
    * size. Output: the m entries, est desc. */
  def spaceSavingTopWords(spark: SparkSession, docs: DataFrame,
                          m: Int = 16): DataFrame = {
    import spark.implicits._
    docs.select(explode(split(col("text"), " ")).as("w")).as[String]
      .select(new graft.agg.SpaceSaving(m).toColumn.name("s"))
      // the typed select flattens the single-field product to `items`
      .select(explode(col("items")).as("it"))
      .select(col("it.word").as("word"), col("it.est").as("est"),
        col("it.err").as("err"))
      .orderBy(col("est").desc, col("word"))
  }

  /** Per-source dataset card — the summary table a corpus release
    * ships with (docs, language spread, token volume, length profile,
    * within-source exact-dup count). ONE hash aggregation keyed by
    * source; tokens are counted row-locally before the agg, the two
    * distinct aggs expand per-source (Spark plans a single expand +
    * hash agg). avg_chars is exact integer division; output is
    * ≤ #sources rows at any corpus size. */
  def datasetCard(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"), col("text"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("toks")).as("n_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
      // exact integer division — `/` on longs would yield a double
      .withColumn("avg_chars", expr("sum_chars div n_docs"))
      .drop("sum_chars")
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        col("min_chars"), col("max_chars"), col("avg_chars"), col("n_exact_dups"))
      .orderBy(col("source"))
}
