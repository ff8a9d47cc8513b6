package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** Training-data text pipeline over `documents` (north-star extensions):
  * exact dedup, n-gram Jaccard near-dup pairs, language-ID heuristic,
  * quality scoring, token counting, rolling-hash fingerprinting.
  * All are ANSI-SQL-expressible and oracle-matched; MinHash/SimHash
  * live in [[Dedup]] (validated against exact Jaccard in tests).
  */
object TextQueries {

  private[text] val Stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Word 3-shingles per doc (distinct), the unit for Jaccard dedup.
    *
    * The words array is PROJECTED before the shingle lambda: an
    * expression like `element_at(split(text), …)` inside a higher-order
    * function re-evaluates the `split` on every lambda invocation
    * (Catalyst's subexpression elimination does not reach into lambda
    * bodies) — measured 8× on the shingle pass. A separate projection
    * binds the array once per row. */
  def wordShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val ws = col("ws")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // spread the shingle build beyond the scan's few input splits
      // (the single-split map-task finding; consumers aggregate on the
      // shingle key, so this exchange replaces serial map work, and at
      // real scan widths it coalesces into the partitioned flow)
      .repartition(col("doc_id"))
      .filter(size(ws) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(ws) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + lit(o))): _*))))
          .as("shingle"))
  }

  /** [[wordShingles]] keyed by 64-bit hash: xxhash64 over the n word
    * columns directly, skipping the concat_ws string build the hash
    * would immediately consume. For every engine consumer — inverted-
    * index joins, document-frequency counts, MinHash bases — only key
    * identity matters, and the per-doc distinct sets match the string
    * form's up to ~n²/2⁶⁴ collisions (the oracles compare real string
    * shingles, so a collision would be CAUGHT, not hidden). */
  def hashedWordShingles(docs: DataFrame, n: Int = 3,
                         keep: Seq[String] = Nil): DataFrame = {
    val ws = col("ws")
    docs
      // projected, not inline: see wordShingles — an inline split would
      // re-evaluate per lambda element (n× per shingle), measured 8×
      .select(col("doc_id") +: keep.map(col) :+ split(col("text"), " ").as("ws"): _*)
      // spread the hash/shingle build (see wordShingles)
      .repartition(col("doc_id"))
      .filter(size(ws) >= n)
      .select(col("doc_id") +: keep.map(col) :+
        explode(array_distinct(transform(
          sequence(lit(1), size(ws) - lit(n - 1)),
          i => xxhash64((0 until n).map(o => element_at(ws, i + lit(o))): _*))))
          .as("shingle"): _*)
  }

  /** Shingles with document frequency above this are dropped before the
    * self-join (stop-shingle removal). Natural-language n-grams are
    * Zipfian: one shingle shared by M docs yields M² join rows, so an
    * uncapped inverted index melts a reducer at 100 TB. The cap bounds
    * every posting list (max join fan-out per shingle = MaxShingleDf²)
    * and is mirrored in the oracle so semantics stay engine-identical. */
  val MaxShingleDf = 500

  /** Pair-overlap table `(d1 < d2, inter, sz1, sz2)` over the capped
    * 3-gram shingle sets — the shared substrate every set-similarity
    * score (Jaccard q25/q58, containment q88) derives from row-locally.
    *
    * Materializes the capped posting-list table eagerly
    * (`localCheckpoint`): it feeds both the size lookup and the pair
    * generation, and without materialization Catalyst re-runs the
    * shingle Generate + groupBy per consumer. The caller (or the
    * harness's per-query sweep) releases the pinned blocks when done. */
  /** Inverted index as POSTING LISTS: one groupBy on the 64-bit
    * shingle hash (hashes, not strings: same pairs, collisions
    * ~n²/2⁶⁴, half the shuffle bytes) yields each shingle's sorted
    * doc list; the hot-shingle cap (`size ≤ MaxShingleDf`) fuses into
    * the same pass. Per-group state is ≤ MaxShingleDf ids —
    * executor-safe at any corpus size. Shared by the batch pair
    * generators and the streaming incremental-dedup probe side. */
  def cappedPostingLists(docs: DataFrame, n: Int = 3): DataFrame =
    hashedWordShingles(docs, n)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= MaxShingleDf)

  /** Per-doc size of its capped shingle set, recovered from the
    * posting lists (no second pass over the corpus). */
  def postingDocSizes(posting: DataFrame): DataFrame =
    posting.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  /** [[cappedPostingLists]] materialized once per process/sf — shared
    * by the symmetric pair generator (q25/q58/q88) and the prefix
    * filter (q117), which each derive their own candidates from it. */
  def sharedPosting(s: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(s, dir, "posting_3") {
      cappedPostingLists(graft.Tables.load(s, dir, "documents"))
    }

  def pairOverlap(docs: DataFrame): DataFrame =
    pairOverlapFrom(cappedPostingLists(docs).localCheckpoint())

  /** Pair-overlap from a (pre-materialized) capped posting table:
    * candidate pairs generate IN PLACE from each bounded posting list
    * (≤ T²/2 per shingle by the cap). Versus the two-sided self-join
    * this removes a whole shuffle of the shingle table and the
    * separate df-filter semi-join. */
  def pairOverlapFrom(posting: DataFrame): DataFrame = {
    val sizes = postingDocSizes(posting)
    // Ordered pairs (d1 < d2) within each sorted posting list.
    val inter = posting.filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - lit(1)),
          y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("s1.sz").as("sz1"), col("s2.sz").as("sz2"))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ threshold — a
    * row-local score over [[pairOverlap]]. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    scoreJaccard(pairOverlap(docs), threshold)

  /** Prefix-filtered Jaccard join (Bayardo/Chaudhuri prefix filter,
    * the ppjoin family) — IDENTICAL output to [[jaccardPairs]], far
    * fewer candidates: order every doc's shingles by (document
    * frequency asc, hash) and index only the first
    * n − ⌈τ·n⌉ + 1 of them. Lemma: a qualifying pair (Jaccard ≥ τ)
    * must overlap by α ≥ ⌈τ·max(|x|,|y|)⌉, and two sets that share α
    * elements under a TOTAL order must share one within their first
    * (size − α + 1) elements — so pairs sharing no prefix shingle are
    * provably < τ and are never generated. The rarest-first order
    * makes prefix postings the SHORTEST lists, compounding the cut.
    * Candidates then verify with an exact intersection count (two
    * co-partitioned joins against the capped shingle table).
    *
    * Crossover vs [[jaccardPairs]] (measured, sf0.1): the prefix
    * filter pays 3 extra shuffles (prefix build, candidate distinct,
    * verify joins) — ~3.3 s vs 0.5 s for the direct posting-list
    * expansion on 5000 docs. The filter wins when the df-capped
    * candidate space itself becomes the bottleneck: posting-list pair
    * fan-out is Σ df² (cap T=500 ⇒ up to T²·|shingles| candidate
    * rows), while the prefix cut generates only pairs sharing a RARE
    * shingle — at corpus scale (≥ ~10⁶ docs, where mid-frequency
    * shingles dominate Σ df²) the candidate reduction dwarfs the fixed
    * shuffle cost. Declared as the scale variant; q25 is the
    * small-corpus form and the row-identical oracle. */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    prefixJaccardFrom(cappedPostingLists(docs).localCheckpoint(), threshold)

  def prefixJaccardFrom(posting: DataFrame, threshold: Double): DataFrame = {
    // (doc, shingle, df) over the capped universe — same universe as
    // pairOverlap, so results match jaccardPairs exactly
    val sh = posting.select(explode(col("ds")).as("doc_id"),
      col("shingle"), size(col("ds")).as("df"))
    // per doc: order shingles rarest-first, keep the prefix
    val pref = sh
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ss"))
      .select(col("doc_id"),
        slice(transform(col("ss"), e => e("shingle")), lit(1),
          (size(col("ss"))
            - ceil(size(col("ss")).cast("double") * threshold).cast("int")
            + lit(1))).as("prefix"))
      .select(col("doc_id"), explode(col("prefix")).as("shingle"))
    // candidate pairs: prefix postings only
    val cands = pref
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - lit(1)),
          y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    // exact verify, row-local: candidates (few, post-filter) join the
    // per-doc shingle ARRAYS — sized ≤ words/doc, broadcastable at
    // bench scale, shuffle-joinable on doc_id at any scale — and the
    // intersection evaluates in place; no pair-stream shuffle exists
    // anywhere in the verify phase
    val docSets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shs"))
    scoreJaccard(
      cands
        .join(docSets.select(col("doc_id").as("d1"), col("shs").as("sa")), Seq("d1"))
        .join(docSets.select(col("doc_id").as("d2"), col("shs").as("sb")), Seq("d2"))
        .select(col("d1"), col("d2"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(col("sa")).cast("long").as("sz1"),
          size(col("sb")).cast("long").as("sz2")),
      threshold)
  }

  private def scoreJaccard(overlap: DataFrame, threshold: Double): DataFrame =
    overlap
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sz1") + col("sz2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold —
    * catches subset copies (a doc quoted whole inside a larger one)
    * that symmetric Jaccard dilutes below its threshold. Row-local
    * score over the same [[pairOverlap]] substrate. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame =
    scoreContainment(pairOverlap(docs), threshold)

  private def scoreContainment(overlap: DataFrame, threshold: Double): DataFrame =
    overlap
      .withColumn("containment", round(col("inter").cast("double")
        / least(col("sz1"), col("sz2")).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("containment"))

  /** CTE chain producing `sh(doc_id, shingle)` (the capped distinct
    * 3-gram shingle table) and `sz(doc_id, sz)` — shared by the
    * symmetric (q25/q88) and one-sided incremental (q105) overlaps. */
  private[text] def shingleCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |       FROM w WHERE len(ws) >= 3),
       |keep AS (SELECT shingle FROM sh0 GROUP BY shingle
       |         HAVING count(*) <= ${MaxShingleDf}),
       |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)""".stripMargin

  /** CTE chain producing `ov(d1, d2, inter, sz1, sz2)` — the capped
    * 3-gram pair-overlap table ([[pairOverlap]]'s mirror). */
  private[text] def overlapCtes: String =
    s"""$shingleCtes,
       |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |ov AS (SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2
       |       FROM cand JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id)""".stripMargin

  /** CTE chain producing `jp(d1, d2, jaccard)` — the capped-Jaccard
    * near-dup pairs. Shared by the q25 oracle and the q58 clustering
    * oracle so the two cannot drift. */
  private[text] def jaccardCtes(threshold: Double): String =
    s"""$overlapCtes,
       |jp AS (SELECT d1, d2, jaccard FROM (
       |  SELECT d1, d2, round(CAST(inter AS DOUBLE)
       |           / CAST(sz1 + sz2 - inter AS DOUBLE), 4) AS jaccard FROM ov)
       |WHERE jaccard >= $threshold)""".stripMargin

  private def jaccardOracle(threshold: Double): String =
    s"""WITH ${jaccardCtes(threshold)}
       |SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  /** [[pairOverlap]] over the `documents` table, materialized once per
    * process/sf — q25/q58 (Jaccard) and q88 (containment) score it
    * row-locally from one parquet snapshot. */
  def sharedPairOverlap(s: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(s, dir, "pair_overlap") {
      pairOverlapFrom(sharedPosting(s, dir))
    }

  /** Capped-Jaccard near-dup pairs over the shared overlap table —
    * feeds q25 and q58's clustering. */
  def sharedJaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    scoreJaccard(sharedPairOverlap(s, dir), threshold)

  /** The `documents` table's hashed `n`-gram shingle table, materialized
    * once per process/sf — feeds both decontamination paths (q55 exact
    * semi-join, q70 Bloom probe). */
  def sharedHashedShingles(s: SparkSession, dir: String, n: Int): DataFrame =
    graft.Materialized.table(s, dir, s"shingles_$n") {
      hashedWordShingles(graft.Tables.load(s, dir, "documents"), n)
    }

  /** Incremental ingestion dedup — the shape a live pipeline runs on
    * every arriving batch: candidate pairs are NEW × EXISTING only
    * (never corpus × corpus), so the per-batch cost scales with the
    * batch, not the corpus. Same capped posting-list substrate as
    * [[pairOverlap]], but each list splits into its new/old sides and
    * pairs expand across the split — an arriving doc with no shingle
    * in common with the corpus generates zero candidates. The "new"
    * side is the deterministic `doc_id % 10 = 9` slice standing in for
    * an arriving batch. */
  def incrementalJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    val isNew = (d: org.apache.spark.sql.Column) => pmod(d, lit(10L)) === lit(9L)
    val posting = cappedPostingLists(docs).localCheckpoint()
    val sizes = postingDocSizes(posting)
    val inter = posting
      .withColumn("news", filter(col("ds"), d => isNew(d)))
      .withColumn("olds", filter(col("ds"), d => !isNew(d)))
      .filter(size(col("news")) >= 1 && size(col("olds")) >= 1)
      .select(explode(flatten(transform(col("news"), nd =>
        transform(col("olds"), od =>
          struct(nd.as("d_new"), od.as("d_old")))))).as("p"))
      .groupBy(col("p.d_new").as("d_new"), col("p.d_old").as("d_old"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sn"), col("d_new") === col("sn.doc_id"))
      .join(sizes.as("so"), col("d_old") === col("so.doc_id"))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sn.sz") + col("so.sz") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d_new"), col("d_old"), col("jaccard"))
  }

  /** English stopword-ratio language heuristic. */
  def langId(docs: DataFrame): DataFrame = {
    val words = split(lower(col("text")), " ")
    docs.select(col("doc_id"), col("lang"),
        size(words).as("n_words"),
        size(filter(words, w => w.isin(Stopwords: _*))).as("n_stop"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_words"), 4))
      .withColumn("lang_pred", when(col("stop_ratio") >= 0.05, "en").otherwise("other"))
  }

  /** Length/punctuation/structure quality score. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).as("len_chars"),
        size(split(col("text"), " ")).as("n_words"),
        length(regexp_replace(col("text"), "[a-z ]", "")).as("n_nonalpha"))
      .withColumn("avg_word_len",
        round((col("len_chars") - col("n_words") + 1).cast("double") / col("n_words"), 4))
      .withColumn("quality",
        round(least(col("n_words").cast("double"), lit(100.0)) / 100.0
          * (lit(1.0) - col("n_nonalpha").cast("double") / col("len_chars")), 4))

  /** Whitespace + regex token counts, plus chars/4 BPE estimate. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).as("alpha_runs"),
      ceil(length(col("text")).cast("double") / 4.0).as("est_bpe_tokens"))

  /** Polynomial rolling hash over character codes — deterministic
    * document fingerprint: h ← (h·131 + code) mod 1e9+7, left fold. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("aggregate(transform(sequence(1, length(text)), " +
        "i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), 0L, " +
        "(h, c) -> (h * 131 + c) % 1000000007)").as("fp"))

  val declared: Seq[Declared] = Seq(
    Declared(
      "q24_dedup_exact",
      (s, dir) => Tables.load(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), length(col("text")).as("n_chars"))
        .orderBy(col("keep_id")),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(length(text) AS INTEGER) AS n_chars
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
      doc = "Exact dedup: group-by-content, keep min id"),

    Declared(
      "q25_ngram_jaccard",
      (s, dir) => sharedJaccardPairs(s, dir, 0.1)
        .orderBy(col("d1"), col("d2")),
      Some(jaccardOracle(0.1)),
      doc = "Word-3-gram Jaccard near-dup pairs via inverted index"),

    Declared(
      "q88_containment",
      (s, dir) => scoreContainment(sharedPairOverlap(s, dir), 0.2)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH $overlapCtes
        |SELECT d1, d2, round(CAST(inter AS DOUBLE)
        |    / CAST(least(sz1, sz2) AS DOUBLE), 4) AS containment
        |FROM ov
        |WHERE round(CAST(inter AS DOUBLE)
        |    / CAST(least(sz1, sz2) AS DOUBLE), 4) >= 0.2
        |ORDER BY d1, d2""".stripMargin),
      doc = "Shingle containment ≥ 0.2: subset-copy dups Jaccard misses"),

    Declared(
      // identical semantics and ORACLE SHAPE as q25 — the point: a
      // smarter candidate generator (prefix filter) must not change one
      // row. Declared at τ=0.5, the technique's regime: the prefix is
      // n − ⌈τ·n⌉ + 1 shingles, so τ=0.5 halves the indexed volume
      // where τ=0.1 would keep 90 % and pay the verify join for nothing
      "q117_prefix_jaccard",
      (s, dir) => prefixJaccardFrom(sharedPosting(s, dir), 0.5)
        .orderBy(col("d1"), col("d2")),
      Some(jaccardOracle(0.5)),
      doc = "Prefix-filtered Jaccard join: provably-lossless candidate pruning"),

    Declared(
      "q105_incremental_dedup",
      (s, dir) => incrementalJaccard(Tables.load(s, dir, "documents"), 0.1)
        .orderBy(col("d_new"), col("d_old")),
      Some(s"""WITH $shingleCtes,
        |cand AS (SELECT a.doc_id AS d_new, b.doc_id AS d_old, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle
        |          WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
        |          GROUP BY 1, 2),
        |ov AS (SELECT d_new, d_old, inter, sn.sz AS szn, so.sz AS szo
        |       FROM cand JOIN sz sn ON d_new = sn.doc_id
        |                 JOIN sz so ON d_old = so.doc_id)
        |SELECT d_new, d_old, jaccard FROM (
        |  SELECT d_new, d_old, round(CAST(inter AS DOUBLE)
        |           / CAST(szn + szo - inter AS DOUBLE), 4) AS jaccard FROM ov)
        |WHERE jaccard >= 0.1 ORDER BY d_new, d_old""".stripMargin),
      doc = "Incremental batch-vs-corpus Jaccard dedup (new × existing pairs only)"),

    Declared(
      "q26_lang_id",
      (s, dir) => langId(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang,
        |  CAST(len(ws) AS INTEGER) AS n_words,
        |  CAST(len(list_filter(ws, w -> list_contains(
        |    [${Stopwords.map(w => s"'$w'").mkString(", ")}], w))) AS INTEGER) AS n_stop,
        |  round(CAST(len(list_filter(ws, w -> list_contains(
        |    [${Stopwords.map(w => s"'$w'").mkString(", ")}], w))) AS DOUBLE)
        |    / len(ws), 4) AS stop_ratio,
        |  CASE WHEN round(CAST(len(list_filter(ws, w -> list_contains(
        |    [${Stopwords.map(w => s"'$w'").mkString(", ")}], w))) AS DOUBLE)
        |    / len(ws), 4) >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
        |FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents)
        |ORDER BY doc_id""".stripMargin),
      doc = "Stopword-ratio language-ID heuristic"),

    Declared(
      "q27_quality_score",
      (s, dir) => qualityScore(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS len_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |  CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS INTEGER) AS n_nonalpha,
        |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS avg_word_len,
        |  round(least(CAST(len(string_split(text, ' ')) AS DOUBLE), 100.0) / 100.0
        |    * (1.0 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |       / length(text)), 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "Document quality scoring (length/punct/structure)"),

    Declared(
      "q28_token_counts",
      (s, dir) => tokenCounts(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS alpha_runs,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "Token counting: whitespace, regex runs, BPE estimate"),

    Declared(
      "q29_fingerprint",
      (s, dir) => fingerprint(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  list_reduce(list_transform(range(length(text)),
        |    i -> CAST(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "Rolling polynomial hash document fingerprint")
  )
}
