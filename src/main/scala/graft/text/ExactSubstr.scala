package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** Exact substring-level deduplication at 50-token granularity — the
  * operator of Lee et al., "Deduplicating Training Data Makes Language
  * Models Better" (ACL 2022): find every MAXIMAL token substring of
  * length ≥ 50 shared between two document positions, and emit the
  * surviving text with the non-canonical occurrences cut out. This
  * completes the span family ([[SpanDedup]] flags duplicated gram
  * POSITIONS per document; round-10 verdict #2 asked for the maximal
  * SHARED spans between pairs, plus the remove-span output column).
  *
  * Pipeline (all relational, nothing all-pairs):
  *  1. positional 50-grams per document (the [[SpanDedup]] substrate);
  *  2. duplicated-gram occurrence pairs via a self-equi-join on the
  *     gram key, restricted to grams with 2..`maxOcc` occurrences and
  *     ordered (doc_a, p_a) < (doc_b, p_b) so each undirected pair
  *     appears once;
  *  3. DIAGONAL chain-merge: for a fixed (doc_a, doc_b, d = p_b − p_a),
  *     consecutive matching gram starts p, p+1 extend one shared
  *     substring; a gap > 1 is a token mismatch (for EXACT equality, a
  *     gap-2 match at the same diagonal implies the gap-1 gram also
  *     matches, so runs of consecutive positions are precisely the
  *     maximal shared substrings). Gaps-and-islands per
  *     (doc_a, doc_b, d), span length = run + 49 ≥ 50.
  *
  * Scale shape (the 100 TB story): the gram table is linear in corpus
  * tokens; the occurrence-pair join is a co-partitioned equi-join on
  * the gram key whose fan-out is Σ occ² over DUPLICATED grams only,
  * bounded a priori by `maxOcc` (boilerplate grams past the cap are
  * dropped and counted — the standard distributed replacement for the
  * paper's suffix array, which cannot shard); the chain-merge window
  * partitions by (doc_a, doc_b, d), bounded by document length. Spark
  * groups by the 64-bit xxhash of the gram, the oracle by the gram
  * STRING — a hash collision fails the driver diff rather than hiding
  * (q69's convention).
  *
  * Reference point: the q180/q189 positional-gram substrate
  * (SpanDedup.scala); the reference repo has no text operators — this
  * family is beyond-reference LLM-pipeline surface. */
object ExactSubstr {

  /** Default Lee-et-al. span threshold, in tokens. */
  val MinTokens = 50

  /** Occurrence cap for a gram to participate in pair generation —
    * the Σ occ² bound. Far above anything in the testdata (max occ 4);
    * at production scale this is the boilerplate knob, and what it
    * drops is observable (`droppedHeavyGrams`). */
  val MaxOcc = 1000

  /** Grams dropped by the occurrence cap (no silent truncation): one
    * row (n_grams, max_occ) — empty cap effect ⇒ (0, null). */
  def droppedHeavyGrams(docs: DataFrame, n: Int = MinTokens,
                        maxOcc: Int = MaxOcc): DataFrame =
    SpanDedup.positionalGrams(docs, n)
      .groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
      .agg(count(lit(1)).as("n_grams"), max(col("occ")).as("max_occ"))

  /** Occurrence pairs of duplicated n-grams: (doc_a, doc_b, d, pa)
    * with (doc_a, pa) < (doc_b, pb) and d = pb − pa. */
  private def gramPairs(docs: DataFrame, n: Int, maxOcc: Int): DataFrame = {
    val grams = SpanDedup.positionalGrams(docs, n)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2 && col("occ") <= maxOcc)
      .select(col("g"))
    val dg = grams.join(dup, Seq("g"))
    val a = dg.select(col("g"), col("doc_id").as("doc_a"), col("p").as("pa"))
    val b = dg.select(col("g"), col("doc_id").as("doc_b"), col("p").as("pb"))
    a.join(b, Seq("g"))
      .filter(col("doc_a") < col("doc_b")
        || (col("doc_a") === col("doc_b") && col("pa") < col("pb")))
      .select(col("doc_a"), col("doc_b"),
        (col("pb") - col("pa")).as("d"), col("pa"))
  }

  /** Maximal shared substrings ≥ `n` tokens between ordered document
    * occurrence pairs: (doc_a, a_start, a_end, doc_b, b_start, b_end,
    * len_tokens), token positions 1-based inclusive. One row per
    * maximal run; (doc_a, a_start, doc_b, b_start) is unique. */
  def sharedSubstrings(docs: DataFrame, n: Int = MinTokens,
                       maxOcc: Int = MaxOcc): DataFrame = {
    val byDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("d"))
      .orderBy(col("pa"))
    gramPairs(docs, n, maxOcc)
      .withColumn("brk",
        when(col("pa") - lag(col("pa"), 1).over(byDiag) === 1, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("island"))
      .agg(min(col("pa")).as("a_start"),
        (max(col("pa")) + (n - 1)).as("a_end"))
      .select(col("doc_a"), col("a_start"), col("a_end"),
        col("doc_b"), (col("a_start") + col("d")).as("b_start"),
        (col("a_end") + col("d")).as("b_end"),
        (col("a_end") - col("a_start") + 1).as("len_tokens"))
      .orderBy(col("doc_a"), col("a_start"), col("doc_b"), col("b_start"))
  }

  /** The remove-span output: every document's surviving text after
    * cutting the NON-CANONICAL occurrences of each shared substring —
    * the occurrence kept is the corpus-order first, i.e. a span is
    * removed from the (doc_b, b_start) side of every pair row (pairs
    * are ordered, so for a substring shared by documents 3 < 7 < 9 the
    * copies in 7 and 9 are cut and 3 keeps it — Lee et al.'s
    * keep-one-occurrence rule, deterministic). Overlapping/adjacent
    * removed ranges merge (running-max islands) before cutting.
    * Output: (doc_id, n_tokens, n_removed, text_dedup) for EVERY
    * document, order by doc_id. */
  def substrDedupText(docs: DataFrame, n: Int = MinTokens,
                      maxOcc: Int = MaxOcc): DataFrame =
    substrDedupTextFrom(docs, sharedSubstrings(docs, n, maxOcc))

  /** [[substrDedupText]] over a PRECOMPUTED pair-span table — the
    * declared q213/q214 share one [[graft.Materialized]] span build
    * instead of running the gram/pair/chain pipeline twice. */
  def substrDedupTextFrom(docs: DataFrame, spans: DataFrame): DataFrame = {
    val removed = spans
      .select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        col("b_end").as("e"))
      .distinct() // the same occurrence may pair with several earlier docs
    // merge overlapping/adjacent ranges: a range starting at or before
    // (running max end) + 1 extends the current island
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = removed
      .withColumn("prev_max_e",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("s") <= col("prev_max_e") + 1, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select(col("doc_id").as("r_doc"), col("s"), col("e"))
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("w"))
    val kept = toks.join(merged,
        toks("doc_id") === merged("r_doc")
          && col("p") >= col("s") && col("p") <= col("e"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("text_dedup"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTEs: positional 50-grams by STRING, duplicated-gram
    * occurrence pairs, diagonal islands, maximal spans. */
  private def spansSql(n: Int, maxOcc: Int): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, p, list_aggregate(ws[p:p+${n - 1}], 'string_agg', ' ') AS gram
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${n - 2})) AS p
       |        FROM w WHERE len(ws) >= $n)),
       |dup AS (SELECT gram FROM g GROUP BY gram
       |        HAVING count(*) >= 2 AND count(*) <= $maxOcc),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              b.p - a.p AS d, a.p AS pa
       |       FROM g a JOIN dup ON a.gram = dup.gram
       |       JOIN g b ON a.gram = b.gram
       |       WHERE a.doc_id < b.doc_id
       |          OR (a.doc_id = b.doc_id AND a.p < b.p)),
       |i AS (SELECT doc_a, doc_b, d, pa,
       |        CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_a, doc_b, d
       |                                     ORDER BY pa) = 1
       |             THEN 0 ELSE 1 END AS brk
       |      FROM pr),
       |si AS (SELECT doc_a, doc_b, d, pa,
       |         sum(brk) OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS island
       |       FROM i),
       |spans AS (
       |  SELECT doc_a, min(pa) AS a_start, max(pa) + ${n - 1} AS a_end,
       |         doc_b, min(pa) + d AS b_start, max(pa) + ${n - 1} + d AS b_end,
       |         max(pa) - min(pa) + $n AS len_tokens
       |  FROM si GROUP BY doc_a, doc_b, d, island)""".stripMargin

  private def sharedSubstringsOracle(n: Int, maxOcc: Int): String =
    s"""WITH ${spansSql(n, maxOcc)}
       |SELECT doc_a, a_start, a_end, doc_b, b_start, b_end, len_tokens
       |FROM spans ORDER BY doc_a, a_start, doc_b, b_start""".stripMargin

  private def substrDedupTextOracle(n: Int, maxOcc: Int): String =
    s"""WITH ${spansSql(n, maxOcc)},
       |rem AS (SELECT DISTINCT doc_b AS doc_id, b_start AS s, b_end AS e
       |        FROM spans),
       |mi AS (SELECT doc_id, s, e,
       |         CASE WHEN s <= max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |              THEN 0 ELSE 1 END AS brk
       |       FROM rem),
       |ms AS (SELECT doc_id, s, e,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS island
       |       FROM mi),
       |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e
       |       FROM ms GROUP BY doc_id, island),
       |tok AS (SELECT doc_id, p, ws[p] AS w
       |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS p
       |              FROM w)),
       |keptt AS (SELECT t.doc_id, t.p, t.w FROM tok t
       |          WHERE NOT EXISTS (SELECT 1 FROM mg
       |                            WHERE mg.doc_id = t.doc_id
       |                              AND t.p BETWEEN mg.s AND mg.e)),
       |ka AS (SELECT doc_id, count(*) AS n_kept,
       |         string_agg(w, ' ' ORDER BY p) AS text_dedup
       |       FROM keptt GROUP BY doc_id)
       |SELECT w.doc_id, len(w.ws) AS n_tokens,
       |  len(w.ws) - coalesce(n_kept, 0) AS n_removed,
       |  coalesce(text_dedup, '') AS text_dedup
       |FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** The q213/q214-shared maximal-span table, built once per
    * (process, sfDir) like the other shared family inputs. */
  private def sharedSpansTable(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame =
    graft.Materialized.table(s, dir, "substr_spans")(
      sharedSubstrings(Tables.load(s, dir, "documents")))

  val declared: Seq[Declared] = Seq(
    Declared(
      "q213_shared_substrings",
      (s, dir) => sharedSpansTable(s, dir)
        .orderBy(col("doc_a"), col("a_start"), col("doc_b"), col("b_start")),
      Some(sharedSubstringsOracle(MinTokens, MaxOcc)),
      doc = "Maximal shared token substrings >= 50 tokens between document occurrence pairs (Lee et al. ExactSubstr, diagonal chain-merge over duplicated positional 50-grams) - the maximal-span rule is stated verbatim in the oracle's island CTEs"),

    Declared(
      "q214_substr_dedup_text",
      (s, dir) => substrDedupTextFrom(Tables.load(s, dir, "documents"),
        sharedSpansTable(s, dir)),
      Some(substrDedupTextOracle(MinTokens, MaxOcc)),
      doc = "Remove-span output of exact substring dedup: per-document surviving text after cutting every non-canonical (non-corpus-first) occurrence of each shared >= 50-token substring, overlapping ranges merged; shares q213's materialized span table")
  )
}
