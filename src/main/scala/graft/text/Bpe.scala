package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** BPE merge training — the first `rounds` byte-pair-encoding merges
  * learned from the corpus, the tokenizer-training step of an LLM data
  * pipeline run as a distributed aggregation loop.
  *
  * Shape per round: adjacent-pair counts are ONE hash aggregation over
  * the word-frequency vocabulary (weights, not raw tokens — the corpus
  * is scanned once up front, and the vocab table is |distinct words|
  * rows no matter how many tokens the corpus has); the winning pair is
  * a 1-row driver scalar (the same legitimacy class as PageRank's node
  * count); the merge itself is a literal string rewrite on the vocab.
  *
  * Merge semantics: occurrences rewrite left-to-right non-overlapping,
  * applied twice per round so runs sharing a separator ("a b a b")
  * still merge fully — deterministic and engine-identical (the oracle
  * replays the identical literal rewrites); canonical BPE differs only
  * on odd runs ≥ 3 of the same pair. Tie-break: count desc, then pair
  * string asc. */
object Bpe {

  def bpeMerges(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Aggregate to the word-frequency vocabulary FIRST (map-side
    // partial count collapses occurrences to distinct words before the
    // one shuffle), and only then char-split — the regexp runs once per
    // DISTINCT word, not once per token occurrence. The char-split is
    // injective on words, so grouping by w vs by its spaced form is the
    // same partition.
    val vocab = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("t"), col("n"))
    // The round's probe is its winning pair, None once every word is a
    // single token — nothing left to merge.
    def topPair(v: DataFrame): Option[(String, Long)] =
      v
        // pre-projected split: an inline split inside the lambda would
        // re-evaluate per element (the measured 8× shingle trap)
        .select(col("n"), split(col("t"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + lit(1))))).as("p"))
        .groupBy(col("p")).agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("p")).limit(1)
        .collect().headOption.map(r => (r.getString(0), r.getLong(1)))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val last = graft.Checkpoints.iterate[Option[(String, Long)]](vocab, rounds)(
      (v, _) => topPair(v)) { (v, top, r) =>
      top.map { case (pair, c) =>
        val Array(a, b) = pair.split(" ", 2)
        merges += ((r, a, b, c))
        // literal (non-regex) replace: same left-to-right
        // non-overlapping semantics as regexp_replace on a literal
        // pattern, without per-row regex-engine cost
        val pat = lit(" " + a + " " + b + " ")
        val rep = lit(" " + a + b + " ")
        v.withColumn("t", trim(
          replace(
            replace(concat(lit(" "), col("t"), lit(" ")), pat, rep),
            pat, rep)))
      }
    }
    graft.Checkpoints.release(last.state)
    spark.createDataset(merges.result())
      .toDF("round", "mleft", "mright", "pair_count")
      .orderBy(col("round"))
  }

  /** Per-document BPE encoding statistics: apply the trained merges
    * (in training order) and count resulting tokens per document.
    *
    * The merge list is `rounds` rows — driver-scalar class. Encoding is
    * word-grained and deterministic, so the rewrite cascade (2·rounds
    * literal replaces) runs once per DISTINCT word — the dictionary-
    * encode shape — and the per-occurrence side is a plain equi-join of
    * (doc_id, w) against the word→token-count table. The word table is
    * |distinct words| rows (bounded by vocabulary, not corpus), so AQE
    * broadcasts it at any realistic scale and the occurrence stream
    * never shuffles before its per-doc partial agg. Training runs once
    * per (process, sfDir) via [[graft.Materialized]] — q116 declares
    * the merge table itself, this query its application. */
  def bpeEncodeStats(spark: org.apache.spark.sql.SparkSession, dir: String,
      rounds: Int = 5): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val merges = trainedMerges(spark, dir, rounds)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val words = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
    var t: org.apache.spark.sql.Column =
      concat(lit(" "), trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" "))
    merges.foreach { case (a, b) =>
      val pat = lit(" " + a + " " + b + " ")
      val rep = lit(" " + a + b + " ")
      t = replace(replace(t, pat, rep), pat, rep)
    }
    val wordToks = words.select(col("w")).distinct()
      .select(col("w"), size(split(trim(t), " ")).as("toks"))
    words.join(wordToks, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("toks")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The trained merge table, materialized once per (process, sfDir). */
  private def trainedMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int): DataFrame =
    graft.Materialized.table(spark, dir, "bpe_merges")(
      bpeMerges(graft.Tables.load(spark, dir, "documents"), rounds))

  /** Per-doc encode stats, materialized once per (process, sfDir):
    * the corpus-wide regexp rewrite cascade is the expensive step and
    * both q128 and the fertility rollup (q157) consume it. */
  private def sharedEncodeStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Materialized.table(spark, dir, "bpe_encode")(
      bpeEncodeStats(spark, dir))

  /** Shared oracle prelude: replays training — v0 char-spaced vocab,
    * then per round the pair counts (p), the winner (b), and the
    * rewritten vocab (v). */
  private def oracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH words AS MATERIALIZED (SELECT unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents),
        |v0 AS MATERIALIZED (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS t,
        |         count(*) AS n
        |       FROM words WHERE length(w) >= 2 GROUP BY 1)""".stripMargin)
    for (r <- 1 to rounds) {
      val v = s"v${r - 1}"
      sb.append(s""",
        |p$r AS MATERIALIZED (SELECT p, sum(n) AS c FROM (
        |         SELECT n, unnest(list_transform(range(1, len(ws)),
        |                  i -> ws[i] || ' ' || ws[i+1])) AS p
        |         FROM (SELECT string_split(t, ' ') AS ws, n FROM $v))
        |       GROUP BY 1),
        |b$r AS MATERIALIZED (SELECT string_split(p, ' ')[1] AS a,
        |         string_split(p, ' ')[2] AS b, c
        |       FROM p$r ORDER BY c DESC, p LIMIT 1),
        |v$r AS MATERIALIZED (SELECT trim(regexp_replace(regexp_replace(
        |           ' ' || t || ' ',
        |           (SELECT ' ' || a || ' ' || b || ' ' FROM b$r),
        |           (SELECT ' ' || a || b || ' ' FROM b$r), 'g'),
        |           (SELECT ' ' || a || ' ' || b || ' ' FROM b$r),
        |           (SELECT ' ' || a || b || ' ' FROM b$r), 'g')) AS t, n
        |       FROM $v)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracle(rounds: Int): String =
    oracleCtes(rounds) + "\n" + (1 to rounds).map { r =>
      s"SELECT $r AS round, a AS mleft, b AS mright, CAST(c AS BIGINT) AS pair_count FROM b$r"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY round")

  /** Shared encode CTEs: the trained b1..bN rewrites applied to every
    * word of every document, reduced to per-doc (n_words, n_tokens). */
  private def encCtes(rounds: Int): String = {
    var t = """' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' '"""
    for (r <- 1 to rounds) {
      val pat = s"(SELECT ' ' || a || ' ' || b || ' ' FROM b$r)"
      val rep = s"(SELECT ' ' || a || b || ' ' FROM b$r)"
      t = s"regexp_replace(regexp_replace($t,\n      $pat, $rep, 'g'),\n      $pat, $rep, 'g')"
    }
    oracleCtes(rounds) + s""",
      |enc AS MATERIALIZED (SELECT doc_id, len(string_split(trim($t), ' ')) AS toks
      |        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |              FROM documents)
      |        WHERE length(w) >= 1),
      |perdoc AS MATERIALIZED (SELECT doc_id, count(*) AS n_words, sum(toks) AS n_tokens
      |           FROM enc GROUP BY doc_id)""".stripMargin
  }

  private def encodeOracle(rounds: Int): String =
    encCtes(rounds) +
      "\nSELECT doc_id, n_words, CAST(n_tokens AS BIGINT) AS n_tokens FROM perdoc ORDER BY doc_id"

  private def fertilityOracle(rounds: Int): String =
    encCtes(rounds) + s"""
      |SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(floor(1e6 * CAST(sum(n_tokens) AS DOUBLE) / sum(n_words))
      |    AS BIGINT) AS fertility_ppm
      |FROM perdoc JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared(
      "q116_bpe_merges",
      (s, dir) => trainedMerges(s, dir, 5).orderBy(col("round")),
      Some(bpeOracle(5)),
      doc = "First 5 BPE merges learned from the corpus (tokenizer training loop)"),

    Declared(
      "q128_bpe_encode",
      (s, dir) => sharedEncodeStats(s, dir).orderBy(col("doc_id")),
      Some(encodeOracle(5)),
      doc = "BPE encoding applied corpus-wide: per-doc word/token counts under the trained merges"),

    Declared(
      // Tokenizer fertility by language (tokens emitted per word) —
      // the metric that decides whether a tokenizer is fair to a
      // language before mixture weights are set. Rollup over the
      // shared per-doc encode stats: zero extra corpus scans.
      "q157_bpe_fertility",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .join(sharedEncodeStats(s, dir), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"))
        .withColumn("fertility_ppm",
          floor(lit(1e6) * col("n_tokens").cast("double") / col("n_words"))
            .cast("long"))
        .orderBy(col("lang")),
      Some(fertilityOracle(5)),
      doc = "Per-language BPE fertility (tokens per word) from the shared encode stats")
  )
}
