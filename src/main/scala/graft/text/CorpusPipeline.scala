package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Declared

/** End-to-end training-corpus curation — the composition a data
  * pipeline actually runs, built from the individual operators:
  *
  *   exact dedup (keep min doc_id) → quality gate → annotate with
  *   language heuristic, token counts and content fingerprint.
  *
  * One declarative plan: dedup is a groupBy on content, the gate and
  * annotations are row-local projections — so Catalyst fuses
  * everything after the single content shuffle, and the whole curation
  * runs in two stages at any scale.
  */
object CorpusPipeline {

  /** Curated corpus with per-doc annotations. */
  def curate(docs: DataFrame, minWords: Int = 20,
             maxNonAlphaRatio: Double = 0.05): DataFrame = {
    val deduped = docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"),
        min(col("lang")).as("lang"))
    val words = split(col("text"), " ")
    val annotated = deduped
      .withColumn("n_words", size(words))
      .withColumn("n_nonalpha",
        length(regexp_replace(col("text"), "[a-z ]", "")))
      .withColumn("nonalpha_ratio",
        round(col("n_nonalpha").cast("double") / length(col("text")), 4))
      .withColumn("stop_ratio",
        round(size(filter(split(lower(col("text")), " "),
          w => w.isin("the", "a", "an", "and", "of",
            "to", "in", "is", "it", "that"))).cast("double") / size(words), 4))
      .withColumn("est_tokens", ceil(length(col("text")).cast("double") / 4.0))
      .withColumn("fp", expr(
        "aggregate(transform(sequence(1, length(text)), " +
          "i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), 0L, " +
          "(h, c) -> (h * 131 + c) % 1000000007)"))
    annotated
      .filter(col("n_words") >= minWords
        && col("nonalpha_ratio") <= maxNonAlphaRatio)
      .select(col("doc_id"), col("lang"), col("n_copies"), col("n_words"),
        col("stop_ratio"), col("est_tokens"), col("fp"))
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q49_corpus_curate",
      (s, dir) => curate(graft.Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH dedup AS (
        |  SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies,
        |         min(lang) AS lang
        |  FROM documents GROUP BY text),
        |ann AS (
        |  SELECT doc_id, lang, n_copies,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |      / length(text), 4) AS nonalpha_ratio,
        |    round(CAST(len(list_filter(string_split(lower(text), ' '),
        |        w -> list_contains(['the','a','an','and','of','to','in','is','it','that'], w)))
        |      AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
        |    CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_tokens,
        |    list_reduce(list_transform(range(length(text)),
        |      i -> CAST(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT)),
        |      (h, c) -> (h * 131 + c) % 1000000007) AS fp
        |  FROM dedup)
        |SELECT doc_id, lang, n_copies, n_words, stop_ratio, est_tokens, fp
        |FROM ann
        |WHERE n_words >= 20 AND nonalpha_ratio <= 0.05
        |ORDER BY doc_id""".stripMargin),
      doc = "Full corpus curation: dedup → quality gate → annotations")
  )
}
