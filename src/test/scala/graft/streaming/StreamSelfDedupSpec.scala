package graft.streaming

import org.apache.spark.sql.functions._

import graft.{Registry, SparkSpec, Tables}

/** Gates for the streamed SELF-dedup (q228): the declared row is
  * oracled at 3 SFs; these specs pin what the oracle cannot see — that
  * the posting state really accumulates ACROSS batches (an
  * earlier-wave doc matches a later-wave doc through state written two
  * batches before), that same-wave pairs are excluded (the arrival
  * rule, not an accident of timing), and the prefix-cap behavior. */
class StreamSelfDedupSpec extends SparkSpec {

  private def toks(r: Range, tag: String) = r.map(i => s"$tag$i").mkString(" ")

  test("cross-wave pair emits the maximal span; same-wave pair emits nothing") {
    import spark.implicits._
    val shared = toks(0 until 80, "s")
    // doc 0 (wave 0) and doc 1 (wave 1) share an 80-token run -> span
    // via state written in batch 1, probed in batch 2; docs 3 and 6
    // (both wave 0) share a DIFFERENT 60-token run -> same wave, no
    // span (in-batch pairs are excluded by the arrival rule)
    val sameWave = toks(0 until 60, "t")
    val docs = Seq(
      (0L, "en", toks(0 until 5, "a") + " " + shared),
      (1L, "en", toks(0 until 12, "b") + " " + shared + " " + toks(0 until 9, "c")),
      (3L, "en", sameWave + " " + toks(0 until 11, "d")),
      (6L, "en", toks(0 until 7, "e") + " " + sameWave))
      .toDF("doc_id", "lang", "text")
    val out = StreamSelfDedup.spans(spark,
      Replay.stage(None)(StreamSelfDedup.waveArrivals(spark, docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq((0L, 6L, 85L, 1L, 13L, 92L, 80L)),
      s"expected only the cross-wave maximal span, got ${out.toSeq}")
  }

  test("posting state carries across TWO boundaries: wave-0 doc matches a wave-2 doc") {
    import spark.implicits._
    val shared = toks(0 until 65, "u")
    val docs = Seq(
      (3L, "en", shared + " " + toks(0 until 10, "f")), // wave 0
      (5L, "en", toks(0 until 20, "g") + " " + shared)) // wave 2
      .toDF("doc_id", "lang", "text")
    val out = StreamSelfDedup.spans(spark,
      Replay.stage(None)(StreamSelfDedup.waveArrivals(spark, docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq((3L, 1L, 65L, 5L, 21L, 85L, 65L)),
      s"expected the two-boundary span, got ${out.toSeq}")
  }

  test("q228 equals the batch prefix-cap rule on sf0.001 (the oracle, computed Spark-side)") {
    // independent Spark-side mirror of the oracle: postings prefix-
    // capped per gram in (wave, doc_id, p) order, matches strictly
    // cross-wave, islands per (pair, diagonal)
    val n = graft.text.ExactSubstr.MinTokens
    val docs = Tables.load(spark, sf0001, "documents")
    val g = graft.text.SpanDedup.positionalGrams(docs, n)
      .withColumn("wave", pmod(col("doc_id"), lit(3L)))
    val kept = g.withColumn("prn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
          .orderBy(col("wave"), col("doc_id"), col("p"))))
      .filter(col("prn") <= graft.text.ExactSubstr.MaxOcc)
      .select(col("g"), col("doc_id").as("doc_a"), col("p").as("pa"),
        col("wave").as("wa"))
    val pr = kept.join(
        g.select(col("g"), col("doc_id").as("doc_b"), col("p").as("pb"),
          col("wave").as("wb")), Seq("g"))
      .filter(col("wb") > col("wa"))
      .select(col("doc_a"), col("doc_b"), (col("pb") - col("pa")).as("d"),
        col("pa"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("d")).orderBy(col("pa"))
    val batch = pr
      .withColumn("brk", when(col("pa") - lag(col("pa"), 1).over(w) === 1, 0)
        .otherwise(1))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("island"))
      .agg(min(col("pa")).as("a_start"),
        (max(col("pa")) + (n - 1)).as("a_end"),
        (min(col("pa")) + col("d")).as("b_start"),
        (max(col("pa")) + (n - 1) + col("d")).as("b_end"),
        (max(col("pa")) - min(col("pa")) + n).as("len_tokens"))
      .select(col("doc_a"), col("a_start"), col("a_end"),
        col("doc_b"), col("b_start"), col("b_end"), col("len_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val streamed = Registry.byName("q228_stream_selfdedup_spans")
      .run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batch,
      s"streamed self-dedup must equal the batch rule: extra=" +
        s"${streamed -- batch}, missing=${batch -- streamed}")
  }
}
