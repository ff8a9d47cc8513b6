package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Declared, DuckSql, Tables}
import graft.linalg.Distances

/** Retrieval-side vector search operators: metadata-FILTERED top-k
  * (the "search within a filter" query every vector store serves) and
  * MMR diversified re-ranking (Carbonell & Goldstein 1998 — the
  * standard redundancy-removal pass over an ANN shortlist).
  *
  * Both are exact and fully oracle-mirrorable: filtered search is the
  * fused [[org.apache.spark.sql.graft.TopKJoin]] over a pre-filtered
  * candidate side; MMR is a fixed-depth greedy loop whose every
  * selection step is replayed as an unrolled CTE in the DuckDB oracle
  * (the Lloyd's-loop convention — q175/q177).
  */
object VectorSearch {

  private val K = 10

  /** Top-k cosine neighbors per query among ONLY the candidates
    * satisfying `candPred` — the pre-filter strategy, which is always
    * exact regardless of the filter's selectivity.
    *
    * Why an operator and not "q30 with a WHERE": the naive alternative
    * (post-filtering an UNfiltered top-k shortlist) silently under-fills
    * or empties the result set as the filter sharpens — the planted
    * spec demonstrates the miss. At scale the pre-filter composes with
    * any ANN index that partitions by the filter column (label-blocked
    * IVF lists); here the exact fused form is the oracle anchor.
    *
    * Scale shape: identical to q30 — the filtered candidate side
    * broadcasts into the fused top-k node, the shuffle carries ≤ k rows
    * per query; the candidate filter prunes BEFORE the broadcast, so a
    * selective filter makes the operator cheaper, never broader. */
  def filteredCosineTopK(emb: DataFrame, k: Int,
      queryPred: Column, candPred: Column): DataFrame =
    org.apache.spark.sql.graft.TopKJoin
      .cosineTopK(emb.filter(queryPred), emb.filter(candPred), k)

  /** Maximal-Marginal-Relevance re-rank: from each query's `kCand`
    * exact-cosine shortlist, greedily select `kSel` results maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — relevance traded
    * against redundancy with the already-picked set. First pick is pure
    * relevance (empty selected set ⇒ diversity term 0). Ties break on
    * (score desc, nbr asc); all sims are 6-dp-rounded BEFORE the
    * combination, and the combination itself stays in raw doubles —
    * identical IEEE ops on identical inputs — because RE-rounding a
    * computed double at 6 dp is exactly where Spark's BigDecimal
    * HALF_UP and DuckDB's double round diverge (a 0.2600395-class
    * boundary value flipped the first replay of this oracle).
    *
    * Scale shape: the shortlist is k-bounded per query (localCheckpoint
    * so the greedy steps re-plan over ≤ kCand rows per query, not the
    * ANN join); each step is an anti-join + a per-(qid,nbr) max over
    * ≤ kSel selected rows + a qid-partitioned argmax window — work
    * per query is O(kCand·kSel), embarrassingly parallel across
    * queries, nothing global. */
  def mmrRerank(emb: DataFrame, kCand: Int = 2 * K, kSel: Int = 5,
      lambda: Double = 0.7,
      queryPred: Column = col("vec_id") < 20): DataFrame = {
    // kCand < kSel (or a query with fewer than kSel candidates) is
    // legal: the greedy loop exhausts the shortlist and the query
    // yields min(kSel, candidates) ranks — pinned by the randomized
    // truncation spec.
    mmrRerankFrom(emb,
      org.apache.spark.sql.graft.TopKJoin
        .cosineTopK(emb.filter(queryPred), emb, kCand),
      kSel, lambda)
  }

  /** [[mmrRerank]] over a PRECOMPUTED shortlist — the production
    * composition: any ANN index (IVF/LSH/PQ — their top-k outputs all
    * share the (qid, nbr, sim) contract with 6-dp sims) feeds the same
    * greedy diversifier the exact declared query anchors. `emb`
    * supplies the candidate vectors for the pairwise redundancy term. */
  def mmrRerankFrom(emb: DataFrame, shortlist: DataFrame,
      kSel: Int = 5, lambda: Double = 0.7): DataFrame = {
    require(kSel >= 1, s"need kSel >= 1, got $kSel")
    val vecs = emb.select(col("vec_id").as("nbr"), col("embedding").as("cvec"))
    val cands = shortlist.select(col("qid"), col("nbr"), col("sim"))
      .join(vecs, "nbr")
      .select(col("qid"), col("nbr"), col("sim"), col("cvec"))
      .localCheckpoint()
    val lam = lit(lambda)
    val omLam = lit(1.0 - lambda)
    val bySim = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nbr"))
    val byScore = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nbr"))
    val first = cands
      .withColumn("rnk", row_number().over(bySim))
      .filter(col("rnk") === 1)
      .select(col("qid"), col("nbr"), col("sim"),
        (lam * col("sim")).as("score"),
        lit(1).as("mmr_rank"), col("cvec"))
      .localCheckpoint()
    var picks = List(first)
    for (t <- 2 to kSel) {
      val sel = picks.map(_.select(col("qid"), col("nbr"), col("cvec")))
        .reduce(_ unionAll _)
      val rem = cands.join(sel.select(col("qid"), col("nbr")),
        Seq("qid", "nbr"), "left_anti")
      val maxp = rem
        .join(sel.select(col("qid"), col("nbr").as("snbr"),
          col("cvec").as("svec")), Seq("qid"))
        .groupBy(col("qid"), col("nbr"))
        .agg(max(round(Distances.cosineSimilarity(col("cvec"), col("svec")), 6))
          .as("maxp"))
      val pick = rem.join(maxp, Seq("qid", "nbr"))
        .withColumn("score",
          lam * col("sim") - omLam * col("maxp"))
        .withColumn("rnk", row_number().over(byScore))
        .filter(col("rnk") === 1)
        .select(col("qid"), col("nbr"), col("sim"), col("score"),
          lit(t).as("mmr_rank"), col("cvec"))
        .localCheckpoint()
      picks = picks :+ pick
    }
    picks.map(_.drop("cvec")).reduce(_ unionAll _)
      .orderBy(col("qid"), col("mmr_rank"))
  }

  /** Group space for packing (qid, group) into the one Long key
    * [[graft.agg.TopKByWeight.perId]] reduces over — BOTH halves
    * guarded per-row (raise_error) so an out-of-range group OR a
    * negative/oversized qid can never silently alias another query's
    * bucket (round-11 advice: a negative qid corrupted the packing
    * through Spark's negative `%` remainder before the guard covered
    * it). */
  private val GroupSpace = 1L << 20

  /** Max packable qid: qid·GroupSpace + grp must not overflow Long. */
  private val QidSpace = Long.MaxValue / GroupSpace

  /** Field-collapsed top-k — the "at most `m` results per group"
    * rule every search engine applies to keep one domain/source from
    * monopolizing a result page (Elasticsearch field collapsing).
    * Exact semantics: per (query, group) keep the `m` most similar
    * candidates, then rank the survivors per query and keep `k`.
    *
    * Scale shape: the pair stream feeds the TopKByWeight k-min
    * AGGREGATION keyed by the packed (qid, group) — map-side partial
    * combine ships ≤ m rows per (query, group), never the candidate
    * stream (the knn_bruteforce shape with a compound key); the final
    * rank window runs over ≤ m·|groups| survivors per query. */
  def collapsedCosineTopK(emb: DataFrame, k: Int, m: Int,
      queryPred: Column): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("nbr"), col("embedding").as("cv"),
      col("label").cast("long").as("grp"))
    val pairs = q.join(broadcast(c), col("qid") =!= col("nbr"))
      .select(
        when(col("qid") >= 0 && col("qid") < QidSpace, col("qid"))
          .otherwise(raise_error(concat(lit("collapse qid out of packing range: "),
            col("qid")))).as("qid"),
        when(col("grp") >= 0 && col("grp") < GroupSpace, col("grp"))
          .otherwise(raise_error(concat(lit("collapse group out of packing range: "),
            col("grp")))).as("grp"),
        col("nbr"),
        round(Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim"))
    // unpack in INTEGER ops (div/pmod): floor(id / const) routes the
    // packed key through double division, which misrounds above 2^53
    val perGroup = graft.agg.TopKByWeight.perId(
        pairs.select((col("qid") * GroupSpace + col("grp")).as("id"),
          col("nbr"), (-col("sim")).as("dist")), m)
      .select(expr(s"id div ${GroupSpace}L").as("qid"),
        pmod(col("id"), lit(GroupSpace)).as("grp"), col("nbr"),
        (-col("dist")).as("sim"))
    graft.agg.TopKByWeight
      .topKBySimilarity(perGroup.select(col("qid"), col("nbr"), col("sim")), k)
      .join(perGroup.select(col("qid"), col("nbr"), col("grp")), Seq("qid", "nbr"))
      .select(col("qid"), col("nbr"), col("grp"), col("sim"), col("rn"))
  }

  private def collapsedOracle(k: Int, m: Int): String = {
    val sim = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS qid, CAST(b.label AS BIGINT) AS grp,
       |         b.vec_id AS nbr, round($sim, 6) AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 20),
       |pg AS (
       |  SELECT qid, grp, nbr, sim,
       |    row_number() OVER (PARTITION BY qid, grp
       |      ORDER BY sim DESC, nbr) AS gr
       |  FROM pairs),
       |top AS (
       |  SELECT qid, nbr, grp, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr) AS rn
       |  FROM pg WHERE gr <= $m)
       |SELECT qid, nbr, grp, sim, CAST(rn AS INT) AS rn
       |FROM top WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  private def filteredOracle(k: Int): String = {
    val sim = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nbr, round($sim, 6) AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 20 AND b.label % 2 = 0
       |), ranked AS (
       |  SELECT qid, nbr, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr) AS rn
       |  FROM pairs)
       |SELECT qid, nbr, sim, CAST(rn AS INTEGER) AS rn
       |FROM ranked WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** The candidate-pairwise-sims CTE — assumes a `cand(qid, nbr, sim)`
    * CTE is already in scope (exact shortlist for q216, IVF shortlist
    * for the composed q221). */
  private def psimCte: String = {
    val cosE = DuckSql.cosineSimilarity("e1.embedding", "e2.embedding")
    s"""psim AS MATERIALIZED (
       |  SELECT c1.qid, c1.nbr AS n1, c2.nbr AS n2, round($cosE, 6) AS ps
       |  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.nbr <> c2.nbr
       |  JOIN embeddings e1 ON e1.vec_id = c1.nbr
       |  JOIN embeddings e2 ON e2.vec_id = c2.nbr)""".stripMargin
  }

  /** Every greedy MMR step unrolled over in-scope `cand` + `psim` CTEs
    * — step t scores the not-yet-selected candidates against sel(t−1)
    * (max of 6-dp pairwise sims), argmax by (score desc, nbr). Same
    * doubles on both engines: λ and 1−λ are printed with full
    * precision, the combination is two multiplies and a subtract over
    * 6-dp-rounded sims — NOT re-rounded (see [[mmrRerank]] doc). CAST
    * keeps DuckDB from reading the constants as DECIMAL (its default
    * for fractional literals); toString prints the full-precision
    * value (1−0.7 is NOT 0.3). */
  private def mmrTailSql(kSel: Int, lambda: Double): String = {
    val lam = s"CAST(${lambda.toString} AS DOUBLE)"
    val om = s"CAST(${(1.0 - lambda).toString} AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(
      s""",
         |s1 AS MATERIALIZED (
         |  SELECT qid, nbr, sim, $lam * sim AS score, 1 AS mmr_rank FROM (
         |    SELECT qid, nbr, sim,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr) AS rn
         |    FROM cand) WHERE rn = 1),
         |sel1 AS (SELECT qid, nbr FROM s1)""".stripMargin)
    for (t <- 2 to kSel) {
      sb.append(
        s""",
           |sc$t AS (
           |  SELECT c.qid, c.nbr, c.sim,
           |    $lam * c.sim - $om * max(p.ps) AS score
           |  FROM cand c
           |  JOIN psim p ON p.qid = c.qid AND p.n1 = c.nbr
           |  JOIN sel${t - 1} s ON s.qid = p.qid AND s.nbr = p.n2
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
           |                    WHERE x.qid = c.qid AND x.nbr = c.nbr)
           |  GROUP BY c.qid, c.nbr, c.sim),
           |s$t AS MATERIALIZED (
           |  SELECT qid, nbr, sim, score, $t AS mmr_rank FROM (
           |    SELECT qid, nbr, sim, score,
           |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nbr) AS rn
           |    FROM sc$t) WHERE rn = 1),
           |sel$t AS (SELECT qid, nbr FROM sel${t - 1}
           |          UNION ALL SELECT qid, nbr FROM s$t)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT qid, nbr, sim, score, CAST(mmr_rank AS INT) AS mmr_rank FROM (
         |${(1 to kSel).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")})
         |ORDER BY qid, mmr_rank""".stripMargin)
    sb.toString
  }

  /** Generated mirror of [[mmrRerank]]: the exact `kCand` shortlist as
    * the `cand` CTE, then [[psimCte]] + the [[mmrTailSql]] unroll. */
  private def mmrOracle(kCand: Int, kSel: Int, lambda: Double): String = {
    val cos = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
    s"""WITH cand AS MATERIALIZED (
       |  SELECT qid, nbr, sim FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nbr, round($cos, 6) AS sim,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cos, 6) DESC, b.vec_id) AS rn
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 20)
       |  WHERE rn <= $kCand),
       |$psimCte""".stripMargin + mmrTailSql(kSel, lambda)
  }

  /** Generated mirror of the COMPOSED pipeline (round-11 verdict #6):
    * metadata filter → portable IVF shortlist → MMR diversify, every
    * stage in one SQL text — the Lloyd's CTEs train on the FILTERED
    * corpus (`ptsWhere`), the shortlist caps at `kCand`, and the same
    * greedy unroll as q216 runs over it. */
  private def composedOracle(kCand: Int, kSel: Int, lambda: Double,
                             nlist: Int, nprobe: Int, iters: Int): String = {
    def eucl(a: String, b: String) = DuckSql.euclidean(a, b)
    val cos = DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")
    s"""WITH ${SimilarityQueries.kmeansPortableCtes(nlist, iters,
        " WHERE label % 2 = 0")},
       |lists AS MATERIALIZED (
       |  SELECT cid, id AS nbr FROM (
       |    SELECT p.id, c.cid,
       |      row_number() OVER (PARTITION BY p.id
       |        ORDER BY ${eucl("p.vec", "c.cvec")}, c.cid) AS rn
       |    FROM pts p CROSS JOIN k$iters c) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY ${eucl("q.vec", "c.cvec")}, c.cid) AS pr
       |    FROM pts q CROSS JOIN k$iters c WHERE q.id < 20) WHERE pr <= $nprobe),
       |icand AS (
       |  SELECT p.qid, l.nbr FROM probes p JOIN lists l ON l.cid = p.cid
       |  WHERE l.nbr <> p.qid),
       |cand AS MATERIALIZED (
       |  SELECT qid, nbr, sim FROM (
       |    SELECT icand.qid, icand.nbr, round($cos, 6) AS sim,
       |      row_number() OVER (PARTITION BY icand.qid
       |        ORDER BY round($cos, 6) DESC, icand.nbr) AS rn
       |    FROM icand JOIN embeddings qe ON qe.vec_id = icand.qid
       |               JOIN embeddings ce ON ce.vec_id = icand.nbr)
       |  WHERE rn <= $kCand),
       |$psimCte""".stripMargin + mmrTailSql(kSel, lambda)
  }

  /** The composed production pipeline the declared q221 anchors:
    * metadata pre-filter, IVF-probed shortlist (the portable
    * quantizer trained on the filtered corpus only — filtered search
    * at scale partitions its index by the filter), MMR diversify over
    * the shortlist. Queries are the filtered vec_id < 20 subset. */
  def composedSearch(emb: DataFrame, kCand: Int = 2 * K, kSel: Int = 5,
                     lambda: Double = 0.7): DataFrame = {
    val cands = emb.filter(col("label") % 2 === 0)
    val shortlist = Ann.ivfKmeansTopK(cands, kCand,
      queryPred = col("vec_id") < 20, nlist = 8, nprobe = 3, kmeansIters = 5,
      portable = true)
    mmrRerankFrom(cands, shortlist, kSel, lambda)
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q215_filtered_ann",
      (s, dir) => filteredCosineTopK(Tables.load(s, dir, "embeddings"), K,
        queryPred = col("vec_id") < 20, candPred = col("label") % 2 === 0)
        .orderBy(col("qid"), col("rn")),
      Some(filteredOracle(K)),
      doc = "Metadata-filtered vector search: exact cosine top-k among only the candidates passing the filter (pre-filter strategy through the fused TopKJoin; post-filtering an unfiltered shortlist under-fills - planted spec)"),

    Declared(
      "q217_collapsed_topk",
      (s, dir) => collapsedCosineTopK(Tables.load(s, dir, "embeddings"),
        K, m = 2, queryPred = col("vec_id") < 20)
        .orderBy(col("qid"), col("rn")),
      Some(collapsedOracle(K, m = 2)),
      doc = "Field-collapsed vector search: top-k with at most 2 results per label group (search-engine field collapsing) - per-(query,group) k-min via the packed-key TopKByWeight aggregation (<= m rows shuffle per group), global rank over the survivors"),

    Declared(
      "q216_mmr_rerank",
      (s, dir) => mmrRerank(Tables.load(s, dir, "embeddings")),
      Some(mmrOracle(kCand = 2 * K, kSel = 5, lambda = 0.7)),
      doc = "MMR diversified re-rank over the exact top-20 shortlist: greedy lambda*sim - (1-lambda)*max-redundancy selection of 5, every step replayed as an unrolled oracle CTE (6-dp sims, (score desc, nbr) ties)"),

    Declared(
      "q221_composed_search",
      (s, dir) => composedSearch(Tables.load(s, dir, "embeddings")),
      Some(composedOracle(kCand = 2 * K, kSel = 5, lambda = 0.7,
        nlist = 8, nprobe = 3, iters = 5)),
      doc = "Composed retrieval pipeline end-to-end (round-11 verdict #6): metadata filter -> portable IVF shortlist (quantizer trained on the filtered corpus) -> MMR diversify; one oracle text replays the Lloyd's training, the probe, the 6-dp shortlist AND every greedy step cross-engine")
  )
}
