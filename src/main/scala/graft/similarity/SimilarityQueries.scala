package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Declared, DuckSql, Tables}
import graft.linalg.Distances

/** Similarity search over the embedding column (north-star extension):
  * brute-force cosine top-k as the exact baseline (oracle-matched);
  * LSH/IVF approximate variants live in [[Ann]] (recall-tested). */
object SimilarityQueries {

  private val K = 10

  /** Top-k cosine neighbors for a query subset against the full set.
    * The candidate side is broadcast; similarity is rounded before
    * ranking with (sim desc, nbr) tie-break for oracle determinism.
    * Selection is the TopKByWeight partial aggregation — the shuffle
    * carries ≤ k candidates per query, not the full pair stream.
    *
    * Compositional form; kept as the row-for-row equivalence reference
    * for the fused [[org.apache.spark.sql.graft.TopKJoin.cosineTopK]]
    * operator that the declared q30 runs (the fused node never
    * materializes the pair stream at all). */
  def cosineTopK(emb: DataFrame, k: Int, queryPred: org.apache.spark.sql.Column): DataFrame = {
    val q = emb.filter(queryPred).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("nbr"), col("embedding").as("cv"))
    graft.agg.TopKByWeight.topKBySimilarity(
      q.join(broadcast(c), col("qid") =!= col("nbr"))
        .select(col("qid"), col("nbr"),
          round(Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim")),
      k)
  }

  /** Embedding-cosine near-duplicate pairs — the vector-space member
    * of the dedup family (exact all-pairs form; the LSH/IVF buckets in
    * [[Ann]] are the 100 TB path, this is their oracle). */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // spread the N×N cosine scan: the embeddings scan is a single
    // input split at test scale, and the broadcast join would
    // otherwise evaluate every pair inside that one map task
    val a = emb.select(col("vec_id").as("d1"), col("embedding").as("va"))
      .repartition(col("d1"))
    val b = emb.select(col("vec_id").as("d2"), col("embedding").as("vb"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("sim", round(Distances.cosineSimilarity(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** Blocked (partitioned) cosine near-dup pairs: candidates only meet
    * inside the same block — here the label column; in production the
    * block is an IVF/k-means cluster id (q36b's coarse quantizer),
    * which bounds block size by construction. Turns the O(N²) pair
    * stream into Σ_b B², the standard semantic-dedup scale shape: a
    * shuffle-hash self-join on the block key, pairs generated
    * partition-locally, nothing else moves. q54 (all-pairs) is this
    * query's recall oracle at test scale. */
  def blockedCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("label"), col("vec_id").as("d1"), col("embedding").as("va"))
    val b = emb.select(col("label"), col("vec_id").as("d2"), col("embedding").as("vb"))
    a.join(b, "label")
      .filter(col("d1") < col("d2"))
      .withColumn("sim", round(Distances.cosineSimilarity(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("label"), col("d1"), col("d2"), col("sim"))
  }

  /** ANN quality scorecard: recall@k of the LSH and (oracle-mirrorable)
    * IVF pipelines against the exact cosine top-k, one row per method,
    * recall quantized to integer ppm (floor((1e6·hits)/exact) — the
    * multiply-then-divide order is pinned so both engines run the same
    * double ops). The 'exact' row is the self-check (1 000 000 ppm by
    * construction). Every branch is deterministic — seeded ±1
    * hyperplanes, ordered-fold centroids, 6-dp-rounded sims with
    * (sim desc, nbr) ties — so the DuckDB oracle replays the full
    * pipelines from the SAME constants (q129's generated-mirror
    * pattern; the planes are embedded in the SQL as literals). */
  def annQuality(emb: DataFrame, k: Int = K): DataFrame = {
    val exact = org.apache.spark.sql.graft.TopKJoin
      .cosineTopK(emb.filter(col("vec_id") < 20), emb, k)
      .select(col("qid"), col("nbr")).localCheckpoint()
    val lsh = Ann.lshTopK(emb, k, dim = 64, queryPred = col("id") < 20)
      .select(col("qid"), col("nbr"))
    val ivf = Ann.ivfTopKOracled(emb, k, queryPred = col("vec_id") < 20)
      .select(col("qid"), col("nbr"))
    val tagged = lsh.withColumn("method", lit("lsh"))
      .unionAll(ivf.withColumn("method", lit("ivf_label")))
      .unionAll(exact.withColumn("method", lit("exact")))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    tagged.join(exact, Seq("qid", "nbr"))
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(col("method"), col("n_exact"), col("n_hits"),
        floor(lit(1e6) * col("n_hits") / col("n_exact")).cast("long")
          .as("recall_ppm"))
      .orderBy(col("method"))
  }

  /** Shared CTE fragment: `ex(qid, nbr)` — exact cosine top-k for the
    * qid < 20 query subset (the q30 oracle pattern). */
  private def exCte(k: Int): String = {
    val cosAB = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
    s"""ex AS MATERIALIZED (
       |  SELECT qid, nbr FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nbr,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cosAB, 6) DESC, b.vec_id) AS rn
       |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 20) WHERE rn <= $k)""".stripMargin
  }

  /** Shared CTE fragment: `ivf(qid, nbr)` — [[Ann.ivfTopKOracled]]'s
    * label-centroid IVF (ordered-fold means, (cd, clabel) probe ties,
    * 6-dp re-rank). */
  private def ivfLabelCtes(k: Int): String = {
    val cosQC = DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")
    val cd = DuckSql.euclidean("q.embedding", "c.cvec")
    s"""ce0 AS (SELECT label, vec_id,
       |    unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS x
       |  FROM embeddings),
       |cm AS (SELECT label, pos,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list(CAST(x AS DOUBLE) ORDER BY vec_id)),
       |      (acc, v) -> acc + v) / count(*) AS m
       |  FROM ce0 GROUP BY 1, 2),
       |centv AS MATERIALIZED (SELECT label AS clabel,
       |    list_transform(list(m ORDER BY pos), z -> CAST(z AS FLOAT)) AS cvec
       |  FROM cm GROUP BY 1),
       |probes AS (
       |  SELECT qid, clabel FROM (
       |    SELECT q.vec_id AS qid, c.clabel,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cd, c.clabel) AS pr
       |    FROM embeddings q CROSS JOIN centv c WHERE q.vec_id < 20)
       |  WHERE pr <= 2),
       |icand AS (
       |  SELECT p.qid, e.vec_id AS nbr
       |  FROM probes p JOIN embeddings e ON e.label = p.clabel
       |  WHERE e.vec_id <> p.qid),
       |ivf AS MATERIALIZED (
       |  SELECT qid, nbr FROM (
       |    SELECT icand.qid, icand.nbr,
       |      row_number() OVER (PARTITION BY icand.qid
       |        ORDER BY round($cosQC, 6) DESC, icand.nbr) AS rn
       |    FROM icand JOIN embeddings qe ON qe.vec_id = icand.qid
       |               JOIN embeddings ce ON ce.vec_id = icand.nbr)
       |  WHERE rn <= $k)""".stripMargin
  }

  /** The generated DuckDB mirror of [[annQuality]]: LSH planes embedded
    * as literals from the same seeded generator, centroids as the same
    * ordered fold, identical rounding and tie-breaks. */
  private def annQualityOracle(k: Int): String = {
    val planes = Ann.lshPlanes(dim = 64, bands = 4, bitsPerBand = 8, seed = 42L)
    val planeVals = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
    }.mkString(",\n")
    val cosQC = DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")
    val dotPl = DuckSql.dot("e.embedding", "p.pl")
    s"""WITH ${exCte(k)},
       |planes(p, pl) AS (VALUES
       |$planeVals),
       |sig AS MATERIALIZED (
       |  SELECT e.vec_id, p.p // 8 AS band, p.p % 8 AS biti,
       |    CASE WHEN $dotPl >= 0 THEN 1 ELSE 0 END AS b
       |  FROM embeddings e, planes p),
       |bnd AS MATERIALIZED (
       |  SELECT vec_id, band, sum(b * (1 << biti)) AS bv
       |  FROM sig GROUP BY 1, 2),
       |lcand AS (
       |  SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS nbr
       |  FROM bnd qb JOIN bnd cb ON qb.band = cb.band AND qb.bv = cb.bv
       |  WHERE qb.vec_id < 20 AND cb.vec_id <> qb.vec_id),
       |lsh AS MATERIALIZED (
       |  SELECT qid, nbr FROM (
       |    SELECT lcand.qid, lcand.nbr,
       |      row_number() OVER (PARTITION BY lcand.qid
       |        ORDER BY round($cosQC, 6) DESC, lcand.nbr) AS rn
       |    FROM lcand JOIN embeddings qe ON qe.vec_id = lcand.qid
       |               JOIN embeddings ce ON ce.vec_id = lcand.nbr)
       |  WHERE rn <= $k),
       |${ivfLabelCtes(k)},
       |m AS (SELECT 'exact' AS method, qid, nbr FROM ex
       |  UNION ALL SELECT 'ivf_label', qid, nbr FROM ivf
       |  UNION ALL SELECT 'lsh', qid, nbr FROM lsh),
       |ne AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(floor(1e6 * count(*) / n_exact) AS BIGINT) AS recall_ppm
       |FROM m JOIN ex USING (qid, nbr) CROSS JOIN ne
       |GROUP BY method, n_exact ORDER BY method""".stripMargin
  }

  /** The portable distributed-Lloyd's CTE chain (`pts`, `k0`,
    * `a1..aN`, `k1..kN` — final centroids in `k<iters>`), the SQL
    * replay of the portable [[Kmeans]] loop shared by the q175 oracle,
    * the index-store oracles and the SemDeDup oracle. Returned WITHOUT
    * the leading `WITH`. A round's `k<r>` keeps only centroids that won
    * members, where [[Kmeans]] carries an empty centroid over; the two
    * agree while no centroid empties, which the oracles check on the
    * testdata. */
  private[graft] def kmeansPortableCtes(nlist: Int, iters: Int,
      ptsWhere: String = ""): String = {
    def eucl(a: String, b: String) = DuckSql.euclidean(a, b)
    val sb = new StringBuilder
    sb.append(
      s"""pts AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS vec FROM embeddings$ptsWhere),
         |k0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY hk, id) - 1 AS cid, vec AS cvec
         |  FROM (SELECT id, vec,
         |          CAST(('0x' || substr(md5('km|' || CAST(id AS VARCHAR)),
         |            1, 15)) AS BIGINT) AS hk
         |        FROM pts ORDER BY hk, id LIMIT $nlist) t)""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(s""",
        |a$r AS MATERIALIZED (
        |  SELECT id, vec, cid FROM (
        |    SELECT p.id, p.vec, c.cid,
        |      row_number() OVER (PARTITION BY p.id
        |        ORDER BY ${eucl("p.vec", "c.cvec")}, c.cid) AS rn
        |    FROM pts p CROSS JOIN k${r - 1} c) WHERE rn = 1),
        |k$r AS MATERIALIZED (
        |  SELECT cid, list_transform(list(m ORDER BY pos),
        |           z -> CAST(z AS FLOAT)) AS cvec
        |  FROM (SELECT cid, pos,
        |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |              list(CAST(x AS DOUBLE) ORDER BY id)),
        |            (acc, v) -> acc + v) / count(*) AS m
        |        FROM (SELECT id, cid, unnest(range(0, len(vec))) AS pos,
        |                unnest(vec) AS x
        |              FROM a$r)
        |        GROUP BY cid, pos)
        |  GROUP BY cid)""".stripMargin)
    }
    sb.toString
  }

  /** Generated mirror of [[Ann.ivfKmeansTopK]] with `portable` = true:
    * the md5 bottom-k init, every Lloyd's round (argmin with (d, cid)
    * ties, ordered-fold centroid means), list assignment, probes, and
    * the 6-dp-rounded exact re-rank — all replayed as SQL CTEs. The
    * iterative-float-algorithm analogue of the BPE/PageRank replay
    * oracles: only the pinned fold order makes the rounds
    * bit-reproducible across engines. */
  private[similarity] def ivfKmeansPortableOracle(k: Int, nlist: Int, nprobe: Int,
                                      iters: Int): String = {
    def eucl(a: String, b: String) = DuckSql.euclidean(a, b)
    val sb = new StringBuilder
    sb.append("WITH ")
    sb.append(kmeansPortableCtes(nlist, iters))
    sb.append(s""",
      |lists AS MATERIALIZED (
      |  SELECT cid, id AS nbr, vec AS cv FROM (
      |    SELECT p.id, p.vec, c.cid,
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
      |  WHERE l.nbr <> p.qid)
      |SELECT qid, nbr, sim, CAST(rn AS INT) AS rn FROM (
      |  SELECT icand.qid, icand.nbr,
      |    round(${DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")}, 6) AS sim,
      |    row_number() OVER (PARTITION BY icand.qid
      |      ORDER BY round(${DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")}, 6) DESC,
      |        icand.nbr) AS rn
      |  FROM icand JOIN embeddings qe ON qe.vec_id = icand.qid
      |             JOIN embeddings ce ON ce.vec_id = icand.nbr)
      |WHERE rn <= $k ORDER BY qid, rn""".stripMargin)
    sb.toString
  }

  /** Generated mirror of [[Pq.adcTopK]] with `portable` = true:
    * subspace slicing, the grouped [[Kmeans]] loop (md5 init shared
    * across subspaces, ordered-fold means, empty-cluster carry),
    * literal-free encode as the same
    * argmin, the ADC sum in PINNED j-order (Spark's reduce is a left
    * fold; an SQL sum() aggregates in arbitrary order, so the mirror
    * pivots the m terms and adds them explicitly), shortlist by
    * (adist, nbr), exact 6-dp cosine re-rank. */
  private def pqPortableOracle(k: Int, m: Int, ks: Int, dim: Int,
                               iters: Int, rerank: Int): String = {
    val subDim = dim / m
    def eucl(a: String, b: String) = DuckSql.euclidean(a, b)
    def sq(a: String, b: String) = DuckSql.squaredL2(a, b)
    val sb = new StringBuilder
    sb.append(
      s"""WITH pts AS MATERIALIZED (
         |  SELECT t.grp, vec_id AS id,
         |    embedding[t.grp * $subDim + 1 : t.grp * $subDim + $subDim] AS vec
         |  FROM embeddings, range($m) t(grp)),
         |sel AS (
         |  SELECT vec_id AS id, hk FROM (
         |    SELECT vec_id,
         |      CAST(('0x' || substr(md5('km|' || CAST(vec_id AS VARCHAR)),
         |        1, 15)) AS BIGINT) AS hk
         |    FROM embeddings) ORDER BY hk, vec_id LIMIT $ks),
         |k0 AS MATERIALIZED (
         |  SELECT p.grp,
         |    row_number() OVER (PARTITION BY p.grp ORDER BY s.hk, p.id) - 1 AS cid,
         |    p.vec AS cvec
         |  FROM pts p JOIN sel s ON p.id = s.id)""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(s""",
        |a$r AS MATERIALIZED (
        |  SELECT grp, id, vec, cid FROM (
        |    SELECT p.grp, p.id, p.vec, c.cid,
        |      row_number() OVER (PARTITION BY p.grp, p.id
        |        ORDER BY ${eucl("p.vec", "c.cvec")}, c.cid) AS rn
        |    FROM pts p JOIN k${r - 1} c ON c.grp = p.grp) WHERE rn = 1),
        |mv$r AS (
        |  SELECT grp, cid, list_transform(list(mn ORDER BY pos),
        |           z -> CAST(z AS FLOAT)) AS cvec
        |  FROM (SELECT grp, cid, pos,
        |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |              list(CAST(x AS DOUBLE) ORDER BY id)),
        |            (acc, v) -> acc + v) / count(*) AS mn
        |        FROM (SELECT grp, cid, id, unnest(range(0, len(vec))) AS pos,
        |                unnest(vec) AS x
        |              FROM a$r)
        |        GROUP BY grp, cid, pos)
        |  GROUP BY grp, cid),
        |k$r AS MATERIALIZED (
        |  SELECT p.grp, p.cid, coalesce(m.cvec, p.cvec) AS cvec
        |  FROM k${r - 1} p LEFT JOIN mv$r m
        |    ON m.grp = p.grp AND m.cid = p.cid)""".stripMargin)
    }
    val adSum = (0 until m)
      .map(j => s"max(CASE WHEN l.grp = $j THEN l.d END)")
      .mkString(" + ")
    sb.append(s""",
      |codes AS MATERIALIZED (
      |  SELECT id AS nbr, grp, cid AS code FROM (
      |    SELECT p.id, p.grp, c.cid,
      |      row_number() OVER (PARTITION BY p.grp, p.id
      |        ORDER BY ${sq("p.vec", "c.cvec")}, c.cid) AS rn
      |    FROM pts p JOIN k$iters c ON c.grp = p.grp) WHERE rn = 1),
      |lut AS MATERIALIZED (
      |  SELECT q.vec_id AS qid, c.grp, c.cid,
      |    ${sq(s"q.embedding[c.grp * $subDim + 1 : c.grp * $subDim + $subDim]",
              "c.cvec")} AS d
      |  FROM embeddings q CROSS JOIN k$iters c WHERE q.vec_id < 20),
      |ad AS (
      |  SELECT l.qid, c.nbr, $adSum AS adist
      |  FROM codes c JOIN lut l ON l.grp = c.grp AND l.cid = c.code
      |  WHERE l.qid <> c.nbr
      |  GROUP BY l.qid, c.nbr),
      |short AS (
      |  SELECT qid, nbr FROM (
      |    SELECT qid, nbr, row_number() OVER (PARTITION BY qid
      |      ORDER BY adist, nbr) AS rn FROM ad)
      |  WHERE rn <= ${rerank * k})
      |SELECT qid, nbr, sim, CAST(rn AS INT) AS rn FROM (
      |  SELECT short.qid, short.nbr,
      |    round(${DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")}, 6) AS sim,
      |    row_number() OVER (PARTITION BY short.qid
      |      ORDER BY round(${DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")}, 6) DESC,
      |        short.nbr) AS rn
      |  FROM short JOIN embeddings qe ON qe.vec_id = short.qid
      |             JOIN embeddings ce ON ce.vec_id = short.nbr)
      |WHERE rn <= $k ORDER BY qid, rn""".stripMargin)
    sb.toString
  }

  /** The reference's recall evaluator (§2.9, getrecall.py) run over two
    * oracle-mirrorable graphs — exact cosine top-k as truth, the
    * ordered-fold IVF as approx — so the OPERATOR itself (adjacency
    * join + array_intersect ratio) gets a driver-green row, not only
    * seeded-MRDF rows-only coverage. One double division of two exact
    * integer sums ⇒ bit-identical across engines. */
  def recallOracled(emb: DataFrame, k: Int = K): DataFrame = {
    def adj(df: DataFrame) =
      df.groupBy(col("qid")).agg(collect_list(col("nbr")).as("nbrs"))
        .withColumnRenamed("qid", "id")
    val exact = adj(org.apache.spark.sql.graft.TopKJoin
      .cosineTopK(emb.filter(col("vec_id") < 20), emb, k)
      .select(col("qid"), col("nbr")))
    val approx = adj(Ann.ivfTopKOracled(emb, k, queryPred = col("vec_id") < 20)
      .select(col("qid"), col("nbr")))
    graft.knn.Recall.recall(exact, approx)
  }

  private def recallOracle(k: Int): String =
    s"""WITH ${exCte(k)},
       |${ivfLabelCtes(k)},
       |j AS (SELECT e.qid, count(i.nbr) AS m, count(*) AS kk
       |      FROM ex e LEFT JOIN ivf i ON i.qid = e.qid AND i.nbr = e.nbr
       |      GROUP BY e.qid)
       |SELECT CAST(sum(m) AS DOUBLE) / CAST(sum(kk) AS DOUBLE) AS recall
       |FROM j""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared(
      "q178_recall_oracled",
      (s, dir) => recallOracled(Tables.load(s, dir, "embeddings")),
      Some(recallOracle(K)),
      doc = "The reference's graph-recall evaluator driver-verified: exact top-k truth vs the oracle-mirrorable IVF graph, |truth ∩ approx| / (k·N) as one exact-integer division"),

    Declared(
      "q177_ann_pq_portable",
      (s, dir) => Pq.adcTopK(Tables.load(s, dir, "embeddings"),
        K, queryPred = col("vec_id") < 20, portable = true)
        .orderBy(col("qid"), col("rn")),
      Some(pqPortableOracle(K, m = 4, ks = 16, dim = 64, iters = 3, rerank = 3)),
      doc = "Product-quantization ANN on portable codebooks — grouped Lloyd's training, PQ encode, pinned-order ADC scan and exact re-rank all replayed in the oracle; q126's seeded form stays the scale path"),

    Declared(
      "q175_ann_ivf_kmeans_portable",
      (s, dir) => Ann.ivfKmeansTopK(Tables.load(s, dir, "embeddings"),
        K, queryPred = col("vec_id") < 20, portable = true,
        cent0 = Some(Ann.sharedPortableCentroids(s, dir, "emb",
          nlist = 8, iters = 5)(Tables.load(s, dir, "embeddings"))))
        .orderBy(col("qid"), col("rn")),
      Some(ivfKmeansPortableOracle(K, nlist = 8, nprobe = 3, iters = 5)),
      doc = "IVF over the portable distributed k-means quantizer — the full iterative Lloyd's loop (md5 init, ordered-fold means, argmin rounds) replayed in the oracle; q36b's avg/xxhash form stays the scale path"),

    Declared(
      "q171_ann_quality",
      (s, dir) => annQuality(Tables.load(s, dir, "embeddings")),
      Some(annQualityOracle(K)),
      doc = "ANN recall scorecard: LSH + IVF recall@10 vs exact cosine top-k in integer ppm, full pipelines replayed in the oracle from shared seeded constants. Absolute recall is LOW on this testdata by nature — the driver embeddings are cosine-isotropic (round-1 finding), so bucketed ANN has no structure to exploit; the quality gates on plantable structure live in AnnSpec's planted-cluster tests. This row cross-engine-verifies the pipelines and pins the recall numbers against drift"),

    Declared(
      "q102_blocked_neardup",
      (s, dir) => blockedCosinePairs(Tables.load(s, dir, "embeddings"), 0.35)
        .orderBy(col("label"), col("d1"), col("d2")),
      Some {
        val sim = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
        s"""SELECT label, d1, d2, sim FROM (
           |  SELECT a.label, a.vec_id AS d1, b.vec_id AS d2, round($sim, 6) AS sim
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id < b.vec_id)
           |WHERE sim >= 0.35 ORDER BY label, d1, d2""".stripMargin
      },
      doc = "Blocked cosine near-dup: pairs meet only within a block (Σ B² not N²)"),

    Declared(
      "q54_embedding_dedup",
      (s, dir) => cosineNearDupPairs(Tables.load(s, dir, "embeddings"), 0.35)
        .orderBy(col("d1"), col("d2")),
      Some {
        val sim = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
        s"""SELECT d1, d2, sim FROM (
           |  SELECT a.vec_id AS d1, b.vec_id AS d2, round($sim, 6) AS sim
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
           |WHERE sim >= 0.35 ORDER BY d1, d2""".stripMargin
      },
      doc = "Embedding-cosine near-dup pairs (exact; LSH/IVF are the scale path)"),

    Declared(
      "q108_ivf_blocked_dedup",
      (s, dir) => Ann.ivfBlockedPairs(Tables.load(s, dir, "embeddings"), 0.35)
        .orderBy(col("d1"), col("d2")),
      None,
      doc = "IVF-blocked semantic near-dup pairs (k-means lists; seeded ⇒ rows-only)"),

    Declared(
      "q126_ann_pq",
      (s, dir) => Pq.adcTopK(Tables.load(s, dir, "embeddings"), K,
        queryPred = col("vec_id") < 20)
        .orderBy(col("qid"), col("rn")),
      None,
      doc = "Product-quantization ANN: grouped-kmeans codebooks, ADC scan over codes, exact re-rank (seeded ⇒ rows-only)"),

    Declared(
      "q35_ann_lsh",
      (s, dir) => Ann.lshTopK(Tables.load(s, dir, "embeddings"), K, dim = 64,
        queryPred = col("id") < 20)
        .orderBy(col("qid"), col("rn")),
      None,
      doc = "LSH-bucketed approximate cosine top-k (recall-tested vs exact)"),

    Declared(
      "q36b_ann_ivf_kmeans",
      (s, dir) => Ann.ivfKmeansTopK(Tables.load(s, dir, "embeddings"), K,
        queryPred = col("vec_id") < 20, nlist = 8, nprobe = 3)
        .orderBy(col("qid"), col("rn")),
      None,
      doc = "IVF over distributed k-means coarse quantizer (rows-only)"),

    Declared(
      "q36_ann_ivf",
      (s, dir) => Ann.ivfTopK(Tables.load(s, dir, "embeddings"), K,
        queryPred = col("vec_id") < 20)
        .orderBy(col("qid"), col("rn")),
      None,
      doc = "IVF (centroid-probed) approximate cosine top-k"),

    Declared(
      "q30_cosine_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        org.apache.spark.sql.graft.TopKJoin
          .cosineTopK(emb.filter(col("vec_id") < 20), emb, K)
          .orderBy(col("qid"), col("rn"))
      },
      Some {
        val sim = DuckSql.cosineSimilarity("a.embedding", "b.embedding")
        s"""WITH pairs AS (
           |  SELECT a.vec_id AS qid, b.vec_id AS nbr, round($sim, 6) AS sim
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |  WHERE a.vec_id < 20
           |), ranked AS (
           |  SELECT qid, nbr, sim,
           |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr) AS rn
           |  FROM pairs)
           |SELECT qid, nbr, sim, CAST(rn AS INTEGER) AS rn
           |FROM ranked WHERE rn <= $K ORDER BY qid, rn""".stripMargin
      },
      doc = "Brute-force cosine top-k (exact ANN baseline)")
  )
}
