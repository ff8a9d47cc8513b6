package graft.knn

import org.apache.spark.sql.functions._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Declared, DuckSql, Materialized, Tables}

/** Declared oracle queries for the KNN surface (SURVEY.md §2.9). */
object KnnQueries {

  private val K = 10

  /** The exact k=10 edge graph feeds five declared queries (this file's
    * four + mrdf_recall's ground truth); materialize it once per
    * process/sf instead of paying the N² scan per consumer. */
  def knn10(s: SparkSession, dir: String): DataFrame =
    Materialized.table(s, dir, "knn10") {
      // the fused physical operator (q166) — proven row-identical to
      // BruteForceKnn.knnGraph by the shared oracle and TopKJoinSpec,
      // ~4× faster (no N·M pair stream): 4.3 → 1.05 s at sf0.1
      val vecs = Tables.load(s, dir, "embeddings")
      // repartition the PROBE side: the embeddings scan is one input
      // split at test scale, and the fused operator otherwise runs the
      // whole N×M scan inside that single map task (measured 1.2 →
      // 0.3 s at sf0.1; the exchange ships N ids+vectors once)
      org.apache.spark.sql.graft.TopKJoin.knn(
        vecs.repartition(col("vec_id")), vecs, K)
    }

  /** DuckDB mirror of BruteForceKnn.knnGraph on `embeddings`: the one
    * exact-kNN oracle text, also the rebuild-equivalence statement of
    * the graph index's upsert (q227) and streamed ingest (q230). */
  private[graft] def knnOracle(k: Int): String = {
    val d = DuckSql.euclidean("a.embedding", "b.embedding")
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT id, nbr, dist,
       |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
       |  FROM pairs
       |)
       |SELECT id, nbr, dist FROM ranked WHERE rn <= $k
       |ORDER BY id, dist, nbr""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      // §2.9 reverse-edge generation as a distributed op (the edge-table
      // form makes generate_reverses, nndescent.py:102-113, a plain
      // projection) + in-degree profile of the KNN graph.
      "q39_reverse_degree",
      (s, dir) => knn10(s, dir)
        .select(col("nbr").as("id"), col("id").as("nbr"))
        .groupBy(col("id")).agg(count(lit(1)).as("in_degree"))
        .orderBy(col("id")),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs)
           |SELECT nbr AS id, count(*) AS in_degree
           |FROM ranked WHERE rn <= $K GROUP BY nbr ORDER BY id""".stripMargin
      },
      doc = "Reverse edges (flatMap→projection) + in-degree (§2.9)"),

    Declared(
      // §2.7 set difference on adjacency arrays: the k=10 neighbors a
      // node loses when k shrinks to 5 (array_except semantics).
      "q38_graph_delta",
      (s, dir) => {
        // one N² scan total: the k=5 graph is the per-id top-5 of the
        // k=10 edges (top-5 ⊆ top-10 under the same (dist, nbr) order),
        // and the k=10 edges come from the shared materialized graph
        val g10e = knn10(s, dir)
        val g10 = BruteForceKnn.asAdjacency(g10e)
          .withColumnRenamed("nbrs", "nbrs10")
        val g5 = BruteForceKnn.asAdjacency(graft.agg.TopKByWeight.perId(g10e, 5))
          .withColumnRenamed("nbrs", "nbrs5")
        // Array outputs are serialized to "," strings for engine-neutral
        // interchange (mirrors the reference's text output, main.py:46);
        // the array-typed operator itself is asAdjacency/array_except.
        g10.join(g5, Seq("id"))
          .select(col("id"),
            array_join(transform(array_except(col("nbrs10"), col("nbrs5")),
              _.cast("string")), ",").as("dropped"),
            size(array_intersect(col("nbrs10"), col("nbrs5"))).as("kept"))
          .orderBy(col("id"))
      },
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs),
           |g10 AS (SELECT id, list(nbr ORDER BY dist, nbr) AS nbrs10
           |        FROM ranked WHERE rn <= 10 GROUP BY id),
           |g5 AS (SELECT id, list(nbr ORDER BY dist, nbr) AS nbrs5
           |       FROM ranked WHERE rn <= 5 GROUP BY id)
           |SELECT g10.id,
           |  array_to_string(list_filter(nbrs10, x -> NOT list_contains(nbrs5, x)), ',') AS dropped,
           |  CAST(len(list_filter(nbrs10, x -> list_contains(nbrs5, x))) AS INTEGER) AS kept
           |FROM g10 JOIN g5 ON g10.id = g5.id ORDER BY g10.id""".stripMargin
      },
      doc = "Adjacency set difference/intersection (§2.7 array_except)"),

    Declared(
      "knn_bruteforce",
      (s, dir) => knn10(s, dir)
        .orderBy(col("id"), col("dist"), col("nbr")),
      Some(knnOracle(K)),
      doc = "Exact k-NN edge table over embeddings (flagship; knn.py:4-26)"),

    Declared(
      // Declared against knn_bruteforce's oracle VERBATIM (q117's
      // discipline): the fused physical operator must not change one
      // row of the compositional plan it replaces.
      "q166_fused_knn",
      (s, dir) => org.apache.spark.sql.graft.TopKJoin
        .knn(Tables.load(s, dir, "embeddings").repartition(col("vec_id")),
          Tables.load(s, dir, "embeddings"), K)
        .orderBy(col("id"), col("dist"), col("nbr")),
      Some(knnOracle(K)),
      doc = "Fused top-k join (custom LogicalPlan + SparkStrategy + SparkPlan): broadcast KNN without the N·M pair stream"),

    Declared(
      "knn_adjacency",
      // Adjacency list serialized to a "," string — the reference's own
      // text interchange (main.py:46); asAdjacency keeps the array shape.
      (s, dir) => BruteForceKnn
        .asAdjacency(knn10(s, dir))
        .select(col("id"),
          array_join(transform(col("nbrs"), _.cast("string")), ",").as("nbrs"))
        .orderBy(col("id")),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |)
           |SELECT id, string_agg(nbr, ',' ORDER BY dist, nbr) AS nbrs
           |FROM ranked WHERE rn <= $K GROUP BY id ORDER BY id""".stripMargin
      },
      doc = "G2 adjacency output (id, [nbr...]) — mrdf.py:199-215")
  )
}
