package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Declared, DuckSql, Tables}
import graft.linalg.Distances

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication") — embedding-space
  * near-duplicate PRUNING, the semantic member of the dedup family:
  * k-means the corpus embeddings, compare pairs only WITHIN a cluster,
  * and drop every item that has a lower-id near-duplicate (cosine ≥ τ)
  * in its cluster — the keep-lowest-index rule of the reference
  * implementation.
  *
  * Scale shape: the quantizer is the distributed [[Kmeans]] loop (one
  * codegen-argmin scan + one partial-agg mean per round), and the lists
  * are one codegen-argmin projection; the pair stream is Σ_c B² within
  * clusters, never N² (q102's blocked shape with LEARNED blocks
  * instead of given labels); the keep rule
  * is one distinct + one broadcastable left join. The declared query
  * runs the oracle-mirrorable portable quantizer (md5 init,
  * ordered-fold means) so the WHOLE pipeline — training included — is
  * oracle-verified; `portable = false` (xxhash init, order-free avg)
  * is the same loop on the throughput path. */
object SemDeDup {

  /** Per-vector semantic-dedup verdict: (vec_id, cid, keep). `keep` is
    * false iff a lower-id member of the same k-means cluster has
    * 6-dp-rounded cosine similarity ≥ `tau`. */
  def semDedup(emb: DataFrame, tau: Double = 0.35,
               nlist: Int = 16, iters: Int = 3): DataFrame = {
    val cent = Kmeans.centroids(emb, nlist, iters, portable = true)
    val lists = Kmeans.assign(emb.select(col("vec_id"), col("embedding")), cent)
      .select(col("cid"), col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint() // feeds the pair join twice + the output join
    val dropped = lists.as("a").join(lists.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(round(Distances.cosineSimilarity(col("a.vec"), col("b.vec")), 6)
        >= tau)
      .select(col("b.id").as("id")).distinct()
    lists.join(dropped.withColumn("hit", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cid").cast("long").as("cid"),
        col("hit").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  private def semDedupOracle(tau: Double, nlist: Int, iters: Int): String = {
    def eucl(a: String, b: String) = DuckSql.euclidean(a, b)
    s"""WITH ${SimilarityQueries.kmeansPortableCtes(nlist, iters)},
       |lists AS MATERIALIZED (
       |  SELECT cid, id, vec FROM (
       |    SELECT p.id, p.vec, c.cid,
       |      row_number() OVER (PARTITION BY p.id
       |        ORDER BY ${eucl("p.vec", "c.cvec")}, c.cid) AS rn
       |    FROM pts p CROSS JOIN k$iters c) WHERE rn = 1),
       |dropped AS MATERIALIZED (
       |  SELECT DISTINCT b.id
       |  FROM lists a JOIN lists b ON a.cid = b.cid AND a.id < b.id
       |  WHERE round(${DuckSql.cosineSimilarity("a.vec", "b.vec")}, 6) >= $tau)
       |SELECT l.id AS vec_id, CAST(l.cid AS BIGINT) AS cid,
       |  (d.id IS NULL) AS keep
       |FROM lists l LEFT JOIN dropped d ON d.id = l.id
       |ORDER BY vec_id""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q181_semdedup",
      (s, dir) => semDedup(Tables.load(s, dir, "embeddings")),
      Some(semDedupOracle(0.35, 16, 3)),
      doc = "SemDeDup: k-means clusters (portable Lloyd's) -> within-cluster cosine pairs -> keep-lowest-id pruning; training and pruning both replayed in the oracle")
  )
}
