package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.linalg.Distances

/** Product quantization (PQ) ANN — the compressed-domain scale path of
  * the similarity family, alongside LSH (bucketing) and IVF (coarse
  * partitioning): vectors compress to `m` byte-sized codes (here
  * 4 codes for a 64-dim float vector = 64× smaller), and queries scan
  * CODES, not vectors, via per-query lookup tables (ADC — asymmetric
  * distance computation, Jégou et al., TPAMI 2011).
  *
  * Scale design (the part that matters at 100 TB):
  *  - Training: ONE grouped [[Kmeans]] run trains all `m` subspace
  *    codebooks simultaneously (grp = subspace) — per-iteration cost is
  *    one codegen-argmin scan + one partial-agg shuffle over the
  *    subvector table, independent of `m` (m sequential k-means runs
  *    would scan the data m× per round).
  *  - The trained codebook is m·ks rows (64 here) — a driver-side
  *    scalar in the same legitimacy class as a k-means centroid
  *    broadcast; it becomes LITERALS in the encode expression.
  *  - Encoding: pure row-local codegen expressions (SquaredEuclidean
  *    against literal centroids + argmin over a ks-array) — ZERO
  *    shuffle; the codes table is a narrow map over the corpus.
  *  - Query: the per-query LUT (m × ks subspace distances) is built
  *    row-locally on the query side, the query set broadcasts, and the
  *    ADC distance is m array lookups per (code-row, query) — one scan
  *    of the codes, no shuffle until the ≤ rerank·k-per-query partial
  *    top-k. Exact cosine re-rank of that candidate set restores
  *    metric fidelity (ADC error only affects which candidates
  *    surface, never the reported similarity).
  *
  * Seeded/approximate ⇒ rows-only declared query; recall vs brute
  * force and code-domain invariants are spec-gated.
  */
object Pq {

  /** (grp, id, vec) subvector table: vector j-th slice under group j. */
  def subspacePoints(emb: DataFrame, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / m
    val slices = (0 until m).map(j => struct(lit(j).as("grp"),
      slice(col(vecCol), j * subDim + 1, subDim).as("vec")))
    emb.select(col(idCol).as("id"), explode(array(slices: _*)).as("s"))
      .select(col("s.grp").as("grp"), col("id"), col("s.vec").as("vec"))
  }

  /** Train the m×ks codebook and collect it (m·ks rows — the k-row
    * driver-scalar class). books(j)(c) = centroid c of subspace j. */
  def trainCodebooks(emb: DataFrame, m: Int, ks: Int, dim: Int,
      iters: Int = 5, portable: Boolean = false): Array[Array[Array[Float]]] = {
    val books = Array.ofDim[Array[Float]](m, ks)
    Kmeans.train(subspacePoints(emb, m, dim), ks, iters, portable).collect()
      .foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    books
  }

  /** Distances from the j-th subvector of `vec` to every centroid of
    * subspace j — an array of ks codegen SquaredEuclidean calls against
    * literal centroids (row-local, no shuffle, no UDF). */
  private def subDists(vec: Column, books: Array[Array[Array[Float]]],
      j: Int, subDim: Int): Column = {
    val sub = slice(vec, j * subDim + 1, subDim)
    array(books(j).toIndexedSeq.map(c =>
      Distances.squaredEuclideanCol(sub, typedlit(c.toSeq))): _*)
  }

  /** PQ code array for a vector: per subspace, the index of the nearest
    * centroid (first-min tie-break via array_position ⇒ deterministic). */
  def encodeExpr(vec: Column, books: Array[Array[Array[Float]]],
      subDim: Int): Column =
    array(books.indices.map { j =>
      val d = subDists(vec, books, j, subDim)
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)

  /** ADC approximate top-k with exact cosine re-rank. `portable` =
    * true trains the codebooks the q177 oracle replays end to end
    * (md5 init shared across subspaces, ordered-fold means, empty-
    * cluster carry); false is the order-free scale form (q126).
    *
    * @param rerank candidate multiplier: ADC keeps rerank·k per query,
    *               exact cosine keeps the final k. */
  def adcTopK(emb: DataFrame, k: Int, queryPred: Column, m: Int = 4,
      ks: Int = 16, dim: Int = 64, iters: Int = 3, rerank: Int = 3,
      portable: Boolean = false): DataFrame = {
    val subDim = dim / m
    val books = trainCodebooks(emb, m, ks, dim, iters, portable)
    // one row-local pass: corpus → (id, codes)
    val codes = emb.select(col("vec_id").as("nbr"),
      encodeExpr(col("embedding"), books, subDim).as("codes"))
    // queries carry their LUT rows: lut(j)(c) = d²(q_sub_j, books(j)(c))
    val lutCol = array(books.indices.map(j =>
      subDists(col("qv"), books, j, subDim)): _*)
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("lut", lutCol)
    // ADC scan: Σ_j lut(j)(code_j) — m array lookups per (row, query),
    // statically unrolled so the whole distance stays in codegen
    val adist = books.indices.map(j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    val cands = codes.join(broadcast(queries.select(col("qid"), col("lut"))))
      .filter(col("qid") =!= col("nbr"))
      .select(col("qid").as("id"), col("nbr"), adist.as("dist"))
    val shortlist = graft.agg.TopKByWeight.perId(cands, rerank * k)
      .select(col("id").as("qid"), col("nbr"))
    // exact cosine re-rank of ≤ rerank·k rows per query
    val exact = shortlist
      .join(emb.select(col("vec_id").as("nbr"), col("embedding").as("cv")),
        Seq("nbr"))
      .join(broadcast(queries.select(col("qid"), col("qv"))), Seq("qid"))
      .select(col("qid"), col("nbr"),
        round(Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim"))
    graft.agg.TopKByWeight.topKBySimilarity(exact, k)
  }
}
