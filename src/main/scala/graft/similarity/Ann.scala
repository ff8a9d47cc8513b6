package graft.similarity

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.linalg.Distances

/** Approximate nearest-neighbor search over the embedding column —
  * the scale path beyond brute force (north-star extension).
  *
  * Two bucketing strategies, both ending in exact cosine re-ranking of
  * the candidate set only:
  *  - LSH: random-hyperplane sign bits, banded so a query meets only
  *    docs sharing a band value — at 100 TB the join is bucket-local,
  *    no N² pairs, no broadcast of the big side.
  *  - IVF: k-means or per-label centroids (the coarse quantizer);
  *    queries probe the nprobe nearest centroids and scan only those
  *    inverted lists ([[ivfSearch]]).
  * Seeded hyperplanes ⇒ deterministic, but not SQL-mirrorable (no
  * oracle); recall vs brute force is asserted in ScalaTest.
  */
object Ann {

  /** The deterministic ±1 hyperplanes behind [[lshBands]] — exposed so
    * the ann_quality oracle generator can embed the SAME constants as
    * SQL literals (the q129 generated-mirror pattern): the planes, not
    * the RNG, are the shared contract between engines. */
  def lshPlanes(dim: Int, bands: Int, bitsPerBand: Int,
                seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(bands * bitsPerBand)(
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** Sign-bit LSH signature bands. planes = bands × bitsPerBand
    * hyperplanes with deterministic ±1 components from `seed`. */
  def lshBands(emb: DataFrame, dim: Int, bands: Int, bitsPerBand: Int,
               seed: Long, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val planes = lshPlanes(dim, bands, bitsPerBand, seed)
    // codegen DotProduct, not an interpreted aggregate/zip_with lambda:
    // 32 projections per vector make the signature the LSH hot path
    def bit(p: Int): Column =
      when(Distances.dot(col(vecCol), typedlit(planes(p).toSeq)) >= 0, 1L)
        .otherwise(0L)
    val bandCols = (0 until bands).map { b =>
      val v = (0 until bitsPerBand)
        .map(i => bit(b * bitsPerBand + i) * lit(1L << i))
        .reduce(_ + _)
      struct(lit(b).as("band"), v.as("bv"))
    }
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("vec"), col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** LSH-bucketed approximate cosine top-k for a query subset. */
  def lshTopK(emb: DataFrame, k: Int, dim: Int, queryPred: Column,
              bands: Int = 4, bitsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    // materialized once: the signature computation feeds the query side
    // and the candidate side of the bucket join
    val buckets = lshBands(emb, dim, bands, bitsPerBand, seed).localCheckpoint()
    val q = buckets.filter(queryPred).select(
      col("id").as("qid"), col("vec").as("qv"), col("band"), col("bv"))
    val cands = q.join(buckets.select(col("id").as("nbr"), col("vec").as("cv"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("qid") =!= col("nbr"))
      .select(col("qid"), col("qv"), col("nbr"), col("cv"))
      .dropDuplicates("qid", "nbr")
    rerank(cands, k)
  }

  /** Per-(process, sfDir) MATERIALIZED portable router (round-14
    * optimization): several declared queries train the IDENTICAL
    * portable Lloyd's quantizer over the same corpus each invocation —
    * q175/q218/q223/q225/q229 all train (nlist=8, iters=5) on the full
    * embeddings table, q220/q227/q230 on the same 75% base slice. Like
    * the shared knn10 graph, the training result is a deterministic
    * pure function of the corpus, and (cid INT, cvec ARRAY<FLOAT>)
    * round-trips parquet bit-exactly, so the first timed consumer pays
    * the build and the rest scan it — exactly the production shape
    * (one training job, many consumers). Callers MUST key by the
    * corpus + every training parameter; the reset-per-bench-pass
    * semantics of [[graft.Materialized]] keep warm-cache numbers
    * honest. */
  def sharedPortableCentroids(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, corpusKey: String, nlist: Int, iters: Int)
      (corpus: => DataFrame): DataFrame =
    // the Lloyd's chain is `iters` bounded-size rounds — scope the
    // build to the iterative-build regime (round-15, measured: the
    // shared router train was 3 s warm at the session's 32 partitions,
    // dominated by tiny-task setup and per-stage planning, not compute)
    graft.Tuning.withIterativeBuild(spark) {
      graft.Materialized.table(spark, sfDir, s"kmpc-$corpusKey-n$nlist-i$iters")(
        Kmeans.centroids(corpus, nlist, iters, portable = true))
    }

  /** IVF with the k-means quantizer ([[Kmeans]]): inverted lists by
    * nearest centroid ([[Kmeans.assign]]), the nprobe nearest lists
    * probed per query, exact re-rank. `portable` = true is
    * the variant the q175 oracle replays end to end (init, every
    * Lloyd's round, list assignment, probes, re-rank); false is the
    * order-free scale form (q36b). `cent0` supplies a precomputed
    * router (it must equal `Kmeans.centroids(emb, nlist, kmeansIters,
    * portable)` — the [[sharedPortableCentroids]] hook). */
  def ivfKmeansTopK(emb: DataFrame, k: Int, queryPred: Column,
      nlist: Int = 8, nprobe: Int = 3, kmeansIters: Int = 5,
      portable: Boolean = false, cent0: Option[DataFrame] = None): DataFrame = {
    val cent = cent0.getOrElse(
      Kmeans.centroids(emb, nlist, kmeansIters, portable))
    ivfSearch(emb.filter(queryPred), cent,
      Kmeans.assign(emb.select(col("vec_id"), col("embedding")), cent), nprobe, k)
  }

  /** IVF-style ANN: coarse centroids from the label column (the
    * testdata's cluster assignment), queries probe the nprobe nearest
    * centroids, exact re-rank inside the probed lists. */
  def ivfTopK(emb: DataFrame, k: Int, queryPred: Column,
              nprobe: Int = 2): DataFrame = {
    // centroid per label: mean vector via posexplode + per-(label,pos) avg
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("s"))
      .select(col("label").as("cid"),
        transform(col("s"), e => e("m").cast("float")).as("cvec"))
    ivfSearch(emb.filter(queryPred), cent, labelLists(emb), nprobe, k)
  }

  /** [[ivfTopK]] with cross-engine-exact centroids: the per-(label, dim)
    * mean is computed as a SEQUENTIAL double fold over the values in
    * vec_id order (`aggregate` over a sorted collect_list) instead of
    * `avg` — floating-point addition isn't associative, so only a
    * defined fold order lets DuckDB reproduce the centroid bit-for-bit
    * (the DuckSql left-fold convention). This is the ORACLE-MIRRORABLE
    * variant driving the ann_quality scorecard; [[ivfTopK]]'s plain
    * `avg` (an order-free partial aggregation, the shape you want at
    * 100 TB where a per-group sorted list is an anti-pattern) remains
    * the scale path — at scale the two differ by ulps that only matter
    * to hash equality, not to neighbor quality. */
  def ivfTopKOracled(emb: DataFrame, k: Int, queryPred: Column,
                     nprobe: Int = 2): DataFrame = {
    val cent = emb
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("vec_id"), col("x")))).as("s"))
      .withColumn("m", expr(
        "aggregate(s, CAST(0 AS DOUBLE), (acc, e) -> acc + CAST(e.x AS DOUBLE)) / n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dims"))
      .select(col("label").as("cid"),
        transform(col("dims"), e => e("m").cast("float")).as("cvec"))
    ivfSearch(emb.filter(queryPred), cent, labelLists(emb), nprobe, k)
  }

  /** The label variants' inverted lists: every vector under its label. */
  private def labelLists(emb: DataFrame): DataFrame =
    emb.select(col("label").as("cid"), col("vec_id"), col("embedding"))

  /** The IVF search body: each `(vec_id, embedding)` query probes its
    * `nprobe` nearest `(cid, cvec)` centroids ([[Kmeans.probe]]), gathers
    * the probed `(cid, vec_id, embedding)` lists by one equi-join on
    * cid, drops itself, and keeps its exact cosine top-k ([[rerank]]). */
  def ivfSearch(queries: DataFrame, cent: DataFrame, lists: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cands = Kmeans.probe(q, cent, nprobe)
      .join(lists.select(col("cid"), col("vec_id").as("nbr"),
        col("embedding").as("cv")), Seq("cid"))
      .filter(col("qid") =!= col("nbr"))
      .select(col("qid"), col("qv"), col("nbr"), col("cv"))
    rerank(cands, k)
  }

  /** IVF-blocked semantic near-dup pairs — the 100 TB dedup path for
    * the embedding space: the k-means coarse quantizer ([[Kmeans]])
    * assigns every vector to its `nassign` nearest lists (multi-assign
    * so near-boundary pairs still share a list), and candidate pairs
    * form ONLY within a list — Σ B² work instead of N², with B bounded
    * by list balance rather than corpus size. q54 (exact all-pairs) is
    * the oracle this approximates; q102 is the same shape with given
    * labels as blocks. Every emitted pair's sim is EXACT (computed on
    * the real vectors), so output ⊆ q54's rows with identical scores —
    * only recall, never precision, is approximate. */
  def ivfBlockedPairs(emb: DataFrame, threshold: Double, nlist: Int = 16,
                      nassign: Int = 2, kmeansIters: Int = 5): DataFrame = {
    val cent = Kmeans.centroids(emb, nlist, kmeansIters, portable = false)
    val assign = Kmeans.probe(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qv")), cent, nassign)
    val a = assign.select(col("cid"), col("qid").as("d1"), col("qv").as("va"))
    val b = assign.select(col("cid"), col("qid").as("d2"), col("qv").as("vb"))
    a.join(b, Seq("cid"))
      .filter(col("d1") < col("d2"))
      .withColumn("sim", round(Distances.cosineSimilarity(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      // a pair sharing two lists meets twice; sim is deterministic, so
      // the dedup shuffle carries only the (few) near-dup pairs
      .select(col("d1"), col("d2"), col("sim"))
      .dropDuplicates("d1", "d2")
  }

  /** Exact cosine re-rank of (qid, qv, nbr, cv) candidates → top-k,
    * via the TopKByWeight partial aggregation (≤ k per query cross the
    * shuffle, not the whole candidate set). */
  private[similarity] def rerank(cands: DataFrame, k: Int): DataFrame =
    graft.agg.TopKByWeight.topKBySimilarity(
      cands.select(col("qid"), col("nbr"),
        round(Distances.cosineSimilarity(col("qv"), col("cv")), 6).as("sim")),
      k)
}
