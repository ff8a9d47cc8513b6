package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Declared, IndexManifest, ScratchDirs, Tables}

/** Persistent ANN index: the portable IVF quantizer written as parquet
  * artifacts and served back WITHOUT the training corpus — the
  * production separation of index build (one batch job) from search
  * (many later jobs) that every vector store implements, expressed as
  * plain Spark sources/sinks.
  *
  * Layout under an index dir:
  *  - `centroids/` (cid, cvec)            — the nlist coarse centers;
  *  - `lists/`     (cid, vec_id, embedding) — every vector in its
  *    nearest-centroid inverted list (the index is self-contained:
  *    search never touches the original table);
  *  - `meta/`      one row (n_vectors, dim, nlist, kmeans_iters,
  *    fingerprint) — the [[IndexManifest]] row: its fingerprint, delta
  *    checks, xor chain and meta-last commit rule.
  *
  * Losslessness is driver-PROVEN, not asserted: q218 builds, writes,
  * reloads and searches, and its oracle is the SAME generated SQL as
  * q175's in-memory pipeline — floats round-trip parquet bit-exactly,
  * so the persisted search must hash-match the never-persisted one.
  *
  * Scale shape: build = the [[Kmeans]] rounds + one codegen-argmin
  * assignment over the corpus ([[Kmeans.assign]]; both the q36b/q175
  * shapes); the lists sink partitions by cid naturally; search is
  * [[Ann.ivfSearch]] over the stored centroids and lists — the
  * nlist-row centroid table broadcasts, probes explode to nprobe
  * equi-join keys against the lists, and the re-rank is the
  * TopKByWeight partial aggregation (≤ k rows per query cross the
  * shuffle). */
object IvfIndexStore {

  private val K = 10

  /** Build the portable IVF index over `emb` and write it under `dir`.
    * Deterministic for a given corpus (the portable [[Kmeans]]: md5
    * bottom-k init, ordered-fold means). `trainedCent` supplies a
    * precomputed router (must equal the training this write would run —
    * the [[Ann.sharedPortableCentroids]] hook; round-14: q218/q220
    * re-trained the identical quantizer the other full-corpus queries
    * had already built this pass). */
  def write(emb: DataFrame, dir: String, nlist: Int = 8,
            kmeansIters: Int = 5,
            trainedCent: Option[DataFrame] = None): Unit = {
    val cent = trainedCent.getOrElse(
      Kmeans.centroids(emb, nlist, kmeansIters, portable = true))
    val pts = emb.select(col("vec_id"), col("embedding"))
    val meta = IndexManifest.fingerprintRow(pts)
      .select(col("n_vectors"), col("dim"), lit(nlist).as("nlist"),
        lit(kmeansIters).as("kmeans_iters"), col("fingerprint"))
    IndexManifest.commit(dir, meta) {
      cent.write.mode("overwrite").parquet(s"$dir/centroids")
      Kmeans.assign(pts, cent).write.mode("overwrite").parquet(s"$dir/lists")
    }
  }

  /** True iff the index under `dir` was built over exactly `emb`. */
  def isFreshFor(spark: SparkSession, dir: String, emb: DataFrame): Boolean =
    IndexManifest.isFresh(spark, dir, emb)

  /** Search the PERSISTED index: `queries` = (vec_id, embedding) rows;
    * output (qid, nbr, sim, rn) — identical contract (and, for the
    * same build params, identical rows) to
    * [[Ann.ivfKmeansTopK]] with `portable` = true. Reads only the
    * index dir. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int = K, nprobe: Int = 3): DataFrame =
    Ann.ivfSearch(queries, spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/lists"), nprobe, k)

  /** Full persisted cycle for the declared row: build → write → load →
    * search, a FRESH index dir per invocation so every bench/verify
    * run pays the whole cycle (no cross-run cache can stale). The
    * result is materialized off the index files (localCheckpoint)
    * before the dir is deleted. */
  def buildAndSearch(emb: DataFrame,
                     trainedCent: Option[DataFrame] = None): DataFrame =
    ScratchDirs.withTempDir("graft-ivfidx-") { dir =>
      val spark = emb.sparkSession
      write(emb, dir, trainedCent = trainedCent)
      require(isFreshFor(spark, dir, emb),
        "index fingerprint must match the corpus it was just built from")
      search(spark, dir, emb.filter(col("vec_id") < 20)).localCheckpoint()
    }

  /** Upsert `delta` into the persisted index at `dir` WITHOUT a
    * rebuild (round-11 verdict #3 / SURVEY frontier #2): each new
    * vector is assigned to its nearest EXISTING centroid (the coarse
    * quantizer is not retrained — the standard IVF maintenance
    * contract; FAISS's `add` after `train` does exactly this), the
    * assignments APPEND to `lists/`, and the meta fingerprint CHAINS
    * ([[IndexManifest.chain]]) — `isFreshFor` validates the combined
    * corpus without ever rescanning base.
    *
    * `maxListSize > 0` additionally splits any inverted list that grew
    * past the bound ([[splitOversized]]).
    *
    * INSERT-ONLY: [[IndexManifest.validateDelta]] refuses a delta that
    * repeats an id, reuses one already in lists/, or has another
    * dimension — a repeated id would land in lists/ twice (duplicate
    * nbr rows in search output) while the xor chain cancelled it, and
    * a wrong-dim vector would be scored over the shorter length.
    *
    * Scale shape: one codegen-argmin pass over delta only (base
    * vectors are never re-read — the whole point), an append write
    * partitioned like the original lists, and a single-row meta
    * rewrite. */
  def upsert(spark: SparkSession, dir: String, delta: DataFrame,
             maxListSize: Long = 0L): Unit = {
    val cent = spark.read.parquet(s"$dir/centroids")
    val pts = delta.select(col("vec_id"), col("embedding"))
    val (m, fp) = IndexManifest.validateDelta(spark, dir, pts,
      spark.read.parquet(s"$dir/lists"))
    IndexManifest.chain(spark, dir, m, fp) {
      Kmeans.assign(pts, cent).write.mode("append").parquet(s"$dir/lists")
      if (maxListSize > 0L) splitOversized(spark, dir, maxListSize)
    }
  }

  /** Split every inverted list larger than `maxListSize`: the list's
    * members are re-quantized by a portable 2-means over just that
    * list (the portable [[Kmeans]] — deterministic md5 init, ordered
    * folds), the parent centroid is replaced by the two
    * children (fresh cids above the current max, parent order then
    * child cid — deterministic), and the split lists rewrite. The
    * fingerprint is untouched: a split moves vectors between lists but
    * the indexed CORPUS is unchanged.
    *
    * Search contract after a split: probing every list still returns
    * exactly the pre-split rows (the probed universe is the union of
    * lists either way — pinned by the spec); at fixed nprobe the finer
    * quantizer is the standard recall/latency trade every IVF engine
    * makes when lists split.
    *
    * Maintenance-job shape: the oversized-cid set is at most nlist
    * rows (a bounded scalar collect, not data), and each split is one
    * bounded k=2 Lloyd's run over a single list — rare-event
    * housekeeping, not a per-row path.
    *
    * Runs to FIXPOINT (round-12 advice: a single pass left
    * `maxListSize` a lie — a skewed list's 2-means child can itself
    * still exceed the bound): passes repeat until no list is
    * oversized, bounded by [[MaxSplitPasses]] AND a no-progress check
    * (a list of identical points puts every member in one child — the
    * split can never shrink it, so iterating would spin; such
    * degenerate lists are left oversized with a loud stderr note
    * rather than an infinite loop or a silent lie). */
  def splitOversized(spark: SparkSession, dir: String,
                     maxListSize: Long): Unit = {
    var pass = 0
    var prevWorst = Long.MaxValue
    while (pass < MaxSplitPasses) {
      pass += 1
      val worst = splitOversizedOnce(spark, dir, maxListSize)
      if (worst <= maxListSize) return
      if (worst >= prevWorst) {
        System.err.println(s"[ivf-index] splitOversized: largest list " +
          s"stuck at $worst > bound $maxListSize after pass $pass " +
          "(degenerate duplicate-heavy list) — leaving it oversized")
        return
      }
      prevWorst = worst
    }
    System.err.println(s"[ivf-index] splitOversized: bound $maxListSize " +
      s"not reached after $MaxSplitPasses passes — leaving remainder oversized")
  }

  /** Split-pass iteration cap: each pass halves a non-degenerate
    * oversized list, so 2^16 × the bound covers any real list. */
  private val MaxSplitPasses = 16

  /** One split pass; returns the largest list size AFTER the pass (≤
    * maxListSize means the bound now holds). */
  private def splitOversizedOnce(spark: SparkSession, dir: String,
                                 maxListSize: Long): Long = {
    val lists = spark.read.parquet(s"$dir/lists")
    val oversized = lists.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxListSize)
      .select(col("cid")).collect().map(_.getInt(0)).sorted
    if (oversized.isEmpty) return maxListSize
    val cent = spark.read.parquet(s"$dir/centroids")
    var nextCid = cent.agg(max(col("cid"))).collect()(0).getInt(0) + 1
    var keepLists = lists.filter(!col("cid").isin(oversized.map(Int.box).toIndexedSeq: _*))
    var keepCent = cent.filter(!col("cid").isin(oversized.map(Int.box).toIndexedSeq: _*))
    oversized.foreach { cid =>
      val members = lists.filter(col("cid") === cid)
        .select(col("vec_id"), col("embedding"))
      val sub = Kmeans.centroids(members, 2, iters = 3, portable = true)
        .withColumn("cid", col("cid") + lit(nextCid))
      keepLists = keepLists.unionByName(Kmeans.assign(members, sub))
      keepCent = keepCent.unionByName(sub.select(col("cid"), col("cvec")))
      nextCid += 2
    }
    // materialize off the old files before overwriting them
    val newLists = keepLists.localCheckpoint()
    val newCent = keepCent.localCheckpoint()
    newLists.write.mode("overwrite").parquet(s"$dir/lists")
    newCent.write.mode("overwrite").parquet(s"$dir/centroids")
    newLists.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
  }

  /** The q220 declared cycle: build on the base slice, upsert the
    * delta slice, PROVE the chained fingerprint validates the combined
    * corpus (the require is the driver-exercised staleness proof),
    * then search — row-for-row equal to an index whose lists were
    * built over the combined corpus with the same base-trained
    * quantizer, which is exactly what the oracle replays in SQL. */
  def upsertCycle(emb: DataFrame, k: Int = K, nprobe: Int = 3,
                  baseCent: Option[DataFrame] = None): DataFrame =
    ScratchDirs.withTempDir("graft-ivfidx-up-") { dir =>
      val spark = emb.sparkSession
      write(emb.filter(col("vec_id") % 4 =!= 3), dir, trainedCent = baseCent)
      upsert(spark, dir, emb.filter(col("vec_id") % 4 === 3))
      require(isFreshFor(spark, dir, emb),
        "chained fingerprint must validate base + delta as the combined corpus")
      search(spark, dir, emb.filter(col("vec_id") < 20), k, nprobe)
        .localCheckpoint()
    }

  /** Per-(process, sfDir) SERVED index for the q218b search-only row:
    * built and written once, then every invocation only reads the
    * parquet index and searches — the production build/serve
    * separation measured as serving latency. Deliberately NOT a
    * [[graft.Materialized]] table: that cache resets between bench
    * passes (so each pass re-pays producers), but here re-paying the
    * build would defeat the row's whole purpose — q218 already
    * measures the full cycle every invocation; this cache follows the
    * streaming replay-source precedent (one build per process, the
    * dir reclaimed at JVM exit). */
  private def servedIndexDir(spark: SparkSession, dir: String): String =
    ScratchDirs.onceFor("graft-ivfidx-served-", dir) { d =>
      write(Tables.load(spark, dir, "embeddings"), d,
        trainedCent = Some(fullCorpusCent(spark, dir)))
    }

  /** The shared (nlist=8, iters=5) portable router over the FULL
    * embeddings table / the 75% base slice — one training per
    * (process, sf, bench pass), scanned by every consumer
    * ([[Ann.sharedPortableCentroids]]). */
  private def fullCorpusCent(s: SparkSession, dir: String): DataFrame =
    Ann.sharedPortableCentroids(s, dir, "emb", nlist = 8, iters = 5)(
      Tables.load(s, dir, "embeddings"))
  private[graft] def baseSliceCent(s: SparkSession, dir: String): DataFrame =
    Ann.sharedPortableCentroids(s, dir, "embBase4", nlist = 8, iters = 5)(
      Tables.load(s, dir, "embeddings").filter(col("vec_id") % 4 =!= 3))

  /** Generated mirror of [[upsertCycle]]: the portable Lloyd's loop
    * trained on the BASE slice only (`ptsWhere` — the quantizer the
    * upsert does not retrain), then lists and probes over the FULL
    * corpus — exactly the state the persisted index holds after
    * `write(base); upsert(delta)`. */
  private def upsertOracle(k: Int, nlist: Int, nprobe: Int,
                           iters: Int): String = {
    def eucl(a: String, b: String) = graft.DuckSql.euclidean(a, b)
    val cos = graft.DuckSql.cosineSimilarity("qe.embedding", "ce.embedding")
    s"""WITH ${SimilarityQueries.kmeansPortableCtes(nlist, iters,
        " WHERE vec_id % 4 <> 3")},
       |allpts AS MATERIALIZED (
       |  SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |lists AS MATERIALIZED (
       |  SELECT cid, id AS nbr, vec AS cv FROM (
       |    SELECT p.id, p.vec, c.cid,
       |      row_number() OVER (PARTITION BY p.id
       |        ORDER BY ${eucl("p.vec", "c.cvec")}, c.cid) AS rn
       |    FROM allpts p CROSS JOIN k$iters c) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY ${eucl("q.vec", "c.cvec")}, c.cid) AS pr
       |    FROM allpts q CROSS JOIN k$iters c WHERE q.id < 20) WHERE pr <= $nprobe),
       |icand AS (
       |  SELECT p.qid, l.nbr FROM probes p JOIN lists l ON l.cid = p.cid
       |  WHERE l.nbr <> p.qid)
       |SELECT qid, nbr, sim, CAST(rn AS INT) AS rn FROM (
       |  SELECT icand.qid, icand.nbr, round($cos, 6) AS sim,
       |    row_number() OVER (PARTITION BY icand.qid
       |      ORDER BY round($cos, 6) DESC, icand.nbr) AS rn
       |  FROM icand JOIN embeddings qe ON qe.vec_id = icand.qid
       |             JOIN embeddings ce ON ce.vec_id = icand.nbr)
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q218_ann_index_persist",
      (s, dir) => buildAndSearch(Tables.load(s, dir, "embeddings"),
        trainedCent = Some(fullCorpusCent(s, dir)))
        .orderBy(col("qid"), col("rn")),
      Some(SimilarityQueries.ivfKmeansPortableOracle(K, nlist = 8,
        nprobe = 3, iters = 5)),
      doc = "Persistent IVF index: build -> parquet (centroids/lists/meta+fingerprint) -> reload -> search, serving WITHOUT the training corpus; the oracle is q175's in-memory pipeline SQL, proving the persisted round-trip lossless",
      diskSensitive = true),

    Declared(
      "q218b_ann_index_search",
      (s, dir) => search(s, servedIndexDir(s, dir),
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 20))
        .orderBy(col("qid"), col("rn")),
      Some(SimilarityQueries.ivfKmeansPortableOracle(K, nlist = 8,
        nprobe = 3, iters = 5)),
      doc = "Search-only SERVING over the persisted IVF index: built + written once per process, every invocation pays only reload -> probe -> re-rank (round-11 verdict #4: the serving-latency half measured apart from q218's per-invocation full build cycle); same oracle - the index contents are identical"),

    Declared(
      "q220_ann_index_upsert",
      (s, dir) => upsertCycle(Tables.load(s, dir, "embeddings"),
        baseCent = Some(baseSliceCent(s, dir)))
        .orderBy(col("qid"), col("rn")),
      Some(upsertOracle(K, nlist = 8, nprobe = 3, iters = 5)),
      doc = "Incremental IVF maintenance (round-11 verdict #3): build on the 75% base slice, upsert the delta slice into the persisted lists WITHOUT retraining the quantizer, fingerprint chained by xor (the in-cycle require proves isFreshFor validates base+delta) - oracled as lists-over-combined-corpus with base-trained centroids, the exact post-upsert index state",
      diskSensitive = true)
  )
}
