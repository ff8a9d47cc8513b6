package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Declared, IndexManifest, ScratchDirs, Tables}

/** Persistent GRAPH ANN index (round-12 verdict #4 + #3): the serving
  * artifacts q219/q223 compute in-flight — the kNN adjacency, the
  * k-means router and the per-cluster entry seeds — written as parquet
  * and served back WITHOUT recomputation, plus INCREMENTAL maintenance
  * of the persisted graph (the q220 story for the graph index: the
  * reference's product, `mrdf.py:199-215`, must accept inserts to be a
  * production index).
  *
  * Layout under an index dir:
  *  - `nodes/`     (vec_id, embedding) — the indexed corpus (search
  *    scores hops against it; the index is self-contained);
  *  - `edges/`     (id, nbr, dist)     — the built kNN adjacency;
  *  - `centroids/` (cid, cvec)         — the coarse router;
  *  - `cseeds/`    (cid, node)         — per-cluster entry seeds;
  *  - `meta/`      one row (n_vectors, dim, k, nlist, kmeans_iters,
  *    fingerprint, train_sample_mod, train_n, seeds_per_list) — the
  *    [[IndexManifest]] row over nodes: its fingerprint, delta checks,
  *    xor chain and meta-last commit rule.
  *
  * Losslessness is driver-PROVEN: q225 builds, writes, reloads and
  * serves, and its oracle is q223's routed-search SQL verbatim —
  * floats round-trip parquet bit-exactly, so the persisted serving
  * path must hash-match the in-flight one. q227's upsert is oracled at
  * the EXACT-GRAPH grain: `upsert(graph(base), delta)` must equal the
  * rebuild over base ∪ delta row-for-row (the knn_bruteforce oracle).
  *
  * Scale shape: build = the engine's graph (fused TopKJoin or MRDF at
  * scale) + one portable Lloyd's + one corpus assignment; serving pays
  * only the nlist-row probe, ≤ nprobe·seedsPerList scored entries and
  * the bounded hops ([[GraphSearch.routedWithCentroids]]); upsert pays
  * TWO fused TopKJoin passes (|Δ|·N + N·|Δ| distance evals instead of
  * the rebuild's (N+|Δ|)²) and never rescans base for the freshness
  * proof (xor chain). The router/seeds are NOT retrained on upsert —
  * the FAISS add-after-train contract, same as the IVF store; a
  * periodic maintenance pass refreshes them like `splitOversized`
  * rebalances lists. */
object GraphIndexStore {

  /* REBUILD-AS-COMPACTION policy (round-13 verdict #4), derived from
    * the measured decay curve (SCALING `round14_patch_decay`, 200k base
    * + five successive 2% approximate patches through the stored
    * router):
    *
    *   patches    1       2       3       4       5      rebuild
    *   allRecall  0.9892  0.9825  0.9759  0.9692  0.9608  0.9982
    *   wall (s)   33.3    28.8    32.2    34.8    41.0    223.2
    *
    * Decay is ~0.7 recall points per 2% growth, near-linear — each
    * patch is exact for the ARRIVING vectors' own lists but the base
    * lists only receive beam-found symmetric candidates, so damage
    * accumulates with every wave. Against a 0.98 recall floor the
    * curve crosses after the SECOND 2% patch: the policy is
    * "rebuild once cumulative approximate growth reaches ~4–5% of the
    * indexed corpus" (at 200k: two ~30 s patches absorb arrivals, then
    * one 223 s rebuild restores 0.998 — amortized ~12% of always-
    * rebuilding, bounded staleness). Operators with a looser 0.96
    * floor can stretch to ~10% growth (five patches). The EXACT
    * [[upsert]] path never decays (it IS the rebuild grain) — the
    * policy applies to the approximate [[ingestBatchApprox]] /
    * [[patchGraphApprox]] arms only. */

  private val K = 10
  // router-training params shared with the q223 routed search (advice
  // r14: q223 hardcoding them let the Materialized sharing keys drift
  // silently if either side changed) — single source of truth.
  private[knn] val Nlist = 8
  private val Nprobe = 2
  private[knn] val SeedsPerList = 4
  private[knn] val KmeansIters = 5
  private val Beam = 4
  private val Hops = 3

  /** The parameters a [[write]] actually applies — handed to a
    * `routerFor` provider so it CANNOT train with stale constants
    * while the meta manifest records these (advice r14: the previous
    * `Int => _` shape let providers bind their own copies). */
  final case class RouterParams(mod: Int, nlist: Int, kmeansIters: Int,
                                seedsPerList: Int)
  type RouterProvider = RouterParams => (DataFrame, DataFrame)

  /** Router-training sample target (round-13 verdict #2): coarse
    * centroids don't need every point — full-corpus portable Lloyd's
    * at 1M cost 3010 s (6.8× the 441.6 s graph build) while a 1/8 hash
    * sample was 8.5× cheaper for 1.6 recall points (still ≥ 0.98,
    * SCALING `round13_router_recall_lift.sampled_training_arm`). The
    * DEFAULT build path now trains on a deterministic md5 sample of
    * ~this many points: `sampleMod = max(1, n / TrainTargetN)` — at
    * the test SFs (≤ 2000 vectors) the rule degenerates to the full
    * corpus, so the q225/q226/q229 oracles replay training verbatim;
    * at 1M it is a 1/15 sample and the Lloyd's phase drops ~15×.
    * `clusterSeeds` still assigns the FULL corpus (the seed table
    * needs real members) — the floor is one assignment pass, not
    * `kmeansIters` of them. The applied rule is recorded in `meta/`
    * (train_sample_mod, train_n) so an index's training is auditable. */
  private[knn] val TrainTargetN = 65536L

  /** The deterministic, DuckDB-replayable training-sample predicate:
    * bottom-1/mod of the md5("smp|" + id) hash ring — the same
    * portable-hash family as the Lloyd's init and the seed ranking. */
  private[knn] def trainSample(pts: DataFrame, mod: Int): DataFrame =
    if (mod <= 1) pts
    else pts.filter(pmod(conv(substring(
      md5(concat(lit("smp|"), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(mod.toLong)) === 0)

  /** Build the full serving index over `emb` with its built adjacency
    * `edges` (id, nbr, dist) and write it under `dir`. Deterministic
    * for a given corpus (portable Lloyd's router, md5-ranked seeds).
    * `trainSampleMod` 0 = AUTO: the [[TrainTargetN]] rule (the
    * default, scale-safe path); 1 forces full-corpus training; > 1
    * forces that sample. The applied value + resulting training-set
    * size land in `meta/` as the training manifest. */
  def write(emb: DataFrame, edges: DataFrame, dir: String,
            k: Int = K, nlist: Int = Nlist, kmeansIters: Int = KmeansIters,
            seedsPerList: Int = SeedsPerList,
            longLinks: Option[(Int, Int)] = None,
            trainSampleMod: Int = 0,
            onPhase: (String, Double) => Unit = (_, _) => (),
            routerFor: Option[RouterProvider] = None): Unit = {
    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      onPhase(phase, (System.nanoTime() - t0) / 1e9)
      r
    }
    val pts = emb.select(col("vec_id"), col("embedding"))
    val fp = IndexManifest.fingerprint(pts)
    val mod =
      if (trainSampleMod > 0) trainSampleMod
      else math.max(1L, fp.n / TrainTargetN).toInt
    val trainSet = trainSample(pts, mod)
    val trainN = if (mod <= 1) fp.n else trainSet.count()
    // `routerFor` (round-14): a precomputed (router, seed table) for
    // the applied sample mod — the declared cycles resolve it through
    // [[GraphSearch.sharedRouterAndSeeds]] so the identical training
    // is paid once per (process, sf, bench pass) instead of per query.
    // The provider receives this write's ACTUAL parameters (advice
    // r14), so it cannot persist a router that contradicts the meta
    // manifest below. Shared-router builds collapse router_train and
    // cluster_seeds into one resolution: router_train times the
    // provider call, cluster_seeds is emitted as 0 so onPhase
    // consumers see both phases either way.
    val (cent, cseeds) = routerFor match {
      case Some(f) =>
        val pair = timed("router_train")(
          f(RouterParams(mod, nlist, kmeansIters, seedsPerList)))
        onPhase("cluster_seeds", 0.0)
        (pair._1, pair._2)
      case None =>
        val c = timed("router_train") {
          graft.similarity.Kmeans.centroids(
            trainSet, nlist, kmeansIters, portable = true)
        }
        val cs = timed("cluster_seeds") {
          GraphSearch.clusterSeeds(pts, c, seedsPerList).localCheckpoint()
        }
        (c, cs)
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val meta = Seq((fp.n, fp.dim, k, nlist, kmeansIters, fp.xor, mod, trainN,
      seedsPerList)).toDF("n_vectors", "dim", "k", "nlist", "kmeans_iters",
      "fingerprint", "train_sample_mod", "train_n", "seeds_per_list")
    // the q224 long links persist with the rest of the serving
    // artifacts — round-12 verdict #4 named all three: router, seeds,
    // long links; deterministic from the node set, stored so serving
    // never recomputes the pool ranking
    IndexManifest.commit(dir, meta) {
      timed("component_writes") {
        pts.write.mode("overwrite").parquet(s"$dir/nodes")
        edges.select(col("id"), col("nbr"), col("dist"))
          .write.mode("overwrite").parquet(s"$dir/edges")
        cent.write.mode("overwrite").parquet(s"$dir/centroids")
        cseeds.write.mode("overwrite").parquet(s"$dir/cseeds")
        longLinks.foreach { case (poolSize, perNode) =>
          GraphSearch.longLinks(pts, poolSize, perNode)
            .write.mode("overwrite").parquet(s"$dir/links")
        }
      }
    }
  }

  /** True iff the index under `dir` holds exactly `emb`. */
  def isFreshFor(spark: SparkSession, dir: String, emb: DataFrame): Boolean =
    IndexManifest.isFresh(spark, dir, emb)

  /** Serve the PERSISTED index: routed beam search over the stored
    * adjacency — reads ONLY the index dir (nodes, edges, router,
    * seeds); `queries` = (vec_id, embedding). Identical contract (and,
    * for the same build params, identical rows) to
    * [[GraphSearch.routedBeamSearch]] with the portable quantizer.
    *
    * `checkFresh` (round-13 verdict #7, opt-in): build-time callers
    * REQUIRE freshness against the corpus they just wrote, but a
    * serve-only caller would silently serve a dir whose `nodes/` were
    * mutated out-of-band — with the check on, the stored nodes are
    * re-fingerprinted and compared to `meta/` ([[IndexManifest.isFresh]]),
    * and a mismatch is refused. One scan of nodes/, off by default: the
    * serving hot path stays probe + entries + hops. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int = K, beam: Int = Beam, hops: Int = Hops,
             nprobe: Int = Nprobe, checkFresh: Boolean = false): DataFrame = {
    val nodes = spark.read.parquet(s"$dir/nodes")
    require(!checkFresh || IndexManifest.isFresh(spark, dir, nodes),
      s"stale graph index at $dir: stored nodes do not match meta — the " +
        "nodes were mutated out-of-band; rebuild or upsert through the store")
    val edges0 = spark.read.parquet(s"$dir/edges")
    // serve over adjacency ∪ persisted long links when the index was
    // written with them (hop columns only — links carry no dist);
    // existence checked through the Hadoop FS so shared-storage index
    // dirs work on a cluster
    val linksPath = new org.apache.hadoop.fs.Path(s"$dir/links")
    val fs = linksPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edges =
      if (fs.exists(linksPath))
        edges0.select(col("id"), col("nbr")).unionByName(
          spark.read.parquet(s"$dir/links")).distinct()
      else edges0
    val cent = spark.read.parquet(s"$dir/centroids")
    val cseeds = spark.read.parquet(s"$dir/cseeds")
    GraphSearch.routedWithCentroids(nodes, edges, queries, cent, cseeds,
      k, beam, hops, nprobe)
  }

  /** The shared-materialized router provider for the full embeddings /
    * 75% base-slice corpora (round-14): one identical training per
    * (process, sf, bench pass) serves q223/q225/q226/q229 (full) and
    * q227/q230 (base) — see [[GraphSearch.sharedRouterAndSeeds]]. */
  private def sharedFullRouter(s: SparkSession, sfDir: String)
      : RouterProvider = p =>
    GraphSearch.sharedRouterAndSeeds(s, sfDir, "emb", p.nlist, p.kmeansIters,
      p.seedsPerList, p.mod)(Tables.load(s, sfDir, "embeddings"))
  private[graft] def sharedBaseRouter(s: SparkSession, sfDir: String)
      : RouterProvider = p =>
    GraphSearch.sharedRouterAndSeeds(s, sfDir, "embBase4", p.nlist,
      p.kmeansIters, p.seedsPerList, p.mod)(
      Tables.load(s, sfDir, "embeddings").filter(col("vec_id") % 4 =!= 3))

  /** Full persisted cycle for the q225 declared row: router + seeds
    * trained, everything written, fingerprint REQUIREd, reloaded,
    * served — a fresh ephemeral dir per invocation (the q218
    * convention; the adjacency itself comes from the shared
    * materialized knn10 — its build cost is knn_bruteforce's row). */
  def buildAndSearch(s: SparkSession, sfDir: String): DataFrame =
    ScratchDirs.withTempDir("graft-gidx-") { dir =>
      val emb = Tables.load(s, sfDir, "embeddings")
      write(emb, KnnQueries.knn10(s, sfDir), dir,
        routerFor = Some(sharedFullRouter(s, sfDir)))
      require(isFreshFor(s, dir, emb),
        "graph index fingerprint must match the corpus it was just built from")
      search(s, dir, emb.filter(col("vec_id") < 20)).localCheckpoint()
    }

  private val LinkPool = 16
  private val LinksPerNode = 2

  /** The q229 declared cycle (round-13 verdict #5): q225's persisted
    * round-trip with a LINKS-BEARING index — `write` persists the
    * long-link table and the serve path unions `links/` into the hop
    * graph, the branch no driver row previously exercised. Served with
    * the opt-in staleness check ON, so the serve-side fingerprint
    * re-verification runs under the driver gate too. */
  def buildAndSearchLongLinks(s: SparkSession, sfDir: String): DataFrame =
    ScratchDirs.withTempDir("graft-gidx-ll-") { dir =>
      val emb = Tables.load(s, sfDir, "embeddings")
      write(emb, KnnQueries.knn10(s, sfDir), dir,
        longLinks = Some((LinkPool, LinksPerNode)),
        routerFor = Some(sharedFullRouter(s, sfDir)))
      search(s, dir, emb.filter(col("vec_id") < 20),
        checkFresh = true).localCheckpoint()
    }

  /** Per-(process, sfDir) SERVED index for the q226 search-only row —
    * built + written once, every invocation pays only reload → probe →
    * entries → hops (the q218b build/serve split applied to the graph
    * index; dir reclaimed at JVM exit). */
  private def servedIndexDir(s: SparkSession, sfDir: String): String =
    ScratchDirs.onceFor("graft-gidx-served-", sfDir) { d =>
      write(Tables.load(s, sfDir, "embeddings"), KnnQueries.knn10(s, sfDir),
        d, routerFor = Some(sharedFullRouter(s, sfDir)))
    }

  /** Upsert `delta` (vec_id, embedding) into the persisted graph index
    * at `dir` WITHOUT a rebuild (round-12 verdict #3): the EXACT
    * maintenance contract — after upsert, `edges/` is the exact kNN
    * graph of base ∪ delta.
    *
    *  1. delta rows: fused top-k of each delta vector against the
    *     combined corpus (|Δ|·(N+|Δ|) distance evals);
    *  2. base-row patch: fused top-k of each BASE node against delta
    *     only (N·|Δ| evals) — only a node's k nearest delta vectors
    *     can displace its stored list, so `existing ∪ candidates`
    *     re-ranked per id at the global (dist, nbr) order IS the
    *     rebuilt list;
    *  3. nodes append + xor-chained fingerprint (base never rescanned
    *     — `isFreshFor(base ∪ delta)` validates the combined corpus).
    *
    * The router and entry seeds are NOT retrained (FAISS
    * add-after-train; entry quality degrades gracefully and a
    * maintenance pass re-trains — documented, not hidden). The delta
    * is validated by [[IndexManifest.validateDelta]] (unique new ids,
    * meta's `dim`), and the caller's `k` must equal meta's `k` — a
    * smaller k would silently truncate every base adjacency list while
    * meta still claimed the build k.
    *
    * WRITE ORDER: nodes append → edges overwrite → the meta commit. A
    * tear after the nodes append fails `isFreshFor` on count; a tear
    * after the edges overwrite fails it too (meta still records the
    * base corpus) — edges first would leave the one tear the xor-chain
    * proof could NOT detect: delta edges present with nodes and meta
    * both untouched. The edge set is fully materialized
    * (localCheckpoint) before any file is touched, so the writes never
    * read a path they have overwritten. */
  def upsert(spark: SparkSession, dir: String, delta: DataFrame,
             k: Int = K): Unit = {
    val pts = delta.select(col("vec_id"), col("embedding")).localCheckpoint()
    val nodes = spark.read.parquet(s"$dir/nodes")
    val (m, fp) = IndexManifest.validateDelta(spark, dir, pts, nodes)
    require(k == m.getAs[Int]("k"),
      s"upsert k=$k does not match the index's build k=${m.getAs[Int]("k")} " +
        "(a smaller k would silently truncate every stored adjacency list)")
    val all = nodes.select(col("vec_id"), col("embedding")).unionByName(pts)
    val deltaRows = org.apache.spark.sql.graft.TopKJoin.knn(
      pts.repartition(col("vec_id")), all, k)
    val patchCand = org.apache.spark.sql.graft.TopKJoin.knn(
      nodes.repartition(col("vec_id")), pts, k)
    val patched = graft.agg.TopKByWeight.perId(
      spark.read.parquet(s"$dir/edges").unionByName(patchCand), k)
    val newEdges = patched.unionByName(
      deltaRows.select(col("id"), col("nbr"), col("dist"))).localCheckpoint()
    IndexManifest.chain(spark, dir, m, fp) {
      pts.write.mode("append").parquet(s"$dir/nodes")
      newEdges.write.mode("overwrite").parquet(s"$dir/edges")
    }
  }

  /** The q227 declared cycle: build the exact graph on the 75% base
    * slice, persist, upsert the delta slice, PROVE the chained
    * fingerprint validates the combined corpus, and return the
    * post-upsert adjacency — which the oracle states as the rebuild:
    * the exact kNN graph over ALL embeddings (knn_bruteforce's SQL).
    * upsert(graph(base), Δ) ≡ rebuild(base ∪ Δ), driver-diffed. */
  def upsertCycle(s: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ScratchDirs.withTempDir("graft-gidx-up-") { dir =>
      val emb = Tables.load(s, sfDir, "embeddings")
      val base = emb.filter(col("vec_id") % 4 =!= 3)
      write(base, org.apache.spark.sql.graft.TopKJoin.knn(
        base.repartition(col("vec_id")), base, k), dir,
        routerFor = Some(sharedBaseRouter(s, sfDir)))
      upsert(s, dir, emb.filter(col("vec_id") % 4 === 3), k)
      require(isFreshFor(s, dir, emb),
        "chained fingerprint must validate base + delta as the combined corpus")
      s.read.parquet(s"$dir/edges")
        .orderBy(col("id"), col("dist"), col("nbr")).localCheckpoint()
    }

  /** APPROXIMATE persisted-index ingest of one arriving batch — the
    * scale path behind [[graft.streaming.StreamGraphIngest]]'s
    * measurement harness: where the exact [[upsert]] pays |Δ|·N + N·|Δ|
    * fused-top-k evals per batch, this enters each arriving vector
    * through the index's own STORED router (centroids + cseeds read
    * from the dir — the artifacts `write` persisted exactly so arrivals
    * never rescan the corpus) and patches via [[patchGraphApprox]]'s
    * beam-candidate + symmetric-reverse + delta-delta machinery. Same
    * durability discipline as `upsert`: the delta validated by
    * [[IndexManifest.validateDelta]], the edge set fully materialized
    * before any file is touched, nodes → edges → the meta commit. */
  def ingestBatchApprox(spark: SparkSession, dir: String, delta: DataFrame,
      beam: Int = 8, hops: Int = 4, nprobe: Int = Nprobe): Unit = {
    val pts = delta.select(col("vec_id"), col("embedding")).localCheckpoint()
    val nodes = spark.read.parquet(s"$dir/nodes")
    val (m, fp) = IndexManifest.validateDelta(spark, dir, pts, nodes)
    val cent = spark.read.parquet(s"$dir/centroids")
    val cseeds = spark.read.parquet(s"$dir/cseeds")
    val edges = spark.read.parquet(s"$dir/edges")
    val patched = patchGraphApprox(nodes, edges, pts, m.getAs[Int]("k"),
      beam, hops, router = Some((cent, cseeds)), nprobe = nprobe)
      .localCheckpoint()
    IndexManifest.chain(spark, dir, m, fp) {
      pts.write.mode("append").parquet(s"$dir/nodes")
      patched.write.mode("overwrite").parquet(s"$dir/edges")
    }
  }

  /** APPROXIMATE graph patch for the served (MRDF-built) graph — the
    * scale path where exact |Δ|·N passes are too hot: candidates for
    * each delta vector come from a beam search over the EXISTING graph
    * (bounded per-query state, no corpus scan), the base lists are
    * patched with the SYMMETRIC pairs (NN-Descent's reverse trick),
    * and delta-delta edges come from the fused top-k among delta only
    * (|Δ|² ≪ N²). Returns the patched (id, nbr, dist) adjacency;
    * recall is gated in GraphIndexStoreSpec (planted clusters) and
    * measured at 200k in SCALING.json. */
  def patchGraphApprox(baseVecs: DataFrame, baseEdges: DataFrame,
      delta: DataFrame, k: Int = K, beam: Int = 8, hops: Int = 4,
      nSeeds: Int = 64,
      router: Option[(DataFrame, DataFrame)] = None,
      nprobe: Int = 2): DataFrame = {
    val pts = delta.select(col("vec_id"), col("embedding"))
    // Entry strategy: when the index's ROUTER artifacts (centroids +
    // cluster seeds — persisted by [[write]], an index-build cost
    // already paid) are at hand, enter through them: measured at 200k,
    // flat coverage-sized entries cost ~42 ms/insert (596 s for a 10k
    // delta — 4.3× the 139 s rebuild), the routed entry ~17 ms/insert
    // — the shape whose per-insert cost is N-independent.
    val search = router match {
      case Some((cent, cseeds)) =>
        GraphSearch.routedWithCentroids(baseVecs, baseEdges, pts,
          cent, cseeds, k, beam, hops, nprobe)
      case None =>
        GraphSearch.beamSearch(baseVecs, baseEdges, pts, k, beam, hops, nSeeds)
    }
    val cand = search.select(col("qid").as("id"), col("nbr"), col("dist"))
    val deltaDelta = org.apache.spark.sql.graft.TopKJoin.knn(
      pts.repartition(col("vec_id")), pts, k)
    val reverse = cand.select(col("nbr").as("id"), col("id").as("nbr"),
      col("dist"))
    graft.agg.TopKByWeight.perId(
      baseEdges.select(col("id"), col("nbr"), col("dist"))
        .unionByName(cand).unionByName(deltaDelta).unionByName(reverse), k)
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q225_graph_index_persist",
      (s, dir) => buildAndSearch(s, dir).orderBy(col("qid"), col("rn")),
      Some(GraphSearch.routedOracle(K, kGraph = K, beam = Beam, hops = Hops,
        nlist = Nlist, nprobe = Nprobe, seedsPerList = SeedsPerList,
        iters = KmeansIters)),
      doc = "Persistent GRAPH ANN index (round-12 verdict #4): adjacency + router + entry seeds -> parquet (nodes/edges/centroids/cseeds/meta+fingerprint+training manifest) -> reload -> routed serve WITHOUT recomputation; the oracle is q223's routed-search SQL verbatim, proving the persisted round-trip lossless. Router training defaults to the md5-sampled scale path (max(1, n/65536) - full corpus at these SFs, 1/15 at 1M)",
      diskSensitive = true),

    Declared(
      "q226_graph_index_search",
      (s, dir) => search(s, servedIndexDir(s, dir),
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 20))
        .orderBy(col("qid"), col("rn")),
      Some(GraphSearch.routedOracle(K, kGraph = K, beam = Beam, hops = Hops,
        nlist = Nlist, nprobe = Nprobe, seedsPerList = SeedsPerList,
        iters = KmeansIters)),
      doc = "Search-only SERVING over the persisted graph index: built + written once per process, every invocation pays only reload -> probe -> entries -> hops (the q218b build/serve split applied to the graph index); same oracle - the index contents are identical"),

    Declared(
      "q227_graph_index_upsert",
      (s, dir) => upsertCycle(s, dir),
      Some(KnnQueries.knnOracle(K)),
      doc = "Incremental GRAPH index maintenance (round-12 verdict #3): build the exact graph on the 75% base slice, persist, upsert the delta via two fused TopKJoin passes (delta-vs-all + base-vs-delta list patch, |D|*N + N*|D| evals instead of the rebuild's N^2) with the xor-chained fingerprint REQUIREd over base+delta - oracled at the exact-graph grain: the post-upsert adjacency must equal the rebuild over ALL embeddings row-for-row (knn_bruteforce's SQL). meta/ is the upsert's commit point (nodes -> edges -> meta), so any tear fails the freshness proof",
      diskSensitive = true),

    Declared(
      "q229_graph_index_longlinks",
      (s, dir) => buildAndSearchLongLinks(s, dir)
        .orderBy(col("qid"), col("rn")),
      Some(GraphSearch.routedLongLinkOracle(K, kGraph = K, beam = Beam,
        hops = Hops, nlist = Nlist, nprobe = Nprobe,
        seedsPerList = SeedsPerList, iters = KmeansIters,
        poolSize = LinkPool, perNode = LinksPerNode)),
      doc = "PERSISTED long-link serving (round-13 verdict #5): the index written WITH the q224 hub-pool links, served through the links/ union branch that no driver row previously exercised, with the opt-in serve-time staleness check ON; oracle = routed entries over the knng UNION links graph, every artifact (router, seeds, pool, links, hops) replayed in one SQL text",
      diskSensitive = true)
  )
}
