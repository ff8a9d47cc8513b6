package graft.knn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Checkpoints, Declared, DuckSql}

/** Iterative graph analytics over the KNN edge table — PageRank as the
  * representative fixed-iteration dataflow (the same loop shape as the
  * reference's MRDF outer loop: join → agg → driver-free update,
  * `mrdf.py:35-71`, rebuilt relationally).
  *
  * Determinism contract: ranks live in integer NANO units and every
  * per-iteration step is floor()'d integer math (values < 2⁵³ so the
  * double intermediates are exact) — ten iterations later both engines
  * hold bit-identical BIGINTs, where a float PageRank would drift by
  * summation order. The DuckDB mirror is a recursive CTE.
  *
  * Scale: one shuffle join (edges ⋈ ranks, both hash-partitioned on
  * id) + one partial-agg'd groupBy per iteration; every loop here runs
  * on [[Checkpoints.iterate]] (SURVEY §9). */
object GraphAnalytics {

  /** Fixed-iteration damped PageRank. `edges` must be the k-regular
    * KNN edge table (every id has exactly `outDeg` out-edges). */
  def pageRank(edges: DataFrame, outDeg: Int = 10, iters: Int = 10): DataFrame =
    teleportRank(edges, outDeg, iters, lit(true), "pageRank: empty graph")
      .select(col("id"), col("r").as("rank_nano"), round(col("r") / 1e9, 6).as("rank"))
      .orderBy(col("id"))

  /** Seed-expansion relevance — personalized PageRank over the KNN
    * graph: the teleport mass returns to a SEED SET (deterministic
    * `id % seedMod = 0` slice — the "small trusted corpus" of a data-
    * curation pipeline) instead of uniformly, so the stationary score
    * ranks every document by random-walk proximity to the seeds. This
    * is the curation primitive behind seed-based corpus selection:
    * grow a quality subset outward from hand-verified examples.
    * Non-seed nodes start at 0 and receive mass only through edges. */
  def seedExpansion(edges: DataFrame, outDeg: Int = 10, iters: Int = 8,
                    seedMod: Int = 20): DataFrame = {
    val isSeed = col("id") % seedMod === 0
    teleportRank(edges, outDeg, iters, isSeed,
      s"seedExpansion: no seed nodes (id % $seedMod == 0) in graph — " +
        "relevance mass has no source to start from")
      .select(col("id"), col("r").as("rel_nano"),
        round(col("r") / 1e9, 6).as("relevance"), isSeed.as("is_seed"))
      .orderBy(col("id"))
  }

  /** (id, r): damped random-walk rank in integer nanos whose teleport
    * mass (0.15) and starting mass return only to `teleport` nodes —
    * every node for PageRank, the seed set for seed expansion. Every
    * step is floor()'d integer math, mirrored in the oracles' recursive
    * CTEs; per round one co-partitioned join + hash-agg. */
  private def teleportRank(edges: DataFrame, outDeg: Int, iters: Int,
      teleport: Column, noTeleport: String): DataFrame = {
    val nodes = edges.select(col("id")).distinct().localCheckpoint(eager = false)
    try {
      val nT = nodes.filter(teleport).count() // driver scalar (loop constant)
      require(nT > 0, noTeleport)
      val base = when(teleport, lit(150000000L / nT)).otherwise(lit(0L))
      Checkpoints.rounds(
        nodes.withColumn("r", when(teleport, lit(1000000000L / nT)).otherwise(lit(0L))),
        iters) { ranks =>
        val contribs = edges.join(ranks, Seq("id"))
          .groupBy(col("nbr"))
          .agg(sum(floor(col("r") / outDeg.toDouble)).cast("long").as("s"))
          .withColumnRenamed("nbr", "id")
        nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (base + floor(lit(85L) * coalesce(col("s"), lit(0L)) / 100.0).cast("long"))
              .as("r"))
      }
    } finally Checkpoints.release(nodes)
  }

  /** Mutual-kNN symmetry profile: per node, how many of its k edges are
    * reciprocated. The asymmetry fraction is THE convergence driver for
    * NN-Descent (reverse edges exist precisely because kNN graphs are
    * directed — `nndescent.py:102-113`); it is also the input to
    * mutual-kNN clustering. One self left-semi join on the flipped key
    * pair — co-partitioned, no N² anywhere. */
  def mutualEdges(edges: DataFrame): DataFrame = {
    val flipped = edges.select(col("nbr").as("id"), col("id").as("nbr"))
    edges.join(flipped, Seq("id", "nbr"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_mutual"))
      .join(edges.groupBy(col("id")).agg(count(lit(1)).as("k")), Seq("id"), "right")
      .select(col("id"), col("k"), coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        round(coalesce(col("n_mutual"), lit(0L)).cast("double") / col("k"), 4)
          .as("mutual_frac"))
      .orderBy(col("id"))
  }

  /** Per-node triangle count on the mutual (undirected) KNN graph —
    * the local clustering signal that separates genuine tight clusters
    * from hub artifacts in a neighbor graph.
    *
    * Node-iterator form on canonical a<b edges: wedges join on the
    * middle vertex, then one left-semi join closes them. On a kNN
    * graph every vertex has ≤ k mutual edges, so the wedge table is
    * ≤ |V|·k² rows and every join shuffles on a vertex key — the
    * textbook bounded-degree plan that survives any |V|. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .join(edges.select(col("nbr").as("id"), col("id").as("nbr")),
        Seq("id", "nbr"), "left_semi")
      .filter(col("id") < col("nbr"))
      .select(col("id").as("a"), col("nbr").as("b"))
    // a<b and b<c ⇒ each triangle appears exactly once as (a,b,c).
    val wedges = und.join(und.select(col("a").as("b2"), col("b").as("c")),
      col("b") === col("b2"))
    val tri = wedges.join(und.select(col("a").as("a3"), col("b").as("c3")),
      col("a") === col("a3") && col("c") === col("c3"), "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    edges.select(col("id")).distinct()
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(col("id"))
  }

  /** Local clustering coefficient per node on the mutual KNN graph:
    * C(v) = 2·T(v) / (d(v)·(d(v)−1)) — the hub-vs-cluster discriminator
    * (Watts & Strogatz 1998) that complements the raw triangle count.
    *
    * Reuses the bounded-degree triangle plan ([[triangleCounts]]) plus
    * one degree aggregation on the same undirected edge set; the
    * coefficient is one double division of exact integers
    * floor-quantized to ppm (the q130 idiom — floor of an identical
    * binary double is engine-independent, unlike decimal rounding). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges
      .join(edges.select(col("nbr").as("id"), col("id").as("nbr")),
        Seq("id", "nbr"), "left_semi")
    val deg = und.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(edges)
    tri
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"), col("n_tri"),
        when(coalesce(col("deg"), lit(0L)) < 2, lit(0L))
          .otherwise(floor(lit(1e6) * lit(2.0) * col("n_tri").cast("double")
            / (col("deg").cast("double") * (col("deg") - 1).cast("double"))).cast("long"))
          .as("coeff_ppm"))
      .orderBy(col("id"))
  }

  /** k-core of the mutual (undirected) KNN graph — iterative peel:
    * drop nodes with degree < k, recompute, repeat to fixpoint. The
    * third iteration pattern of the graph family (CC contracts stars,
    * PageRank runs fixed rounds, the peel DELETES monotonically —
    * convergence is just an edge-count equality, one scalar per round,
    * because deletions can never resurrect an edge). Each round is one
    * degree aggregation + two co-partitioned semi joins; rounds are
    * bounded by the peel depth (≤ max degree on a kNN graph).
    *
    * Output: every node of the input graph with its mutual degree and
    * an `in_core` flag — deterministic (the k-core is unique), but the
    * iterative deletion has no ANSI mirror ⇒ rows-only, spec-gated. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val und = edges
      .join(edges.select(col("nbr").as("id"), col("id").as("nbr")),
        Seq("id", "nbr"), "left_semi")
      .select(col("id").as("u"), col("nbr").as("v"))
    val core = Checkpoints.iterate[(Long, Boolean)](und, maxIter)((e, prev) => {
      val n = e.count()
      (n, n == 0L || prev.exists(_._1 == n))
    }) { (e, m, _) =>
      if (m._2) None
      else {
        val keep = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("u"))
        Some(e.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi"))
      }
    }.state
    val inCore = core.select(col("u").as("id")).distinct()
      .withColumn("in_core", lit(true))
    edges.groupBy(col("id")).agg(count(lit(1)).as("k_out"))
      .join(und.groupBy(col("u").as("id")).agg(count(lit(1)).as("mutual_deg")),
        Seq("id"), "left")
      .join(inCore, Seq("id"), "left")
      .select(col("id"), coalesce(col("mutual_deg"), lit(0L)).as("mutual_deg"),
        coalesce(col("in_core"), lit(false)).as("in_core"))
      .orderBy(col("id"))
  }

  /** Synchronous label propagation on the mutual KNN graph — the
    * community-detection member of the graph family (CC finds
    * connectivity, LPA finds densely-linked groups inside one
    * component). `rounds` fixed synchronous updates: every node takes
    * the most frequent label among its mutual neighbors, ties to the
    * SMALLEST label — fully deterministic, so the DuckDB mirror (the
    * same rounds as generated CTEs) matches exactly.
    *
    * Per round: one co-partitioned edge⋈label join + two hash
    * aggregations (label counts, then per-node argmax via min(struct)
    * — map-side partials, never a window over the edge stream). */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val und = edges
      .join(edges.select(col("nbr").as("id"), col("id").as("nbr")),
        Seq("id", "nbr"), "left_semi")
      .localCheckpoint(eager = false) // scanned every round
    try {
      Checkpoints.rounds(
        edges.select(col("id")).distinct().withColumn("lab", col("id")), rounds) { lab =>
        val counts = und
          .join(lab.select(col("id").as("nbr"), col("lab")), Seq("nbr"))
          .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("c"))
        // argmax with min-label tie-break: min(struct(-c, lab))
        val pick = counts
          .groupBy(col("id"))
          .agg(min(struct((-col("c")).as("nc"), col("lab").as("l"))).as("m"))
          .select(col("id"), col("m.l").as("newlab"))
        lab.join(pick, Seq("id"), "left")
          .select(col("id"), coalesce(col("newlab"), col("lab")).as("lab"))
      }.orderBy(col("id"))
    } finally Checkpoints.release(und)
  }

  /** Multi-source BFS levels over the directed KNN graph: every node
    * whose id ≡ 0 (mod `sourceMod`) is a 0-level source; level h =
    * fewest hops to any source (NULL if unreached within `maxHops`).
    * This is [[ssspMicro]] at unit weight: a node first reached at hop
    * h can never improve, so the relaxation frontier is exactly BFS's
    * newly-reached set. All-integer ⇒ engine-exact. */
  def bfsLevels(edges: DataFrame, sourceMod: Long = 100L,
                maxHops: Int = 4): DataFrame =
    relax(edges.select(col("id"), col("nbr"), lit(1L).as("w")), sourceMod, maxHops)
      .select(col("id"), col("d").cast("int").as("lvl"))
      .orderBy(col("id"))

  /** Multi-source weighted shortest paths (≤ `maxHops` edges) over the
    * directed KNN graph — Bellman-Ford relaxation, the weighted sibling
    * of [[bfsLevels]]: where BFS settles a node once, here a later
    * round can IMPROVE a settled distance through a cheaper longer
    * path (the spec plants one). Edge weights are the 6-dp distances
    * in exact integer micros, so every relaxation is integer addition
    * + integer min — engine-exact with no float-summation order issue. */
  def ssspMicro(edges: DataFrame, sourceMod: Long = 100L,
                maxHops: Int = 4): DataFrame =
    relax(edges.select(col("id"), col("nbr"),
      round(col("dist") * 1e6).cast("long").as("w")), sourceMod, maxHops)
      .select(col("id"), col("d").as("dist_micro"))
      .orderBy(col("id"))

  /** (id, d, improved): `maxHops` rounds of Bellman-Ford relaxation
    * over the weighted edges (id, nbr, w) from every id ≡ 0 (mod
    * `sourceMod`). Scale per round: one co-partitioned frontier⋈edges
    * join + one min-aggregation + one left join back — and the frontier
    * holds only nodes whose distance CHANGED last round (relaxing from
    * an unchanged node re-offers candidates already beaten, so dropping
    * them is provably result-identical; the oracles relax from ALL
    * settled nodes and must agree). Frontiers shrink toward
    * convergence, so late rounds are near-free at any graph size. */
  private def relax(weighted: DataFrame, sourceMod: Long, maxHops: Int): DataFrame = {
    val e = weighted.localCheckpoint(eager = false)
    try {
      Checkpoints.rounds(
        e.select(col("id")).union(e.select(col("nbr").as("id"))).distinct()
          .withColumn("d",
            when(pmod(col("id"), lit(sourceMod)) === 0L, lit(0L))
              .otherwise(lit(null).cast("long")))
          .withColumn("improved", col("d").isNotNull),
        maxHops) { state =>
        val cand = state.filter(col("improved"))
          .join(e, Seq("id"))
          .groupBy(col("nbr"))
          .agg(min(col("d") + col("w")).as("nd"))
          .withColumnRenamed("nbr", "id")
        state.join(cand, Seq("id"), "left")
          .select(col("id"),
            when(col("d").isNull, col("nd"))
              .when(col("nd").isNull, col("d"))
              .otherwise(least(col("d"), col("nd"))).as("d"),
            (col("nd").isNotNull && (col("d").isNull || col("nd") < col("d")))
              .as("improved"))
      }
    } finally Checkpoints.release(e)
  }

  private def ssspOracle(sourceMod: Long, maxHops: Int): String = {
    val d = DuckSql.euclidean("a.embedding", "b.embedding")
    val sb = new StringBuilder
    sb.append(s"""WITH pairs AS MATERIALIZED (
      |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), ranked AS MATERIALIZED (
      |  SELECT id, nbr, dist,
      |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
      |  FROM pairs
      |), edges AS MATERIALIZED (SELECT id, nbr, CAST(round(dist * 1000000) AS BIGINT) AS w
      |             FROM ranked WHERE rn <= 10),
      |d0 AS MATERIALIZED (SELECT id, CASE WHEN id % $sourceMod = 0
      |                       THEN CAST(0 AS BIGINT) END AS d
      |       FROM (SELECT id FROM edges UNION SELECT nbr FROM edges))""".stripMargin)
    for (h <- 1 to maxHops) {
      val p = s"d${h - 1}"
      sb.append(s""",
        |u$h AS MATERIALIZED (SELECT e.nbr AS id, min(l.d + e.w) AS nd
        |       FROM edges e JOIN $p l ON e.id = l.id AND l.d IS NOT NULL
        |       GROUP BY 1),
        |d$h AS MATERIALIZED (SELECT l.id,
        |         CASE WHEN l.d IS NULL THEN u.nd
        |              WHEN u.nd IS NULL THEN l.d
        |              ELSE least(l.d, u.nd) END AS d
        |       FROM $p l LEFT JOIN u$h u ON l.id = u.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id, d AS dist_micro FROM d$maxHops ORDER BY id")
    sb.toString
  }

  private def bfsOracle(sourceMod: Long, maxHops: Int): String = {
    val d = DuckSql.euclidean("a.embedding", "b.embedding")
    val sb = new StringBuilder
    sb.append(s"""WITH pairs AS MATERIALIZED (
      |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), ranked AS MATERIALIZED (
      |  SELECT id, nbr, dist,
      |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
      |  FROM pairs
      |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
      |l0 AS MATERIALIZED (SELECT id, CASE WHEN id % $sourceMod = 0 THEN 0 END AS lvl
      |       FROM (SELECT id FROM edges UNION SELECT nbr FROM edges))""".stripMargin)
    for (h <- 1 to maxHops) {
      val p = s"l${h - 1}"
      sb.append(s""",
        |n$h AS MATERIALIZED (SELECT DISTINCT e.nbr AS id
        |       FROM edges e JOIN $p l ON e.id = l.id AND l.lvl = ${h - 1}),
        |l$h AS MATERIALIZED (SELECT l.id,
        |         CASE WHEN l.lvl IS NOT NULL THEN l.lvl
        |              WHEN n.id IS NOT NULL THEN $h END AS lvl
        |       FROM $p l LEFT JOIN n$h n ON l.id = n.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id, CAST(lvl AS INT) AS lvl FROM l$maxHops ORDER BY id")
    sb.toString
  }

  /** DuckDB mirror of [[kCore]]: knn edge CTE → mutual edges → `rounds`
    * peel steps as generated CTEs. `rounds` must be ≥ the data's
    * convergence count; extra rounds are no-ops (the peel step is
    * idempotent at the fixpoint), so over-provisioning is correct by
    * construction, not an approximation. Headroom note: q114 passes
    * rounds=12 against a measured convergence of 2–4 at the three
    * benchmark SFs (sf0.001/0.01/0.1); a future much-larger SF that
    * needed >12 peels would fail the driver diff LOUDLY (an
    * under-provision shows up as a row mismatch, never a silent
    * wrong answer on current SFs). */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val d = DuckSql.euclidean("a.embedding", "b.embedding")
    val sb = new StringBuilder
    sb.append(
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |), ranked AS MATERIALIZED (
         |  SELECT id, nbr,
         |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
         |  FROM pairs),
         |e AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
         |p0 AS MATERIALIZED (
         |  SELECT a.id AS u, a.nbr AS v FROM e a
         |  JOIN e b ON b.id = a.nbr AND b.nbr = a.id)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |k$r AS MATERIALIZED (
        |  SELECT u FROM p${r - 1} GROUP BY u HAVING count(*) >= $k),
        |p$r AS MATERIALIZED (
        |  SELECT p.u, p.v FROM p${r - 1} p
        |  JOIN k$r a ON a.u = p.u JOIN k$r b ON b.u = p.v)""".stripMargin)
    }
    sb.append(s""",
      |md AS (SELECT u AS id, count(*) AS mutual_deg FROM p0 GROUP BY 1),
      |core AS (SELECT DISTINCT u AS id FROM p$rounds)
      |SELECT n.id, CAST(coalesce(md.mutual_deg, 0) AS BIGINT) AS mutual_deg,
      |  (core.id IS NOT NULL) AS in_core
      |FROM (SELECT DISTINCT id FROM e) n
      |LEFT JOIN md ON md.id = n.id
      |LEFT JOIN core ON core.id = n.id
      |ORDER BY n.id""".stripMargin)
    sb.toString
  }

  private def lpaOracle(rounds: Int): String = {
    val d = DuckSql.euclidean("a.embedding", "b.embedding")
    val sb = new StringBuilder
    sb.append(s"""WITH pairs AS MATERIALIZED (
      |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), ranked AS MATERIALIZED (
      |  SELECT id, nbr, dist,
      |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
      |  FROM pairs
      |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
      |und AS MATERIALIZED (SELECT e.id, e.nbr FROM edges e
      |        WHERE EXISTS (SELECT 1 FROM edges r
      |                      WHERE r.id = e.nbr AND r.nbr = e.id)),
      |l0 AS MATERIALIZED (SELECT DISTINCT id, id AS lab FROM edges)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = s"l${r - 1}"
      sb.append(s""",
        |c$r AS MATERIALIZED (SELECT u.id, l.lab, count(*) AS c
        |       FROM und u JOIN $p l ON u.nbr = l.id GROUP BY 1, 2),
        |p$r AS MATERIALIZED (SELECT id, lab FROM (
        |         SELECT id, lab,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        |         FROM c$r) WHERE rn = 1),
        |l$r AS MATERIALIZED (SELECT l.id, coalesce(p.lab, l.lab) AS lab
        |       FROM $p l LEFT JOIN p$r p ON p.id = l.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id, lab FROM l$rounds ORDER BY id")
    sb.toString
  }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q136_bfs_levels",
      (s, dir) => bfsLevels(KnnQueries.knn10(s, dir)),
      Some(bfsOracle(100L, 4)),
      doc = "Multi-source BFS hop levels on the directed KNN graph (4 hops)"),

    Declared(
      "q139_sssp",
      (s, dir) => ssspMicro(KnnQueries.knn10(s, dir)),
      Some(ssspOracle(100L, 4)),
      doc = "Multi-source weighted shortest paths on the KNN graph (Bellman-Ford, 4 rounds, integer micros)"),

    Declared(
      "q129_label_prop",
      (s, dir) => labelPropagation(KnnQueries.knn10(s, dir)),
      Some(lpaOracle(5)),
      doc = "Label-propagation communities on the mutual KNN graph (5 sync rounds, min-label ties)"),

    Declared(
      // Peeling is iterate-until-fixpoint, but the fixpoint step is
      // IDEMPOTENT — so a generated chain of MORE rounds than the data
      // needs (12 here; measured convergence is 2/3/4 rounds at the
      // three SFs) computes the identical core, and the oracle needs no
      // recursion. The q128-BPE "replay the loop as generated CTEs"
      // doctrine applied to a fixpoint algorithm.
      "q114_kcore",
      (s, dir) => kCore(KnnQueries.knn10(s, dir), k = 5),
      Some(kCoreOracle(k = 5, rounds = 12)),
      doc = "k-core peel on the mutual KNN graph (iterative deletion; over-provisioned idempotent round replay in the oracle)"),

    Declared(
      "q99_triangles",
      (s, dir) => triangleCounts(KnnQueries.knn10(s, dir)),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS MATERIALIZED (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
           |und AS MATERIALIZED (
           |  SELECT e.id AS a, e.nbr AS b FROM edges e
           |  WHERE e.id < e.nbr
           |    AND EXISTS (SELECT 1 FROM edges r
           |                WHERE r.id = e.nbr AND r.nbr = e.id)),
           |tri AS MATERIALIZED (
           |  SELECT u1.a, u1.b, u2.b AS c
           |  FROM und u1 JOIN und u2 ON u1.b = u2.a
           |  WHERE EXISTS (SELECT 1 FROM und u3
           |                WHERE u3.a = u1.a AND u3.b = u2.b)),
           |x AS MATERIALIZED (SELECT unnest([a, b, c]) AS id FROM tri),
           |cnt AS MATERIALIZED (SELECT id, count(*) AS n_tri FROM x GROUP BY id)
           |SELECT n.id, coalesce(c.n_tri, 0) AS n_tri
           |FROM (SELECT DISTINCT id FROM edges) n
           |LEFT JOIN cnt c ON c.id = n.id ORDER BY n.id""".stripMargin
      },
      doc = "Per-node triangles on the mutual KNN graph (bounded-degree node-iterator)"),

    Declared(
      "q147_clustering_coeff",
      (s, dir) => clusteringCoefficient(KnnQueries.knn10(s, dir)),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS MATERIALIZED (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
           |und AS MATERIALIZED (
           |  SELECT e.id AS a, e.nbr AS b FROM edges e
           |  WHERE e.id < e.nbr
           |    AND EXISTS (SELECT 1 FROM edges r
           |                WHERE r.id = e.nbr AND r.nbr = e.id)),
           |deg AS MATERIALIZED (
           |  SELECT id, count(*) AS deg FROM (
           |    SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
           |  GROUP BY 1),
           |tri AS MATERIALIZED (
           |  SELECT u1.a, u1.b, u2.b AS c
           |  FROM und u1 JOIN und u2 ON u1.b = u2.a
           |  WHERE EXISTS (SELECT 1 FROM und u3
           |                WHERE u3.a = u1.a AND u3.b = u2.b)),
           |x AS MATERIALIZED (SELECT unnest([a, b, c]) AS id FROM tri),
           |cnt AS MATERIALIZED (SELECT id, count(*) AS n_tri FROM x GROUP BY id)
           |SELECT n.id, coalesce(d.deg, 0) AS deg,
           |  coalesce(c.n_tri, 0) AS n_tri,
           |  CASE WHEN coalesce(d.deg, 0) < 2 THEN 0
           |       ELSE CAST(floor(1e6 * 2.0 * CAST(coalesce(c.n_tri, 0) AS DOUBLE)
           |            / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))) AS BIGINT)
           |  END AS coeff_ppm
           |FROM (SELECT DISTINCT id FROM edges) n
           |LEFT JOIN deg d ON d.id = n.id
           |LEFT JOIN cnt c ON c.id = n.id ORDER BY n.id""".stripMargin
      },
      doc = "Local clustering coefficient per node (2T/d(d-1), floor-ppm exact)"),

    Declared(
      "q95_mutual_knn",
      (s, dir) => mutualEdges(KnnQueries.knn10(s, dir)),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS MATERIALIZED (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
           |m AS MATERIALIZED (SELECT e.id, count(*) AS n_mutual FROM edges e
           |      WHERE EXISTS (SELECT 1 FROM edges r
           |                    WHERE r.id = e.nbr AND r.nbr = e.id)
           |      GROUP BY e.id)
           |SELECT k.id, k.k, coalesce(m.n_mutual, 0) AS n_mutual,
           |  round(CAST(coalesce(m.n_mutual, 0) AS DOUBLE) / k.k, 4) AS mutual_frac
           |FROM (SELECT id, count(*) AS k FROM edges GROUP BY id) k
           |LEFT JOIN m ON m.id = k.id ORDER BY k.id""".stripMargin
      },
      doc = "Mutual-kNN symmetry per node (NN-Descent's reverse-edge driver)"),

    Declared(
      "q91_pagerank",
      (s, dir) => pageRank(KnnQueries.knn10(s, dir)),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH RECURSIVE pairs AS MATERIALIZED (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS MATERIALIZED (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
           |nodes AS MATERIALIZED (SELECT DISTINCT id FROM edges),
           |nn AS MATERIALIZED (SELECT count(*) AS c FROM nodes),
           |pr AS (
           |  SELECT 0 AS iter, id,
           |    CAST(floor(1000000000 / (SELECT c FROM nn)) AS BIGINT) AS r
           |  FROM nodes
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT CAST(max(x.it) OVER () + 1 AS INTEGER) AS iter, x.id,
           |      CAST(floor(150000000 / (SELECT c FROM nn))
           |        + floor(85 * coalesce(x.s, 0) / 100.0) AS BIGINT) AS r
           |    FROM (
           |      SELECT nd.id, c.it, c.s
           |      FROM nodes nd LEFT JOIN (
           |        SELECT e.nbr AS tid, max(p.iter) AS it,
           |               CAST(sum(floor(p.r / 10.0)) AS BIGINT) AS s
           |        FROM pr p JOIN edges e ON e.id = p.id
           |        GROUP BY e.nbr
           |      ) c ON c.tid = nd.id
           |    ) x
           |  ) WHERE iter <= 10
           |)
           |SELECT id, r AS rank_nano, round(r / 1000000000.0, 6) AS rank
           |FROM pr WHERE iter = 10 ORDER BY id""".stripMargin
      },
      doc = "Integer-exact damped PageRank on the KNN graph (10 iterations)"),

    Declared(
      "q199_seed_expansion",
      (s, dir) => seedExpansion(KnnQueries.knn10(s, dir)),
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""WITH RECURSIVE pairs AS MATERIALIZED (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |), ranked AS MATERIALIZED (
           |  SELECT id, nbr, dist,
           |         row_number() OVER (PARTITION BY id ORDER BY dist, nbr) AS rn
           |  FROM pairs
           |), edges AS MATERIALIZED (SELECT id, nbr FROM ranked WHERE rn <= 10),
           |nodes AS MATERIALIZED (SELECT DISTINCT id FROM edges),
           |ns AS MATERIALIZED (SELECT count(*) AS c FROM nodes WHERE id % 20 = 0),
           |pr AS (
           |  SELECT 0 AS iter, id,
           |    CAST(CASE WHEN id % 20 = 0
           |      THEN floor(1000000000 / (SELECT c FROM ns)) ELSE 0 END AS BIGINT) AS r
           |  FROM nodes
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT CAST(max(x.it) OVER () + 1 AS INTEGER) AS iter, x.id,
           |      CAST(CASE WHEN x.id % 20 = 0
           |          THEN floor(150000000 / (SELECT c FROM ns)) ELSE 0 END
           |        + floor(85 * coalesce(x.s, 0) / 100.0) AS BIGINT) AS r
           |    FROM (
           |      SELECT nd.id, c.it, c.s
           |      FROM nodes nd LEFT JOIN (
           |        SELECT e.nbr AS tid, max(p.iter) AS it,
           |               CAST(sum(floor(p.r / 10.0)) AS BIGINT) AS s
           |        FROM pr p JOIN edges e ON e.id = p.id
           |        GROUP BY e.nbr
           |      ) c ON c.tid = nd.id
           |    ) x
           |  ) WHERE iter <= 8
           |)
           |SELECT id, r AS rel_nano, round(r / 1000000000.0, 6) AS relevance,
           |  id % 20 = 0 AS is_seed
           |FROM pr WHERE iter = 8 ORDER BY id""".stripMargin
      },
      doc = "Seed-expansion relevance: personalized PageRank from the id%20=0 seed slice (8 iterations, integer-nano exact)")
  )
}
