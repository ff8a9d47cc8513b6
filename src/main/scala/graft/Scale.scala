package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKJoin

import graft.knn.{BruteForceKnn, GraphIndexStore, GraphSearch, Recall}
import graft.mrdf.Mrdf
import graft.similarity.Kmeans
import graft.streaming.{Replay, StreamSelfDedup, StreamSubstr}
import graft.text.{ExactSubstr, SpanDedup}

/** One declared scale measurement: a pipeline run at a chosen size that
  * returns one ordered row of metrics.
  *
  * `params` lists every accepted key with its default; `keys` lists the
  * metric keys `run` returns, in order. */
final case class ScalePoint(
    name: String,
    params: Seq[(String, String)],
    keys: Seq[String],
    run: (SparkSession, Map[String, String]) => Seq[(String, Any)])

/** The scale runner: the reference's scalability protocol
  * (`testdatascalability.py:29-43`, time MRDF per vector count) plus
  * the graph-serving, index-maintenance and text-dedup scale points,
  * as one declared list.
  *
  * Usage: `runMain graft.Scale <point> key=value ...`, for example
  * `runMain graft.Scale mrdf counts=200000 mode=default:alpha=12000` or
  * `runMain graft.Scale graph_index n=1000000`. Prints one JSON line,
  * `{"point", "git_sha", "args", ...metrics}`; `args` holds every key
  * of the point, defaults filled in.
  *
  * Vector points read the pinned FvecsGen corpus ([[pinnedCorpus]]);
  * text points read `sf`'s documents plus `nDerived` synthetic quoting
  * documents ([[quoteWebCorpus]]). */
object Scale {

  val PinnedDim = 64
  val PinnedSeed = 42L
  private val ScalingDir = "target/scaling"
  /** MRDF parameters of every mixture point: the paper's k/ρ with the
    * block size capped so the divide phase runs on one machine. */
  private val SweepParams = Mrdf.Params(alpha = 12000)
  private val Nlist = 1024
  private val RouterIters = 3

  /** The pinned FvecsGen corpus of `n` vectors: a `clusters`-center
    * Gaussian mixture, or uniform noise for `clusters` = 0. Generated
    * on first use and regenerated when its size does not match. */
  def pinnedCorpus(spark: SparkSession, n: Long, clusters: Int): DataFrame = {
    val kind = if (clusters > 0) "mix" else "uni"
    val f = new java.io.File(s"$ScalingDir/$kind${n / 1000}k_seed$PinnedSeed.fvecs")
      .getAbsoluteFile
    if (!f.exists() || f.length() != n * (4L + 4L * PinnedDim)) {
      f.getParentFile.mkdirs()
      io.FvecsGen.write(f.toString, n, PinnedDim, PinnedSeed, clusters)
    }
    io.Fvecs.readAuto(spark, f.toString).toDF("vec_id", "embedding")
  }

  /** About 256 evenly spaced query vectors of an `n`-vector corpus. */
  def sampledQueries(vecs: DataFrame, n: Long): DataFrame =
    vecs.filter(col("vec_id") % math.max(1L, n / 256L) === 0)

  /** recall@k of `got` — (query id, neighbour id) rows, restricted
    * here to `queries` — against the exact top-k of each query over
    * `corpus`: the share of true (query, neighbour) pairs found. */
  def recallAt(got: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int): Double =
    Recall.recall(BruteForceKnn.asAdjacency(TopKJoin.knn(queries, corpus, k)),
      got.toDF("id", "nbr").groupBy(col("id")).agg(collect_set(col("nbr")).as("nbrs")))
      .collect()(0).getDouble(0)

  /** `f`'s value and its wall in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Recall of `edges` vs exact truth: full brute force up to 4000
    * vectors, beyond that 256 sampled queries' exact top-k (fused
    * TopKJoin, N·256 distance evals). Bench's pinned recall gates
    * stamp this value. */
  private[graft] def recallVsTruth(vecs: DataFrame, edges: DataFrame,
      k: Int, n: Int): Double =
    if (n <= 4000)
      Recall.recall(BruteForceKnn.asAdjacency(BruteForceKnn.knnGraph(vecs, k)),
        Mrdf.asAdjacency(edges)).collect()(0).getDouble(0)
    else recallAt(edges.select(col("id"), col("nbr")), sampledQueries(vecs, n), vecs, k)

  /** The "quote web" stress corpus: `sfDir`'s documents plus `nDerived`
    * synthetic docs, each quoting a hash-chosen 55–200-token slice of a
    * hash-chosen real doc between unique filler — heavy genuine
    * sharing at arbitrary offsets, nothing replicated whole,
    * deterministic, no RNG. */
  private def quoteWebCorpus(spark: SparkSession, sfDir: String,
      nDerived: Int): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val gen = spark.range(nDerived.toLong)
      .select(col("id"),
        pmod(xxhash64(lit("base"), col("id")), lit(nDocs)).as("pid"),
        xxhash64(lit("len"), col("id")).as("lh"),
        xxhash64(lit("off"), col("id")).as("oh"))
    val quoted = gen
      .join(docs.select(col("doc_id").as("pid"), col("text")), "pid")
      .select(col("id"), split(col("text"), " ").as("ws"), col("lh"), col("oh"))
      .withColumn("t", size(col("ws")))
      .filter(col("t") >= 60)
      .withColumn("qlen",
        least(pmod(col("lh"), lit(146)) + 55, col("t").cast("long")).cast("int"))
      .withColumn("qoff",
        (pmod(col("oh"), greatest(col("t") - col("qlen") + 1, lit(1)).cast("long"))
          + 1).cast("int"))
      .select(col("id"),
        concat_ws(" ", slice(col("ws"), col("qoff"), col("qlen"))).as("quote"))
    def filler(tag: String) = concat_ws(" ",
      transform(sequence(lit(0), lit(29)),
        i => concat(lit(tag), col("id"), lit("x"), i)))
    val derived = quoted.select((col("id") + 1000000L).as("doc_id"),
      concat_ws(" ", filler("fa"), col("quote"), filler("fb")).as("text"))
    docs.unionByName(derived)
  }

  /** The text points' corpus with its (docs, tokens) counts. */
  private def textCorpus(spark: SparkSession,
      a: Map[String, String]): (DataFrame, Long, Long) = {
    require(a("sf").nonEmpty, "sf=<testdata dir> is required")
    val corpus = quoteWebCorpus(spark, a("sf"), a("nDerived").toInt)
      .localCheckpoint()
    val stats = corpus.agg(count(lit(1)),
      sum(size(split(col("text"), " ")))).collect()(0)
    (corpus, stats.getLong(0), stats.getLong(1))
  }

  private val textParams = Seq("sf" -> "", "nDerived" -> "15000")

  /** The reference protocol: MRDF wall per vector count, each count a
    * prefix of one corpus. `mode` = "" runs the test parameters;
    * "default" the paper's (k=30, ρ=15, α=150000) and adds recall vs
    * exact truth; ":alpha=N" caps the block size (on one machine the
    * paper α leaves every N < α in one serial block); ":driverBytes=N"
    * caps the driver payload: below N·(4d+32) the per-level arms divide
    * instead of the local arm, and below a level's sample the
    * distributed centroid arm runs. */
  private def mrdfPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val counts = a("counts").split(",").map(_.trim.toInt).toSeq
    val mode = a("mode")
    val useDefaults = mode.startsWith("default")
    val params = {
      val base = if (useDefaults) Mrdf.Params() else mrdf.MrdfQueries.testParams
      val withAlpha = "alpha=(\\d+)".r.findFirstMatchIn(mode)
        .map(m => base.copy(alpha = m.group(1).toInt))
        .getOrElse(base)
      "driverBytes=(\\d+)".r.findFirstMatchIn(mode)
        .map(m => withAlpha.copy(driverSampleBytes = m.group(1).toLong))
        .getOrElse(withAlpha)
    }
    val src = a("source")
    // fvecs ids are ordinal, so a pushed-down filter selects the
    // prefix without a global sort
    val ordinalIds = src.isEmpty || src.endsWith(".fvecs")
    val all =
      if (src.isEmpty) pinnedCorpus(spark, counts.max.toLong, 1000)
      else if (ordinalIds) io.Fvecs.readAuto(spark, src).toDF("vec_id", "embedding")
      else Tables.load(spark, src, "embeddings")
    val runs = counts.map { n =>
      val vecs =
        if (ordinalIds) all.filter(col("vec_id") < n)
        else all.orderBy(col("vec_id")).limit(n)
      val ((edges, nEdges), sec) = timed {
        val e = Mrdf.buildGraph(vecs, params)
        (e, e.count())
      }
      val recall =
        if (useDefaults) Some(recallVsTruth(vecs, edges, params.k, n)) else None
      // blocking: the last count's release would otherwise race spark.stop()
      Checkpoints.release(edges, blocking = true)
      (n, nEdges, sec, recall)
    }
    Seq("n" -> runs.map(_._1), "edges" -> runs.map(_._2),
      "sec" -> runs.map(_._3), "recall" -> runs.map(_._4))
  }

  /** Graph serving: MRDF graph over the pinned mixture, then ~256
    * sampled queries served through flat coverage entries (4096 md5
    * seeds) and through a 1024-list router (entries = each probed
    * list's `seedsPerList` seeds) at nprobe 2 and 3. `sampleMod` > 1
    * trains the router on a 1/sampleMod hash sample; the seed table
    * still assigns the full corpus. */
  private def graphSearchPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val n = a("n").toLong
    val seedsPerList = a("seedsPerList").toInt
    val sampleMod = a("sampleMod").toInt
    val (beam, hops) = (8, 4)
    val vecs = pinnedCorpus(spark, n, 1000).localCheckpoint()
    val ((edges, nEdges), buildSec) = timed {
      val e = Mrdf.buildGraph(vecs, SweepParams)
      (e, e.count())
    }
    val queries = sampledQueries(vecs, n).localCheckpoint()
    val (flat, flatSec) = timed {
      GraphSearch.beamSearch(vecs, edges, queries, k = 10, beam = beam,
        hops = hops, nSeeds = 4096).select(col("qid"), col("nbr")).localCheckpoint()
    }
    // the router and its seed table are index-build artifacts, timed
    // apart from serving
    val t2 = System.nanoTime()
    val trainSet =
      if (sampleMod > 1)
        vecs.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      else vecs
    val cent = Kmeans.centroids(trainSet, Nlist, RouterIters, portable = false)
    val trainSec = (System.nanoTime() - t2) / 1e9
    val cseeds = GraphSearch.clusterSeeds(vecs, cent, seedsPerList)
      .localCheckpoint()
    val routerSec = (System.nanoTime() - t2) / 1e9
    // one untimed warmup pays the routed plan's codegen
    GraphSearch.routedWithCentroids(vecs, edges, queries, cent, cseeds,
      k = 10, beam = beam, hops = hops, nprobe = 2).count()
    val nprobes = Seq(2, 3)
    val routed = nprobes.map { nprobe =>
      val (got, sec) = timed {
        GraphSearch.routedWithCentroids(vecs, edges, queries, cent, cseeds,
          k = 10, beam = beam, hops = hops, nprobe = nprobe)
          .select(col("qid"), col("nbr")).localCheckpoint()
      }
      (sec, recallAt(got, queries, vecs, 10))
    }
    Seq("edges" -> nEdges, "build_sec" -> buildSec,
      "queries" -> queries.count(), "flat_search_sec" -> flatSec,
      "flat_recall" -> recallAt(flat, queries, vecs, 10),
      "router_train_sec" -> trainSec, "router_sec" -> routerSec,
      "nprobe" -> nprobes, "routed_search_sec" -> routed.map(_._1),
      "routed_recall" -> routed.map(_._2))
  }

  /** The persisted graph index through its default build path:
    * [[GraphIndexStore.write]] (sampled portable router, full-corpus
    * seed assignment, parquet write) with per-phase walls, then ~256
    * sampled queries served through [[GraphIndexStore.search]] reading
    * only the index dir. The 1M write wall under the sampled router and
    * the codegen argmin is unmeasured (no SCALING.json row holds it);
    * `runMain graft.Scale graph_index n=1000000` measures it. */
  private def graphIndexPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val n = a("n").toLong
    val vecs = pinnedCorpus(spark, n, 1000).localCheckpoint()
    val ((edges, nEdges), buildSec) = timed {
      val e = Mrdf.buildGraph(vecs, SweepParams)
      (e, e.count())
    }
    ScratchDirs.withTempDir("graft-gidx-scale-") { dir =>
      val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val (_, writeSec) = timed {
        GraphIndexStore.write(vecs, edges, dir, k = 10, nlist = Nlist,
          kmeansIters = RouterIters, seedsPerList = 8,
          onPhase = (p, s) => { phases(p) = s; () })
      }
      Checkpoints.release(edges)
      val meta = IndexManifest.readMeta(spark, dir)
      val queries = sampledQueries(vecs, n).localCheckpoint()
      def serve() = GraphIndexStore.search(spark, dir, queries, k = 10,
        beam = 8, hops = 4, nprobe = 2)
      // untimed warmup pays the serve plan's codegen
      serve().count()
      val (got, serveSec) = timed {
        serve().select(col("qid"), col("nbr")).localCheckpoint()
      }
      Seq("edges" -> nEdges, "build_sec" -> buildSec, "write_sec" -> writeSec,
        "write_phases" -> ListMap(phases.toSeq: _*),
        "train_sample_mod" -> meta.getAs[Int]("train_sample_mod"),
        "train_n" -> meta.getAs[Long]("train_n"),
        "queries" -> queries.count(), "serve_sec" -> serveSec,
        "recall" -> recallAt(got, queries, vecs, 10))
    }
  }

  /** Incremental graph maintenance: MRDF over a base slice, the last
    * `deltaPct`% patched in through [[GraphIndexStore.patchGraphApprox]]
    * with routed entries, against a full rebuild — walls, plus recall
    * of delta rows and base rows for both graphs. */
  private def graphUpsertPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val n = a("n").toLong
    val deltaPct = a("deltaPct").toInt
    val vecs = pinnedCorpus(spark, n, 1000).localCheckpoint()
    val cut = n * (100 - deltaPct) / 100
    val base = vecs.filter(col("vec_id") < cut).localCheckpoint()
    val delta = vecs.filter(col("vec_id") >= cut).localCheckpoint()
    val k = SweepParams.k
    val (baseEdges, baseBuildSec) = timed(Mrdf.buildGraph(base, SweepParams))
    // the router is an index-build artifact, reused by every patch
    val ((cent, cseeds), routerSec) = timed {
      val c = Kmeans.centroids(base, Nlist, RouterIters, portable = false)
      (c, GraphSearch.clusterSeeds(base, c, seedsPerList = 8).localCheckpoint())
    }
    val ((patched, nPatched), patchSec) = timed {
      val p = GraphIndexStore.patchGraphApprox(base, baseEdges, delta,
        k = k, beam = 8, hops = 4, router = Some((cent, cseeds))).localCheckpoint()
      (p, p.count())
    }
    Checkpoints.release(baseEdges)
    val (rebuilt, rebuildSec) = timed(Mrdf.buildGraph(vecs, SweepParams))
    val baseQs = sampledQueries(base, n).localCheckpoint()
    val deltaQs = delta.filter(col("vec_id") % 7 === 0).limit(256).localCheckpoint()
    def recallOf(g: DataFrame, qs: DataFrame) =
      recallAt(g.select(col("id"), col("nbr")), qs, vecs, k)
    val row = Seq("base_build_sec" -> baseBuildSec, "router_sec" -> routerSec,
      "patch_sec" -> patchSec, "rebuild_sec" -> rebuildSec, "edges" -> nPatched,
      "delta_recall_patched" -> recallOf(patched, deltaQs),
      "base_recall_patched" -> recallOf(patched, baseQs),
      "delta_recall_rebuilt" -> recallOf(rebuilt, deltaQs),
      "base_recall_rebuilt" -> recallOf(rebuilt, baseQs))
    Seq(patched, rebuilt).foreach(Checkpoints.release(_))
    row
  }

  /** Recall decay under repeated approximate patches: an `n`-vector
    * base graph and a router trained once on it, then five successive
    * 2% deltas through [[GraphIndexStore.patchGraphApprox]]; after each
    * step, recall of base queries and of all queries against the
    * CURRENT corpus (every new point can displace an old neighbour);
    * finally one rebuild at the final size. */
  private def patchDecayPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val nBase = a("n").toLong
    val (deltaPct, steps) = (2, 5)
    val deltaN = nBase * deltaPct / 100
    val vecs = pinnedCorpus(spark, nBase + steps * deltaN, 1000).localCheckpoint()
    val base = vecs.filter(col("vec_id") < nBase).localCheckpoint()
    val k = SweepParams.k
    val (baseEdges, baseBuildSec) = timed(Mrdf.buildGraph(base, SweepParams))
    val cent = Kmeans.centroids(base, Nlist, RouterIters, portable = false)
    val cseeds = GraphSearch.clusterSeeds(base, cent, seedsPerList = 8)
      .localCheckpoint()
    val baseQs = sampledQueries(base, nBase).localCheckpoint()
    def recallOf(g: DataFrame, qs: DataFrame, corpus: DataFrame) =
      recallAt(g.select(col("id"), col("nbr")), qs, corpus, k)
    val deltas = (1 to steps).map { s =>
      val lo = nBase + (s - 1) * deltaN
      vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + deltaN).localCheckpoint()
    }
    // the corpus after step s: a union of pinned slices, never a copy
    def grown(s: Int) = deltas.take(s).foldLeft(base)(_ unionByName _)
    val perStep = ArrayBuffer.empty[(Long, Long, Double, Double, Double)]
    var t0 = 0L
    val edges = Checkpoints.iterate[Long](baseEdges, steps, start = Some(0L)) {
      (patched, _) =>
        val nEdges = patched.count()
        val patchSec = (System.nanoTime() - t0) / 1e9
        val s = perStep.size + 1
        perStep += ((nBase + s * deltaN, nEdges, patchSec,
          recallOf(patched, baseQs, grown(s)),
          recallOf(patched, sampledQueries(grown(s), nBase), grown(s))))
        nEdges
    } { (edges, _, s) =>
      t0 = System.nanoTime()
      Some(GraphIndexStore.patchGraphApprox(grown(s - 1), edges, deltas(s - 1),
        k = k, beam = 8, hops = 4, router = Some((cent, cseeds))))
    }.state
    Checkpoints.release(baseEdges)
    val (rebuilt, rebuildSec) = timed(Mrdf.buildGraph(grown(steps), SweepParams))
    val allQs = sampledQueries(grown(steps), nBase)
    val row = Seq("base_build_sec" -> baseBuildSec, "corpus" -> perStep.map(_._1).toSeq,
      "edges" -> perStep.map(_._2).toSeq, "patch_sec" -> perStep.map(_._3).toSeq,
      "base_recall" -> perStep.map(_._4).toSeq, "all_recall" -> perStep.map(_._5).toSeq,
      "rebuild_sec" -> rebuildSec,
      "rebuild_base_recall" -> recallOf(rebuilt, baseQs, grown(steps)),
      "rebuild_all_recall" -> recallOf(rebuilt, allQs, grown(steps)))
    (Seq(edges, rebuilt, baseQs, cseeds, base, vecs) ++ deltas)
      .foreach(Checkpoints.release(_))
    row
  }

  /** Streamed ingest into a persisted graph index: an `n`-vector index
    * (MRDF graph, sampled-router default), then three 2% arrival waves
    * through a real streaming query whose `foreachBatch` applies
    * [[GraphIndexStore.ingestBatchApprox]]. Requires one batch per wave
    * and the chained fingerprint to validate the grown corpus; reports
    * per-batch walls and final recall of base and all queries. */
  private def streamGraphIngestPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val nBase = a("n").toLong
    val (deltaPct, waves) = (2, 3)
    val deltaN = nBase * deltaPct / 100
    val vecs = pinnedCorpus(spark, nBase + waves * deltaN, 1000).localCheckpoint()
    val base = vecs.filter(col("vec_id") < nBase).localCheckpoint()
    val (edges, buildSec) = timed(Mrdf.buildGraph(base, SweepParams))
    ScratchDirs.withTempDir("graft-sgi-scale-") { dir =>
      val (_, writeSec) = timed(GraphIndexStore.write(base, edges, dir, k = 10,
        nlist = Nlist, kmeansIters = RouterIters, seedsPerList = 8))
      Checkpoints.release(edges)
      // arrival waves as single-file replay arrivals, one micro-batch each
      val src = Replay.stage(None)(Replay.Arrivals((1 to waves).map { w =>
        val lo = nBase + (w - 1) * deltaN
        vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + deltaN)
      }))
      val batchWalls = ArrayBuffer.empty[Double]
      val (_, streamSec) = timed {
        Replay.run(Replay.read(spark, src), src, Replay.PerBatch((b, _) =>
          if (!b.isEmpty)
            batchWalls += timed(GraphIndexStore.ingestBatchApprox(b.sparkSession, dir, b))._2),
          timeoutMs = 3600000)
      }
      require(batchWalls.size == waves,
        s"expected $waves ingest batches, got ${batchWalls.size}")
      require(GraphIndexStore.isFreshFor(spark, dir, vecs),
        "the batch-chained fingerprint must validate the grown corpus")
      val patched = spark.read.parquet(s"$dir/edges").select(col("id"), col("nbr"))
        .localCheckpoint()
      Seq("build_sec" -> buildSec, "index_write_sec" -> writeSec,
        "delta_rows" -> deltaN, "batch_sec" -> batchWalls.toSeq,
        "stream_sec" -> streamSec,
        "base_recall" -> recallAt(patched, sampledQueries(base, nBase), vecs, 10),
        "all_recall" -> recallAt(patched, sampledQueries(vecs, nBase), vecs, 10))
    }
  }

  /** Batch exact-substring dedup (q213 spans, q214 remove-span text)
    * over the quote-web corpus, with the occurrence cap's effect. */
  private def exactSubstrPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val (corpus, docs, tokens) = textCorpus(spark, a)
    val ((spans, nSpans), spanSec) = timed {
      val s = ExactSubstr.sharedSubstrings(corpus).localCheckpoint()
      (s, s.count())
    }
    val dropped = ExactSubstr.droppedHeavyGrams(corpus).collect()(0)
    val (removed, dedupSec) = timed {
      ExactSubstr.substrDedupTextFrom(corpus, spans)
        .agg(sum(col("n_removed"))).collect()(0).getLong(0)
    }
    Seq("docs" -> docs, "tokens" -> tokens, "spans" -> nSpans,
      "span_sec" -> spanSec, "removed_tokens" -> removed,
      "dedup_sec" -> dedupSec, "dropped_heavy_grams" -> dropped.getLong(0),
      "dropped_max_occ" -> Option(dropped.get(1)))
  }

  /** q222's streamed span rule over the quote-web corpus: the
    * doc_id % 10 = 0 slice is static, the rest arrives in 3 chunked
    * micro-batches; the batch q213 spans crossing the same slices give
    * the comparison wall. */
  private def streamSubstrPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val (corpus, docs, tokens) = textCorpus(spark, a)
    val static = corpus.filter(col("doc_id") % 10 === 0).localCheckpoint()
    val arriving = corpus.filter(col("doc_id") % 10 =!= 0).localCheckpoint()
    // replay-source build timed apart: an ingest artifact
    val (src, srcSec) =
      timed(Replay.stage(None)(StreamSubstr.chunkArrivals(spark, arriving)))
    val (nSpans, streamSec) = timed {
      StreamSubstr.spans(spark, static, src).localCheckpoint().count()
    }
    val (batchSpans, batchSec) = timed {
      ExactSubstr.sharedSubstrings(corpus)
        .filter((col("doc_a") % 10 === 0 && col("doc_b") % 10 =!= 0) ||
          (col("doc_b") % 10 === 0 && col("doc_a") % 10 =!= 0))
        .count()
    }
    Seq("docs" -> docs, "tokens" -> tokens, "static_docs" -> static.count(),
      "arriving_docs" -> arriving.count(), "src_build_sec" -> srcSec,
      "streamed_spans" -> nSpans, "stream_sec" -> streamSec,
      "batch_cross_spans" -> batchSpans, "batch_sec" -> batchSec)
  }

  /** q228's streamed self-dedup over the quote-web corpus: every doc
    * streams in 3 waves and every arriving gram is written to keyed
    * state. The streamed span rows must equal the batch prefix-cap
    * rule's rows in both directions, or the point fails. Reports the
    * state-store footprint per batch. */
  private def streamSelfDedupPoint(spark: SparkSession,
      a: Map[String, String]): Seq[(String, Any)] = {
    val (corpus, docs, tokens) = textCorpus(spark, a)
    val n = ExactSubstr.MinTokens
    val (src, srcSec) =
      timed(Replay.stage(None)(StreamSelfDedup.waveArrivals(spark, corpus)))
    var progress = Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val ((out, nSpans), streamSec) = timed {
      val o = StreamSelfDedup.spans(spark, src,
        onProgress = p => progress = p).localCheckpoint()
      (o, o.count())
    }
    val stateBatches = progress.filter(_.stateOperators.nonEmpty).toSeq.map { p =>
      ListMap("batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "rows_updated" -> p.stateOperators.map(_.numRowsUpdated).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "batch_sec" -> p.batchDuration / 1000.0)
    }
    // batch mirror of the streamed prefix-cap rule (the q228 oracle)
    val ((batchSpans, nBatch), batchSec) = timed {
      val g = SpanDedup.positionalGrams(corpus, n)
        .withColumn("wave", pmod(col("doc_id"), lit(3L)))
      val kept = g.withColumn("prn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("wave"), col("doc_id"), col("p"))))
        .filter(col("prn") <= ExactSubstr.MaxOcc)
        .select(col("g"), col("doc_id").as("doc_a"), col("p").as("pa"),
          col("wave").as("wa"))
      val pr = kept.join(
          g.select(col("g"), col("doc_id").as("doc_b"), col("p").as("pb"),
            col("wave").as("wb")), Seq("g"))
        .filter(col("wb") > col("wa"))
        .select(col("doc_a"), col("doc_b"), (col("pb") - col("pa")).as("d"),
          col("pa"))
      val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("d"))
        .orderBy(col("pa"))
      val b = pr
        .withColumn("brk", when(col("pa") - lag(col("pa"), 1).over(w) === 1, 0)
          .otherwise(1))
        .withColumn("island", sum(col("brk")).over(w))
        .groupBy(col("doc_a"), col("doc_b"), col("d"), col("island"))
        .agg(min(col("pa")).as("a_start"),
          (max(col("pa")) + lit(n - 1)).as("a_end"),
          (max(col("pa")) - min(col("pa")) + lit(n)).as("len_tokens"))
        .select(col("doc_a"), col("a_start"), col("a_end"), col("doc_b"),
          (col("a_start") + col("d")).as("b_start"),
          (col("a_end") + col("d")).as("b_end"), col("len_tokens"))
        .localCheckpoint()
      (b, b.count())
    }
    // row-level equality both ways: a count-preserving drift fails too
    val spanCols = Seq("doc_a", "a_start", "a_end", "doc_b", "b_start",
      "b_end", "len_tokens").map(col)
    val missing = batchSpans.select(spanCols: _*)
      .except(out.select(spanCols: _*)).count()
    val extra = out.select(spanCols: _*)
      .except(batchSpans.select(spanCols: _*)).count()
    require(missing == 0 && extra == 0 && nSpans == nBatch,
      s"streamed self-dedup diverged from the batch prefix-cap rule: " +
        s"$missing batch spans missing from the stream, $extra streamed " +
        s"spans not in batch (counts $nSpans vs $nBatch)")
    Seq("docs" -> docs, "tokens" -> tokens, "src_build_sec" -> srcSec,
      "streamed_spans" -> nSpans, "stream_sec" -> streamSec,
      "batch_spans" -> nBatch, "batch_sec" -> batchSec,
      "missing" -> missing, "extra" -> extra, "state_batches" -> stateBatches)
  }

  val points: Seq[ScalePoint] = Seq(
    ScalePoint("mrdf",
      Seq("source" -> "", "counts" -> "500,1000,2000", "mode" -> ""),
      Seq("n", "edges", "sec", "recall"), mrdfPoint),
    ScalePoint("graph_search",
      Seq("n" -> "200000", "seedsPerList" -> "4", "sampleMod" -> "1"),
      Seq("edges", "build_sec", "queries", "flat_search_sec", "flat_recall",
        "router_train_sec", "router_sec", "nprobe", "routed_search_sec",
        "routed_recall"), graphSearchPoint),
    ScalePoint("graph_index",
      Seq("n" -> "1000000"),
      Seq("edges", "build_sec", "write_sec", "write_phases", "train_sample_mod",
        "train_n", "queries", "serve_sec", "recall"), graphIndexPoint),
    ScalePoint("graph_upsert",
      Seq("n" -> "200000", "deltaPct" -> "5"),
      Seq("base_build_sec", "router_sec", "patch_sec", "rebuild_sec", "edges",
        "delta_recall_patched", "base_recall_patched", "delta_recall_rebuilt",
        "base_recall_rebuilt"), graphUpsertPoint),
    ScalePoint("patch_decay",
      Seq("n" -> "200000"),
      Seq("base_build_sec", "corpus", "edges", "patch_sec", "base_recall",
        "all_recall", "rebuild_sec", "rebuild_base_recall",
        "rebuild_all_recall"), patchDecayPoint),
    ScalePoint("stream_graph_ingest",
      Seq("n" -> "200000"),
      Seq("build_sec", "index_write_sec", "delta_rows", "batch_sec",
        "stream_sec", "base_recall", "all_recall"), streamGraphIngestPoint),
    ScalePoint("exact_substr",
      textParams,
      Seq("docs", "tokens", "spans", "span_sec", "removed_tokens", "dedup_sec",
        "dropped_heavy_grams", "dropped_max_occ"), exactSubstrPoint),
    ScalePoint("stream_substr",
      textParams,
      Seq("docs", "tokens", "static_docs", "arriving_docs", "src_build_sec",
        "streamed_spans", "stream_sec", "batch_cross_spans", "batch_sec"),
      streamSubstrPoint),
    ScalePoint("stream_selfdedup",
      textParams,
      Seq("docs", "tokens", "src_build_sec", "streamed_spans", "stream_sec",
        "batch_spans", "batch_sec", "missing", "extra", "state_batches"),
      streamSelfDedupPoint)
  )

  lazy val byName: Map[String, ScalePoint] = points.map(p => p.name -> p).toMap

  /** The point's arguments from `key=value` strings, defaults filled
    * in; an unknown key is rejected with the point's valid keys. */
  def parseArgs(p: ScalePoint, kvs: Seq[String]): Map[String, String] = {
    val valid = p.params.map(_._1)
    val supplied = kvs.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if valid.contains(k) => k -> v
        case _ => throw new IllegalArgumentException(
          s"unknown argument '$kv' for scale point ${p.name}; " +
            s"valid keys: ${valid.mkString(", ")}")
      }
    }.toMap
    p.params.map { case (k, d) => k -> supplied.getOrElse(k, d) }.toMap
  }

  /** Run `p` and prefix its metrics with the point, commit and args. */
  def run(spark: SparkSession, p: ScalePoint,
      args: Map[String, String]): Seq[(String, Any)] = {
    val metrics = p.run(spark, args)
    require(metrics.map(_._1) == p.keys,
      s"scale point ${p.name} returned keys ${metrics.map(_._1).mkString(",")}, " +
        s"declared ${p.keys.mkString(",")}")
    Seq("point" -> p.name, "git_sha" -> gitSha,
      "args" -> ListMap(p.params.map { case (k, _) => k -> args(k) }: _*)) ++ metrics
  }

  private lazy val gitSha: String =
    try scala.sys.process.Process(Seq("git", "rev-parse", "--short=12", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim
    catch { case _: Exception => "unknown" }

  /** One JSON object from an ordered row; nested maps and sequences
    * render as objects and arrays, `None` as null. */
  def json(row: Seq[(String, Any)]): String = {
    def toJava(v: Any): AnyRef = v match {
      case None | null => null
      case Some(x) => toJava(x)
      case m: scala.collection.Map[_, _] =>
        val out = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
        out
      case s: Iterable[_] =>
        val out = new java.util.ArrayList[AnyRef]()
        s.foreach(x => out.add(toJava(x)))
        out
      case x => x.asInstanceOf[AnyRef]
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(toJava(ListMap(row: _*)))
  }

  def main(args: Array[String]): Unit = {
    val names = points.map(_.name).mkString(", ")
    val p = args.headOption.flatMap(byName.get).getOrElse(
      throw new IllegalArgumentException(
        s"usage: graft.Scale <point> key=value ...; " +
          s"unknown point '${args.headOption.getOrElse("")}', valid points: $names"))
    val a = parseArgs(p, args.toSeq.tail)
    val spark = SessionTuning.session(s"graft-scale-${p.name}")
    try println(json(run(spark, p, a))) finally spark.stop()
  }
}
