package graft.mrdf

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCentroidIdx
import org.apache.spark.sql.types.LongType

import graft.agg.{KeyedVecList, VecSample}
import graft.linalg.Distances

/** Multiway Random Division Forest (Kim & Park, KDD 2023) — distributed
  * approximate KNN-graph construction, Spark-first.
  *
  * Rebuilds the *intended* semantics of `/root/reference/mrdf.py:13-72`
  * (outer loop: divide the vector set into blocks ≤ α via sampled
  * centroids → NN-Descent per block → merge into the global graph →
  * stop when the edge-change ratio ≤ τ), fixing the reference's bugs:
  * B1 (graph keyed by vec[0], mrdf.py:197), B2 (partition-phase guard
  * tested on the wrong RDD, mrdf.py:47 — so the division never ran),
  * B3 (non-uniform reservoir, mrdf.py:116).
  *
  * Spark-native design (SURVEY.md §7 step 6):
  *  - centroid sampling is a deterministic per-path bottom-ρ by
  *    (splitmix64(id + level seed), id) — the [[VecSample]] aggregator:
  *    order-independent, cluster-safe, replacing the reference's
  *    driver-side reservoir;
  *  - nearest-centroid assignment extends each oversized row's path
  *    with the index of its nearest sample, argmin on (d, cidx) with d
  *    the strict-fold Euclidean ([[NearestCentroidIdx.nearest]]);
  *  - the division has three routings of that one algorithm, chosen by
  *    a-priori bounds against `driverSampleBytes` before anything is
  *    collected, and bit-identical in output:
  *     - local arm, when the corpus fits the bound (N·(4d+32) bytes):
  *       the corpus is collected once and each round's whole division
  *       runs on the driver ([[dividePaths]]); the id → block map is a
  *       broadcast variable read by a typed map over the points;
  *     - per-level driver arm: one fused count+sample aggregation job
  *       per level, its sample collected, and the assignment a
  *       `NearestCentroidIdx` codegen map over the driver's centroids
  *       (narrow, no join);
  *     - distributed arm, past the per-level payload bound: the samples
  *       stay in a persisted frame, and the assignment is a join + per-id
  *       `min(struct(d, cidx, …))` hash aggregate;
  *  - block-local NN-Descent runs per block — blocks ≤ α by
  *    construction, so they fit an executor, and all blocks run in
  *    parallel (the reference collected every block to the driver and
  *    looped sequentially, mrdf.py:148-153). On the local arm the driver
  *    knows every block's size and packs the blocks longest first into
  *    min(#blocks, shuffle partitions) tasks; on the level arms they are
  *    `flatMapGroups` groups by path;
  *  - graph merge is union + the per-id `TaggedTopKByWeight` top-k
  *    aggregate; convergence Δ is one count of its `!is_old` rows (the
  *    edges new to the graph), the round's [[graft.Checkpoints.iterate]]
  *    probe (replacing collect+parallelize at mrdf.py:159,192). On the
  *    local arm the rounds run with adaptive execution off, so a round —
  *    descent, merge and Δ count — is one job of four stages.
  *
  * At 100 TB the same plan holds on the level arms: division is
  * O(iterations) aggregations + narrow maps or joins on `path`,
  * NN-Descent is embarrassingly parallel over blocks, and the merge
  * shuffles once per round on `id`.
  *
  * Design note (measured): warm-starting each round's block NN-Descent
  * with the running graph's intra-block edges does NOT accelerate
  * convergence — in-block NN-Descent can only emit in-block edges, so
  * recall growth is governed by which true neighbors each fresh random
  * division co-locates, and pre-seeding only displaces exploration
  * (identical edge-churn ratios, recall 0.977 vs 0.987 cold). The
  * per-round graph union + k-min merge IS the cross-round knowledge
  * transfer, exactly as in the paper.
  */
object Mrdf {

  final case class Params(
      k: Int = 30,
      rho: Int = 15,
      alpha: Int = 150000,
      tau: Double = 0.01,
      seed: Long = 42L,
      maxIter: Int = 10,
      precision: Double = 0.001,
      maxDivideIter: Int = 20,
      // Ceiling on the payload routed through the driver: the whole
      // corpus on the local arm, one level's samples on the per-level
      // arm (see divide's adaptive-routing comment). Non-default only
      // in specs and scale points, to force the level arms at test N.
      driverSampleBytes: Long = 64L << 20)

  /** Per-outer-iteration run telemetry — the Spark-side equivalent of
    * the reference's `write_out_mrdf_details` (`mrdf.py:217-226`:
    * params + per-iteration memory/progress log). On the local arm the
    * block NN-Descent and merge run in the Δ count's job, so their time
    * is in `deltaSec` and `mergeSec` is planning only. */
  final case class IterStat(iter: Int, changedEdges: Long, ratio: Double,
                            seconds: Double, heapUsedMb: Long,
                            divideSec: Double, mergeSec: Double, deltaSec: Double)

  /** Build the approximate KNN edge table (id, nbr, dist) for points
    * (idCol: Long, vecCol: Array[Float]). */
  def buildGraph(points: DataFrame, p: Params,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    buildGraphWithStats(points, p, idCol, vecCol)._1

  /** [[buildGraph]] plus the per-iteration telemetry trail. Stats are
    * also logged via slf4j at INFO, so cluster runs get the reference's
    * run-details log from the driver's standard logging. */
  def buildGraphWithStats(points: DataFrame, p: Params,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): (DataFrame, Seq[IterStat]) = {
    val spark = points.sparkSession
    import spark.implicits._
    val log = org.slf4j.LoggerFactory.getLogger(getClass)

    val pts = points.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .persist()
    // Division resources of the round in flight (the per-level arms'
    // level caches, the local arm's broadcast), released once its merge
    // has materialized (or the round throws).
    var held: () => Unit = () => ()
    def release(): Unit = { val h = held; held = () => (); h() }
    try {
      // ONE startup job: the count and the dimensionality (which feed
      // the a-priori driver-payload bounds) share the aggregation that
      // also materializes the persist.
      val nd = graft.Tuning.withAdaptiveOff(spark) {
        pts.agg(count(lit(1)), coalesce(max(size(col("vec"))), lit(0))).collect()(0)
      }
      val n = nd.getLong(0)
      val dim = nd.getInt(1)
      // The local arm, decided from (n, dim) BEFORE anything is
      // collected. Duplicate ids, which an id → block map cannot route,
      // leave the division to the level arms.
      val corpus = Option.when(n * (4L * dim + 32L) <= p.driverSampleBytes) {
        val c = pts.as[(Long, Array[Float])].collect().sortBy(_._1)
        (c.map(_._1), c.map(_._2))
      }.filter { case (ids, _) => ids.indices.drop(1).forall(i => ids(i - 1) < ids(i)) }
      log.info(s"[mrdf] start n=$n k=${p.k} rho=${p.rho} alpha=${p.alpha} " +
        s"tau=${p.tau} seed=${p.seed} maxIter=${p.maxIter} " +
        s"arm=${if (corpus.isDefined) "local" else "levels"}")

      var t0, t1 = 0L
      val stats = scala.collection.mutable.ArrayBuffer.empty[IterStat]
      val empty = spark.emptyDataset[(Long, Long, Double, Boolean)]
        .toDF("id", "nbr", "dist", "is_old")
      def loop() = graft.Checkpoints.iterate[Double](empty, p.maxIter, start = Some(1.0)) {
        (merged, _) =>
          // The merge carries per-edge provenance (is_old = the (id, nbr)
          // existed in the previous graph), so the convergence Δ is one
          // column scan of the merge output, and that count is the job
          // that runs the round's block NN-Descent + merge + checkpoint.
          val t2 = System.nanoTime()
          val changedEdges = merged.filter(!col("is_old")).count()
          release()
          val t3 = System.nanoTime()
          val ratio = changedEdges.toDouble / (n.toDouble * p.k)
          val rt = Runtime.getRuntime
          val stat = IterStat(stats.size + 1, changedEdges, ratio,
            (t3 - t0) / 1e9, (rt.totalMemory() - rt.freeMemory()) >> 20,
            (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
          stats += stat
          log.info(f"[mrdf] iter=${stat.iter} changed=${stat.changedEdges} " +
            f"ratio=${stat.ratio}%.4f sec=${stat.seconds}%.2f heapMb=${stat.heapUsedMb} " +
            f"divide=${stat.divideSec}%.2f merge+descent=${stat.mergeSec}%.2f " +
            f"delta=${stat.deltaSec}%.2f")
          ratio
      } { (g, ratio, iter) =>
        if (ratio <= p.tau) None
        else {
          t0 = System.nanoTime()
          val fresh = corpus match {
            case Some((ids, vecs)) =>
              val blocks = spark.sparkContext.broadcast(
                Blocks(ids, dividePaths(ids, vecs, p, iter),
                  spark.conf.get("spark.sql.shuffle.partitions").toInt))
              held = () => blocks.destroy()
              packedGraphs(pts, blocks, p, iter)
            case None =>
              val (assigned, levels) = divide(pts, p, iter, dim)
              held = () => levels.foreach(_.unpersist(blocking = false))
              localGraphs(assigned, p, iter)
          }
          t1 = System.nanoTime()
          // round 1 merges into the empty local relation itself, which
          // the optimizer prunes from the merge's union
          val old = if (iter == 1) empty else g
          Some(mergeGraphs(old.select(col("id"), col("nbr"), col("dist")), fresh, p.k))
        }
      }
      // Every size on the local arm is known before its round is
      // planned, so AQE has nothing to add but one job per stage.
      val done = if (corpus.isDefined) graft.Tuning.withAdaptiveOff(spark)(loop()) else loop()
      (done.state.select(col("id"), col("nbr"), col("dist")), stats.toSeq)
    } finally {
      release()
      pts.unpersist()
    }
  }

  /** The level seed of divide level `level` of round `iter`: the rank
    * seed of its bottom-ρ sample. */
  private def levelSeed(p: Params, iter: Int, level: Int): Long =
    p.seed ^ (iter.toLong << 40) ^ (level.toLong << 20)

  /** The NN-Descent seed of the block at `path` in round `iter`. */
  private def blockSeed(p: Params, iter: Int, path: String): Long =
    p.seed ^ (iter.toLong << 32) ^ path.hashCode.toLong

  /** Round `iter`'s division of a driver-held corpus (`ids` ascending):
    * every point's block path, bit-identical to [[divide]]'s. Each level
    * folds the oversized paths' members through the same [[VecSample]]
    * (count and bottom-ρ by (rank, id)), extends each oversized member's
    * path with [[NearestCentroidIdx.nearest]] over its path's sample, and
    * after `maxDivideIter` levels hash-splits the paths still > α with
    * the same `pmod(xxhash64(seed, id), ⌈count/α⌉)` valve. */
  private[mrdf] def dividePaths(ids: Array[Long], vecs: Array[Array[Float]],
      p: Params, iter: Int): Array[String] = {
    val path = Array.fill(ids.length)("")
    var work = ids.indices.toArray
    var level = 0
    var oversized = true
    while (oversized && level < p.maxDivideIter) {
      level += 1
      val sampler = new VecSample(p.rho, levelSeed(p, iter, level))
      val samples = scala.collection.mutable.HashMap.empty[String, KeyedVecList]
      work.foreach { i =>
        samples(path(i)) = sampler.reduce(samples.getOrElse(path(i), sampler.zero), (ids(i), vecs(i)))
      }
      val cents = samples.collect {
        case (k, s) if s.cnt > p.alpha => k -> s.items.map(_.vec).toArray
      }
      oversized = cents.nonEmpty
      work = work.filter(i => cents.contains(path(i)))
      work.foreach { i => path(i) = path(i) + "," + NearestCentroidIdx.nearest(vecs(i), cents(path(i))) }
    }
    if (oversized) {
      val counts = work.groupMapReduce(path(_))(_ => 1L)(_ + _)
      val h0 = XxHash64Function.hash(p.seed, LongType, 42L) // xxhash64's default seed
      work.foreach { i =>
        val c = counts(path(i))
        if (c > p.alpha) path(i) = path(i) + "#" +
          java.lang.Math.floorMod(XxHash64Function.hash(ids(i), LongType, h0),
            math.ceil(c / p.alpha.toDouble).toLong)
      }
    }
    path
  }

  /** A round's division as the executors read it: the corpus ids
    * ascending with each one's block, and each block's path and task. */
  private final case class Blocks(ids: Array[Long], block: Array[Int],
      paths: Array[String], task: Array[Int], tasks: Int) {
    def blockOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) throw new IllegalStateException(
        s"mrdf: id $id is not in the corpus the driver divided")
      block(i)
    }
  }

  private object Blocks {
    /** Number the blocks of `paths` (in first-member order) and pack
      * them longest first, each into the least-loaded of
      * min(#blocks, `width`) tasks. */
    def apply(ids: Array[Long], paths: Array[String], width: Int): Blocks = {
      val names = paths.distinct
      val index = names.zipWithIndex.toMap
      val block = paths.map(index)
      val sizes = new Array[Long](names.length)
      block.foreach(b => sizes(b) += 1)
      val load = new Array[Long](math.max(1, math.min(names.length, width)))
      val task = new Array[Int](names.length)
      names.indices.sortBy(b => (-sizes(b), b)).foreach { b =>
        val t = load.indices.minBy(load(_))
        task(b) = t
        load(t) += sizes(b)
      }
      Blocks(ids, block, names, task, load.length)
    }
  }

  /** The local arm's block NN-Descent: a typed map over `pts` reads each
    * point's block and task from the broadcast division, one shuffle
    * routes every block to its packed task, and each task runs its
    * blocks in turn. */
  private def packedGraphs(pts: DataFrame, blocks: Broadcast[Blocks],
      p: Params, iter: Int): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    pts.as[(Long, Array[Float])]
      .map { case (id, v) =>
        val b = blocks.value.blockOf(id)
        (blocks.value.task(b), b, id, v)
      }
      .repartitionById(blocks.value.tasks, col("_1"))
      .mapPartitions { rows =>
        val members = scala.collection.mutable.LinkedHashMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[NnDescentLocal.Pt]]
        rows.foreach { case (_, b, id, v) =>
          members.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) +=
            NnDescentLocal.Pt(id, v)
        }
        members.iterator.flatMap { case (b, m) =>
          NnDescentLocal.run(m.toArray, p.k,
            seed = blockSeed(p, iter, blocks.value.paths(b)), precision = p.precision)
        }
      }
      .toDF("id", "nbr", "dist")
  }

  /** Partition phase: split every block with > α members into ≤ ρ
    * sub-blocks by nearest sampled centroid, repeatedly, extending the
    * tree path (reference mrdf.py:43-57/75-146 with B2/B3 fixed).
    *
    * Levels are persist()ed, not localCheckpoint()ed: persist keeps
    * lineage, so on a real cluster an executor loss recomputes the
    * lost blocks from the cached parent instead of failing the job
    * (a localCheckpoint is unrecoverable by design), and the level's
    * histogram action doubles as the cache materializer — no separate
    * eager pass. The merge checkpoint in [[buildGraphWithStats]] still
    * truncates lineage once per outer round.
    *
    * Returns the assignment plus the still-persisted level DataFrames
    * backing it — the caller unpersists them once its consumer (the
    * block NN-Descent + merge) has materialized. */
  private[mrdf] def divide(pts: DataFrame, p: Params, iter: Int,
      dim: Int): (DataFrame, Seq[DataFrame]) = {
    val spark = pts.sparkSession
    // Settled slices: a path that drops to ≤ α can never grow again,
    // so its rows LEAVE the loop the level it settles — later levels
    // aggregate and re-shuffle only the still-oversized subset. (The
    // previous form re-ran every settled block through every remaining
    // level's sampling aggregation; on skewed data, where subtrees
    // settle at very different depths, that re-shuffled most of the
    // corpus L times.) Each slice is a filter over its level's
    // persisted frame, so every level stays pinned until the caller's
    // merge materializes — the pinned set is the geometric tail of the
    // division (Σ levels ≈ 2N rows worst-case), returned for release.
    var settled: List[DataFrame] = Nil
    // level 0 rides the already-persisted pts — not re-persisted
    var work = pts.withColumn("path", lit(""))
    var pinned: List[DataFrame] = Nil
    var divideIter = 0
    var anyOversized = true
    // Previous level's oversized-path count — each such path spawns at
    // most ρ children at this level, each retaining ≤ ρ samples, so
    // BEFORE running the level's aggregation the driver can bound the
    // level's total sample payload: prevOversized · ρ² · (4d + 32)
    // bytes. Level 0 has the single root path.
    var prevOversized = 1
    val maxDriverBytes = p.driverSampleBytes
    import spark.implicits._
    while (anyOversized && divideIter < p.maxDivideIter) {
      divideIter += 1
      // ONE aggregation job per level: the fused VecSample computes,
      // per path, the block size AND the deterministic bottom-ρ
      // centroid sample (with vectors) in a single pass — replacing a
      // histogram job plus a sampling pass. Partial aggregation keeps
      // it cluster-shaped: every map task reduces to ≤ ρ sampled rows
      // per path before the shuffle. (The obvious row_number window is
      // a scale trap here — at level 0 `path` is the constant "",
      // Catalyst folds the partition spec away, and WindowExec funnels
      // the ENTIRE level through one task.)
      val sampler = new VecSample(p.rho, levelSeed(p, iter, divideIter))
      val aggPlan = work.select(col("path"), col("id"), col("vec"))
        .as[(String, Long, Array[Float])]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(sampler.toColumn.name("sample"))
      // ADAPTIVE driver routing, decided BEFORE the aggregation runs,
      // from the a-priori payload bound (so the driver transfer is
      // bounded by construction, never by luck):
      //  - small levels (the overwhelmingly common case, and always
      //    level 0): ONE collect brings (path, count, samples) down
      //    and the centroid table broadcasts from local rows — no
      //    extra persist, no separate broadcast-build job;
      //  - past the threshold (the 100 TB extreme: #oversized ≈ N/α ≈
      //    10⁵–10⁶ paths × ρ × d floats = multi-GB): only the per-path
      //    COUNTS are collected (O(#paths × 16 B) — loop control is
      //    inherently driver-side) and the sampled centroid VECTORS
      //    stay distributed in a persisted agg frame.
      // NOTE: ubBytes bounds SERIALIZED sample bytes. collect()
      // materializes JVM objects (tuple + KeyedVecList + boxed Seq +
      // Array[Float] headers) at roughly 2–3× that size, so treat
      // driverSampleBytes as a serialized-size ceiling with ~3× heap
      // amplification — the 64 MiB default puts ≤ ~200 MiB resident on
      // a driver heap that is sized in GiB.
      val ubBytes = prevOversized.toLong * p.rho * p.rho * (4L * dim + 32L)
      val smallLevel = ubBytes <= maxDriverBytes
      // Each arm yields (per-path counts, assignment function). The
      // assignment extends every oversized row's path with the index of
      // its nearest centroid — argmin on (d, cidx), d the shared strict
      // left-fold Euclidean, so both arms produce identical paths.
      val (counts: Array[(String, Long)],
           assign: ((DataFrame, Array[String]) => DataFrame)) =
        if (smallLevel) {
          val stats = aggPlan.collect()
          (stats.map { case (path, s) => (path, s.cnt) },
            (over: DataFrame, oversized: Array[String]) => {
              // Driver-local centroids ⇒ the nearest-centroid argmin is
              // ONE codegen expression over a task-shipped path→
              // centroids map — a NARROW projection, no join, no
              // per-level shuffle, and no Dataset encode/decode. (The
              // broadcast-join + groupBy(id) argmin re-shuffled every
              // oversized row by id at every level — the dominant
              // divide shuffle at scale; a typed-mapPartitions argmin
              // fixed that but paid per-row deserialization that
              // overtook the saved shuffle at 200k+ vectors. The
              // expression is both narrow AND Tungsten-resident.)
              // Assignments are bit-identical to the join form: same
              // strict-fold Euclidean, same (d, cidx) tie-break — see
              // NearestCentroidIdx's scaladoc and the arm-equivalence
              // spec.
              val overSet = oversized.toSet
              val cmap = graft.similarity.Kmeans.centroidMap(stats.collect {
                case (path, s) if overSet(path) => path -> s.items.map(_.vec).toArray
              })
              val cidx = org.apache.spark.sql.graft.VectorExpressions
                .nearestCentroidIdx(cmap, col("vec"), col("path"))
              over.select(col("id"), col("vec"),
                concat(col("path"), lit(","), cidx.cast("string")).as("path"))
            })
        } else {
          val aggDf = aggPlan.toDF("path", "sample").persist()
          pinned ::= aggDf // released by the caller with the level frames
          (aggDf.select(col("path"), col("sample.cnt").as("cnt"))
            .as[(String, Long)].collect(),
            (over: DataFrame, oversized: Array[String]) => {
              // Distributed centroid table: posexplode of the
              // (rank, id)-sorted sample items ⇒ the position is a
              // stable per-path index. Broadcast under the ACCURATE
              // size estimate; past it, a shuffle join on `path` —
              // whose key cardinality is exactly #oversized, i.e.
              // large, hence skew-free, precisely in the regime where
              // broadcast is off. (The one-key shallow levels are
              // always routed through the smallLevel arm above.)
              val rows = aggDf.filter(col("path").isInCollection(oversized.toIndexedSeq))
                .select(col("path"), posexplode(col("sample.items")))
                .select(col("path"), col("pos").as("cidx"), col("col.vec").as("cvec"))
              val estBytes = oversized.length.toLong * p.rho * (4L * dim + 32L)
              val centroids = if (estBytes <= maxDriverBytes) broadcast(rows) else rows
              // Nearest-centroid assignment: join + per-id argmin
              // (reference tree_path_extension, mrdf.py:123-146). The
              // argmin is min(struct(d, cidx, …)) — a hash aggregate
              // that reduces map-side to one row per id before the
              // shuffle; a row_number window would shuffle all N×ρ
              // candidate rows. (d, cidx) is a unique prefix, so the
              // selection is deterministic and equals the map arm's.
              over.join(centroids, Seq("path"))
                .select(col("id"), struct(
                  Distances.euclidean(col("vec"), col("cvec")).as("d"),
                  col("cidx").as("cidx"), col("path").as("path"),
                  col("vec").as("vec")).as("cand"))
                .groupBy(col("id")).agg(min(col("cand")).as("m"))
                .select(col("id"), col("m.vec").as("vec"),
                  concat(col("m.path"), lit(","), col("m.cidx").cast("string")).as("path"))
            })
        }
      val oversized = counts.filter(_._2 > p.alpha).map(_._1)
      prevOversized = oversized.length
      if (oversized.isEmpty) {
        settled ::= work
        anyOversized = false
      } else {
        val isOver = col("path").isInCollection(oversized.toIndexedSeq)
        if (oversized.length < counts.length) settled ::= work.filter(!isOver)
        val over = work.filter(isOver)
        val next = assign(over, oversized).persist()
        pinned ::= next
        work = next
      }
    }
    if (anyOversized) {
      // Safety valve: paths still > α after maxDivideIter would hand
      // flatMapGroups an oversized block (executor-OOM risk). Split the
      // stragglers by id-hash into ⌈count/α⌉ sub-blocks — uniform, so
      // every block is bounded; recall on those blocks degrades to
      // random-partition quality, which later iterations repair. Only
      // the final WORK slice can still be oversized — settled slices
      // are ≤ α by construction and skip the histogram.
      val leftover = work.groupBy(col("path")).count()
        .filter(col("count") > p.alpha)
        .select(col("path"), ceil(col("count") / p.alpha.toDouble).cast("long").as("nsplit"))
      val anyLeft = !leftover.isEmpty
      if (anyLeft) {
        spark.sparkContext.setJobDescription(
          s"[mrdf] hash-splitting paths still > alpha after ${p.maxDivideIter} divide rounds")
        settled ::= work
          .join(broadcast(leftover), Seq("path"), "left_outer")
          .withColumn("path",
            when(col("nsplit").isNull, col("path"))
              .otherwise(concat(col("path"), lit("#"),
                pmod(xxhash64(lit(p.seed), col("id")), col("nsplit")).cast("string"))))
          .drop("nsplit")
      } else {
        settled ::= work
      }
    }
    (settled.reduceLeft(_ unionByName _), pinned)
  }

  /** Block-local NN-Descent, distributed over blocks (one group per
    * tree path; block ≤ α rows by construction). */
  private def localGraphs(assigned: DataFrame, p: Params, iter: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select(col("path"), col("id"), col("vec"))
      .as[(String, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (path, rows) =>
        val block = rows.map(t => NnDescentLocal.Pt(t._2, t._3)).toArray
        NnDescentLocal.run(block, p.k, seed = blockSeed(p, iter, path),
          precision = p.precision)
      }
      .toDF("id", "nbr", "dist")
  }

  /** Per-id k-min merge of the running graph with new block edges
    * (reference graph_update, mrdf.py:155-170, with (w, nbr) tie-break).
    * Uses the typed TaggedTopKByWeight Aggregator so each map task
    * pre-merges to ≤ k edges per id before the shuffle (partial
    * aggregation) — a window top-k would shuffle every candidate edge
    * instead — and so the output carries is_old provenance for the
    * Δ-count (see the loop above). */
  private def mergeGraphs(g: DataFrame, fresh: DataFrame, k: Int): DataFrame =
    graft.agg.TopKByWeight.perIdTagged(g, fresh, k)

  /** G2 output shape (id, sorted [nbr...]) — mrdf.py:199-215. One
    * shared implementation with the brute-force path so the adjacency
    * contract cannot drift between the two graph producers. */
  def asAdjacency(edges: DataFrame): DataFrame =
    graft.knn.BruteForceKnn.asAdjacency(edges)
}
