package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR and
  * emits ONE summary JSON line — also written to bench_out.json so the
  * driver's parser never depends on stdout tail order (sbt epilogue).
  *
  * Contention defense (rounds 5, 8 and 9 all lost time to this — the
  * driver's box co-runs other JVMs and the hypervisor stalls whole
  * windows, inflating wall with no matching process CPU):
  *  - Bench and Verify share an exclusive OS file lock
  *    ([[HarnessLock]]) so they cannot co-run; the wait, if any, is
  *    reported in the output line (`lock_wait_sec`).
  *  - THREE full measurement passes by default, [[Materialized]] reset
  *    between passes — a transient load spike must hit the same query
  *    in EVERY pass to distort it.
  *  - A fixed parallel CPU PROBE (constant work, same JIT'd plan) runs
  *    at every pass boundary and every [[ProbeEvery]] queries: on a
  *    quiet host its wall is a constant, under external load it
  *    inflates exactly like the queries around it.
  *  - Adjudication ([[BenchAdjudicator]], round-10 verdict #1): a
  *    measurement is CLEAN iff (1) both bracketing probes are within
  *    NoiseFactor of the run's best probe AND (2) its process-CPU is
  *    within CpuNoiseFactor of the query's own min cpu across passes —
  *    the second signal sees stalls contained INSIDE a query window,
  *    which brackets cannot. The headline per-query number is the min
  *    over CLEAN measurements when one exists and agrees with the
  *    global min; queries without one are RE-MEASURED individually
  *    (probe → query → probe, up to [[RemeasureRounds]] rounds);
  *    whatever still lacks a publishable clean value is published as
  *    the global min but LISTED in `noise_suspect` — every published
  *    value is provably clean or flagged, by construction
  *    (`published_clean_n` reconciles this in the bench line).
  *  - Per-query process-CPU seconds, per-pass load1 and all probe
  *    times land in bench_detail.json for post-hoc adjudication.
  */
object Bench {

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val ProbeEvery = 15
  private val RemeasureRounds = 2

  /** Publish gate (round-12 verdict #1): a full-suite attempt with
    * fewer than this fraction of queries provably clean is requeued
    * (after a bounded quiet-wait) instead of becoming the round's
    * number. */
  private[graft] val CleanPublishFloor = 0.9

  /** Total full-run attempts (1 + up to 2 requeues). */
  private val MaxAttempts = 3

  /** Suspect-by-history factor: a query at or above this × its
    * previous full-suite published value is re-measured individually
    * and, if still there after adjudication, named in
    * `regressed_vs_prev` (round-12 verdict #2 — the q184 class: a
    * state-store stall shows in wall but in neither noise signal). */
  private[graft] val HistoryFactor = 2.0

  /** Quiet-wait between requeued attempts: poll the CPU probe every
    * [[QuietPollSleepMs]] until it returns to within NoiseFactor of
    * the run's best, up to [[QuietMaxPolls]] polls (~3 min). */
  private val QuietPollSleepMs = 20000L
  private val QuietMaxPolls = 9

  /** WALL-CLOCK DEADLINE (round-13 verdict #1): the publish gate's
    * worst case — MaxAttempts full runs × passes, plus quiet-wait
    * polls, plus per-query re-measures, plus ~2 min of recall gates —
    * exceeded the driver's kill budget on a contended host and
    * BENCH_r13 came back `rc: 124, parsed: null`. Every unit of work
    * (pass, re-measure round, requeue, gate) now starts only if its
    * projected wall fits before this deadline; on deadline the run
    * publishes what it has, `deadline_abort`-flagged, with
    * `last_clean_total` carried — a flagged artifact always beats a
    * killed one. Default 1500 s: r12's successful 3-pass closing run
    * took ~20 min on the contended driver host, so ~25 min survives a
    * full clean run with margin while staying safely under the
    * driver's observed kill budget. */
  private[graft] val DefaultDeadlineSec = 1500.0

  /** Projection safety margin: a pass on a contending host runs longer
    * than its predecessor, so a unit is started only if 1.15× its
    * projection still fits. */
  private[graft] val DeadlineSafety = 1.15

  /** Projected wall of the three untimed recall gates (mrdf_recall +
    * the two pinned 20k corpus builds) — ~140 s measured on a quiet
    * host (bench line `*_wall_sec`), padded for contention. */
  private[graft] val GatesProjectionSec = 240.0

  /** True iff a unit of work with the given projected wall may start.
    * A non-positive projection means "no basis to project" — allowed
    * only while some budget remains at all. */
  private[graft] def deadlineAllows(elapsedSec: Double, deadlineSec: Double,
      projectedSec: Double): Boolean =
    elapsedSec + math.max(0.0, projectedSec) * DeadlineSafety <= deadlineSec

  private def waitForQuiet(spark: SparkSession, cpus: Int,
      bestProbe: Double, bestDisk: Double,
      mayContinue: () => Boolean): Unit = {
    def contended(p: Double, d: Double): Boolean =
      p > bestProbe * BenchAdjudicator.NoiseFactor ||
        (bestDisk > 0 && d > math.max(
          bestDisk * BenchAdjudicator.DiskNoiseFactor,
          BenchAdjudicator.DiskFloorSec))
    var polls = 0
    var p = probe(spark, cpus)
    var d = diskProbe()
    while (contended(p, d) && polls < QuietMaxPolls && mayContinue()) {
      polls += 1
      System.err.println(f"[bench] host still contended (cpu probe $p%.2f s " +
        f"vs best $bestProbe%.2f, disk $d%.3f vs best $bestDisk%.3f) — " +
        s"quiet-wait poll $polls/$QuietMaxPolls")
      Thread.sleep(QuietPollSleepMs)
      p = probe(spark, cpus)
      d = diskProbe()
    }
  }

  /** The most recent CLEAN full-suite run: its headline (carried into
    * a dirty artifact) and its per-query published values (the ≥2×
    * suspect-by-history baseline). */
  private[graft] final case class History(total: Double, n: Int,
      cleanN: Int, queries: Map[String, Double])

  // Artifacts resolve against the working directory (the checkout that
  // runs the bench), so a second checkout never writes into this one.
  private val HistoryPath = "target/bench_history.json"

  /** Load the history file; bootstrap from the repo's last full-line
    * artifact (bench_out.json) when absent — accepting its values as
    * the ≥2× baseline, and its headline only if that run itself was
    * ≥ [[CleanPublishFloor]] clean.
    *
    * SF-matched (round-13 advice): a baseline measured at a different
    * scale factor would flag every query as `regressed_vs_prev` (or
    * mask real regressions) and carry a meaningless `last_clean_total`
    * into a dirty artifact — history whose recorded `sf` differs from
    * the current run's is discarded, and history with NO recorded sf
    * (pre-round-14 shape) is discarded too, since it cannot be
    * verified. Partial (deadline-aborted) and subset (GRAFT_ONLY)
    * artifacts never qualify as a baseline. */
  private[graft] def loadHistory(sfDir: String,
      historyPath: String = HistoryPath,
      fallbackPath: String = "bench_out.json"): Option[History] = {
    def parse(path: String, requireClean: Boolean): Option[History] =
      try {
        val f = new java.io.File(path)
        if (!f.exists()) None
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(f)
          val qn = root.get("queries")
          val sfOk = Option(root.get("sf")).exists(_.asText() == sfDir)
          val wholeRun =
            !Option(root.get("partial")).exists(_.asBoolean()) &&
              !Option(root.get("subset")).exists(_.asBoolean())
          if (qn == null || !qn.isObject || !sfOk || !wholeRun) None
          else {
            val m = scala.collection.mutable.Map.empty[String, Double]
            qn.properties().forEach(e => m(e.getKey) = e.getValue.asDouble())
            val cleanN = Option(root.get("published_clean_n"))
              .orElse(Option(root.get("clean_n"))).map(_.asInt()).getOrElse(0)
            val n = Option(root.get("n")).map(_.asInt()).getOrElse(m.size)
            val h = History(Option(root.get("value"))
              .orElse(Option(root.get("total"))).map(_.asDouble()).getOrElse(-1.0),
              n, cleanN, m.toMap)
            if (requireClean && cleanN < CleanPublishFloor * math.max(1, n)) None
            else Some(h)
          }
        }
      } catch { case _: Throwable => None }
    parse(historyPath, requireClean = false)
      .orElse(parse(fallbackPath, requireClean = true))
  }

  private[graft] def saveHistory(total: Double, n: Int, cleanN: Int,
      pmin: Seq[(String, Double)], sfDir: String,
      historyPath: String = HistoryPath): Unit =
    try {
      val qs = pmin.map { case (k, v) => jq(k) + ":" + fmt(v) }
        .mkString("{", ",", "}")
      val f = new java.io.File(historyPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      Files.writeString(f.toPath,
        s"""{"total":${fmt(total)},"n":$n,"clean_n":$cleanN,""" +
          s""""sf":${jq(sfDir)},"queries":$qs}""")
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] history save failed: ${e.getMessage}")
    }

  /** Queries whose best wall is under this never become noise
    * suspects: their absolute contention error is bounded by their own
    * (sub-second) size, and probing around each would cost more than
    * the measurement it defends. */
  private val SuspectFloorSec = 0.5

  /** Rows per THREAD for the fixed CPU yardstick — wall is constant
    * across cpu counts (~0.4–0.5 s measured), long enough that
    * scheduler/job-launch jitter is small relative. */
  private val ProbeRowsPerThread = 100L << 20

  /** Fixed parallel CPU work, identical plan every call (same codegen
    * after the first): the contention yardstick. */
  private def probe(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, ProbeRowsPerThread * cpus, 1L, cpus)
      .selectExpr("count(if(xxhash64(id) % 1048576 = 0, 1, null)) AS c")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed DISK work — 4 MB written + fsync'd to the same filesystem
    * the state stores commit to, then deleted: the I/O-contention
    * yardstick (round-13). State-store-bound streaming queries stall
    * on storage commits that the CPU probe cannot see (measured: q184
    * /q194 swung 1.5–1.9× between same-code runs, CPU probes flat at
    * 0.6–0.8 s — the round-12 verdict's q184 blind spot). Probed at
    * the same boundaries as the CPU probe; the adjudicator applies the
    * disk brackets ONLY to queries declared `streamingExecuted`. */
  private val DiskProbeBytes = 4 << 20
  private def diskProbe(): Double = {
    val buf = new Array[Byte](64 << 10)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val f = java.io.File.createTempFile("graft-bench-dprobe", ".bin")
    try {
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var written = 0
        while (written < DiskProbeBytes) {
          ch.write(java.nio.ByteBuffer.wrap(buf))
          written += buf.length
        }
        ch.force(true)
      } finally ch.close()
      (System.nanoTime() - t0) / 1e9
    } finally { f.delete(); () }
  }

  /** Queries whose wall is storage-commit-bound — state-store
    * streaming replays AND the persisted-index family (parquet write +
    * fsync + reload inside the timed window; round-13 verdict #6) —
    * the disk-probe signal applies only to these. */
  private lazy val diskSensitive: Set[String] =
    Registry.all.filter(d => d.streamingExecuted || d.diskSensitive)
      .map(_.name).toSet

  /** One measurement — see [[BenchAdjudicator.M]] for the field
    * contract and the clean/suspect/publish rules applied to it. */
  private type Timed = BenchAdjudicator.M
  private def Timed(wall: Double, cpu: Double, pb: Double, pa: Double,
                    db: Double, da: Double): Timed =
    BenchAdjudicator.M(wall, cpu, pb, pa, db, da)

  /** Execute a declared query for timing. `count()` is the cheap
    * default, but Catalyst eliminates work under it that the query
    * DECLARES — a final left-join decoration onto a unique-keyed
    * aggregate is dropped entirely when only the row count is needed
    * (caught round 11: q214's count() optimized to `count(documents)`,
    * timing a bare parquet scan as 0.27 s while Verify ran the real
    * pipeline). When counting eliminates any JOIN from the optimized
    * plan, materialize every output row through `toRdd` instead, so
    * the published number measures the declared work. Final global
    * sorts remain excluded for the count()-measured majority (the
    * presentation ORDER BY exists for the oracle diff, and excluding
    * it keeps per-query numbers comparable with earlier rounds). */
  /** Queries whose count() plan eliminated declared joins this run —
    * measured via full row materialization instead; published in
    * bench_detail so the action switch is visible in the artifact. */
  private val rowMaterialized =
    scala.collection.mutable.LinkedHashSet.empty[String]

  /** True iff counting `df` would let Catalyst eliminate a declared
    * join — the predicate deciding row-materialization; exposed for
    * the spec that pins it against the q214 class. */
  private[graft] def countEliminatesJoins(
      df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joins(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case j: Join => j }.size
    joins(df.groupBy().count().queryExecution.optimizedPlan) <
      joins(df.queryExecution.optimizedPlan)
  }

  private def materialize(name: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    if (countEliminatesJoins(df)) {
      rowMaterialized += name
      df.queryExecution.toRdd.count(); ()
    } else {
      df.groupBy().count().collect(); ()
    }

  private def runOne(spark: SparkSession, sfDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      errors: scala.collection.mutable.LinkedHashMap[String, String])
      : (Double, Double) = {
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    // Failures are recorded, not timed: a broken query must not
    // masquerade as a fast one in the benchmark output.
    var failed = false
    try materialize(name, fn(spark, sfDir))
    catch { case e: Throwable =>
      failed = true
      errors.getOrElseUpdate(name,
        e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
      System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val dc = (osBean.getProcessCpuTime - c0) / 1e9
    // Shared-session hygiene, charged to the gap BETWEEN queries
    // (dt is already computed): release pinned RDD blocks and
    // cached plans *blocking*, so the cleanup storm of a heavy
    // query (e.g. the MRDF build) can't overlap — and tax — the
    // next timed query.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    (if (failed) -1.0 else dt, dc)
  }

  /** One timed pass over the declared queries, CPU + disk probes
    * interleaved every [[ProbeEvery]] queries. Returns per-query
    * measurements plus every (cpu, disk) probe pair observed. */
  private def runPass(spark: SparkSession, sfDir: String, cpus: Int,
      only: Option[Set[String]],
      errors: scala.collection.mutable.LinkedHashMap[String, String])
      : (Seq[(String, Timed)], Seq[(Double, Double)]) = {
    val qs = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .toSeq
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Timed)]
    var before = (probe(spark, cpus), diskProbe())
    probes += before
    qs.grouped(ProbeEvery).foreach { block =>
      val timed = block.map { case (name, fn) =>
        val (w, c) = runOne(spark, sfDir, name, fn, errors)
        (name, w, c)
      }
      val after = (probe(spark, cpus), diskProbe())
      probes += after
      out ++= timed.map { case (n, w, c) =>
        n -> Timed(w, c, before._1, after._1, before._2, after._2)
      }
      before = after
    }
    (out.toSeq, probes.toSeq)
  }

  def main(args: Array[String]): Unit = {
    // Deadline clock starts at main entry: the driver's kill budget
    // covers the whole invocation, so session build + warmup count.
    val mainStart = System.nanoTime()
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .map(_.toDouble).getOrElse(DefaultDeadlineSec)
    def elapsedSec: Double = (System.nanoTime() - mainStart) / 1e9
    def allows(projectedSec: Double): Boolean =
      deadlineAllows(elapsedSec, deadlineSec, projectedSec)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Single pass opt-out for fast local iteration. Default THREE
    // passes (round-9 finding): on this host, full-suite runs hit
    // noisy windows where ONE pass degrades 1.5–1.7× broadly. The
    // probe/re-measure machinery below handles the case three passes
    // cannot: ALL passes landing in a bad window.
    // Round-15 (verdict #2): when a CLEAN same-SF history baseline
    // exists, default to TWO passes — the ≥2× history signal plus the
    // per-query re-measures already cover the bad-window case, the
    // adjudicator mines minima across every window seen, and a third
    // full pass was the unit that pushed r13/r14 past the driver's
    // kill budget (the least valuable work in the plan per the r14
    // verdict). Env override wins either way.
    val passesEnv = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt)
    val nCpus = SessionTuning.cpus
    val spark = SessionTuning.session("graft-bench", nCpus)

    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val loadStart = osBean.getSystemLoadAverage

    // Per-round MRDF recall GATE (round-7 verdict: the recall sweep
    // lives in SCALING.json and regenerates manually, so a recall
    // regression would surface only when someone re-ran it). Evaluate
    // the mrdf_recall VALUE — untimed, after the measured passes but
    // still INSIDE the harness lock (round-8 advice: a post-lock gate
    // could co-run with a concurrent Verify) — and stamp value +
    // verdict into the bench line the driver archives every round. The
    // seeded value is DETERMINISTIC per SF: 0.9872 at sf0.001, 0.8089
    // at sf0.1 (testParams' α is deliberately tiny so the divide phase
    // multi-blocks even at test N — the 0.81 is the blocked-
    // approximation cost the paper-default α=150000 doesn't pay; at
    // defaults the sweep measures 0.95–0.998, SCALING.json). The gate
    // catches COLLAPSE (a broken divide/descent lands ≤ 0.6 —
    // random-partition quality), not SF-dependent approximation.
    // A below-threshold value is recorded in the errors map too
    // (round-8 advice: consumers that check exit status / the failed
    // field, not the gate key, must still see the collapse).
    val recallMin = 0.75
    def evalRecallGate(): Option[(Double, Boolean)] =
      if (only.forall(_.exists("mrdf_recall".startsWith(_)))) {
        try {
          val v = SparkEntry.queries("mrdf_recall")(spark, sfDir).head().getDouble(0)
          if (v < recallMin)
            errors.getOrElseUpdate("mrdf_recall_gate",
              f"recall $v%.4f below gate $recallMin%.2f")
          Some((v, v >= recallMin))
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate("mrdf_recall_gate",
              e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
            Some((-1.0, false))
        }
      } else None

    // Per-round PINNED-corpus recall gates: fixed-seed 20k-vector
    // builds at the sweep's α=12000, so the MULTI-BLOCK recall
    // regression class (divide + merge quality at realistic block
    // counts) surfaces every round instead of only when someone
    // re-runs the `mrdf` scale point by hand. Two corpora, two failure modes:
    //  - MIXTURE (round-9 verdict #4): the representative clustered
    //    regime — measured 0.9794 on round-10 HEAD, gate 0.95;
    //  - UNIFORM (round-10 verdict #6): the adversarial no-structure
    //    regime every locality method degrades on — previously
    //    informational-only in SCALING.json, now pinned against
    //    regression (measured 0.9097 on round-11 HEAD at 20k, gate
    //    0.85; the 200k floor stays documented in uniform_adversarial).
    // Untimed, inside the lock, full-suite runs only (subset runs are
    // for iteration). Measured values are deterministic for the pinned
    // corpus/seed; each result is stamped into both the bench line and
    // SCALING.json (`round_gate_20k` / `round_gate_uniform_20k`).
    def evalPinnedGate(g: PinnedRecallGate): Option[(Double, Double, Boolean)] =
      if (only.isEmpty &&
          sys.env.getOrElse("SPARK_GRAFT_SCALED_RECALL", "1") != "0") {
        try {
          val vecs = g.corpus(spark)
          val params = g.params
          val t0 = System.nanoTime()
          // iterative-build scope (round-15): the 20k pinned build is
          // the same bounded divide/descend/merge loop as the declared
          // test-α builds; recall is partition-count independent (see
          // MrdfQueries), and the untimed gate still draws from the
          // deadline budget, so the latency cut is budget headroom
          val edges = graft.Tuning.withIterativeBuild(spark) {
            mrdf.Mrdf.buildGraph(vecs, params)
          }
          val recall = Scale.recallVsTruth(vecs, edges, params.k, g.vectors)
          val wall = (System.nanoTime() - t0) / 1e9
          Checkpoints.release(edges)
          if (recall < g.min)
            errors.getOrElseUpdate(s"${g.jsonPrefix}_gate",
              f"${g.label} recall $recall%.4f below gate ${g.min}%.2f")
          stampScaling(g, recall, wall, recall >= g.min)
          Some((recall, wall, recall >= g.min))
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(s"${g.jsonPrefix}_gate",
              e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
            Some((-1.0, -1.0, false))
        }
      } else None

    // Previous full-suite published values (the ≥2× suspect-by-history
    // signal — round-12 verdict #2: q184 published a 2.21× regression
    // with clean probes and flat cpu, because a RocksDB state-store
    // wait shows in wall but in neither noise signal) and the most
    // recent CLEAN full-run headline (carried into a dirty artifact so
    // the driver always parses a defensible number).
    val history = loadHistory(sfDir)
    val prevPublished = history.map(_.queries).getOrElse(Map.empty)
    val passes = passesEnv.getOrElse(if (history.isDefined) 2 else 3)

    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    HarnessLock.exclusiveWithWait { lockWait =>
      // Warm the session INSIDE the lock, before timing: first-job costs
      // (executor spin-up, codegen compiler, parquet footer reads)
      // otherwise land on whatever query runs first. The throwaway
      // probe also pays the probe plan's codegen here.
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.load(spark, sfDir, "region").count()
      probe(spark, nCpus)
      diskProbe() // pay first-temp-file costs outside any bracket
      val probes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val passResults = scala.collection.mutable.ArrayBuffer
        .empty[Seq[(String, Timed)]]
      val extra = scala.collection.mutable.ArrayBuffer.empty[(String, Timed)]
      val attemptCleanNs = scala.collection.mutable.ArrayBuffer.empty[Int]

      def minProbe: Double = (probes.map(_._1) ++ extra.iterator.flatMap(t =>
        Seq(t._2.pb, t._2.pa))).min
      def minDisk: Double = {
        val ds = (probes.map(_._2) ++ extra.iterator.flatMap(t =>
          Seq(t._2.db, t._2.da))).filter(_ > 0)
        if (ds.isEmpty) -1.0 else ds.min
      }
      // the disk signal applies only to state-store-bound queries
      def dmin(name: String): Double =
        if (diskSensitive(name)) minDisk else -1.0
      def allByName: Map[String, Seq[Timed]] =
        (passResults.flatten ++ extra).groupBy(_._1)
          .map { case (n, ms) => n -> ms.map(_._2).toSeq }
      // ≥2× the query's previous full-suite published value (and not
      // explained by the adjudicator's own signals) — re-measured
      // individually like a noise suspect, so a state-store stall that
      // both noise signals are blind to still gets its quiet-window
      // chance before publishing (round-12 verdict #2).
      def historySuspect(n: String, ms: Seq[Timed]): Boolean = {
        val walls = ms.filter(_.wall >= 0).map(_.wall)
        walls.nonEmpty && walls.min >= SuspectFloorSec &&
          prevPublished.get(n).exists(p =>
            p > 0 && walls.min >= HistoryFactor * p)
      }
      def remeasureSet: Seq[String] =
        allByName.collect { case (n, ms)
          if BenchAdjudicator.isSuspect(ms, minProbe, SuspectFloorSec, dmin(n)) ||
            historySuspect(n, ms)
          => n
        }.toSeq

      // THE PUBLISH GATE (round-12 verdict #1): a full-suite attempt
      // whose adjudication leaves fewer than CleanPublishFloor of the
      // queries provably clean is NOT the round's number — BENCH_r12
      // published 306.58 s (1.47× r11) from a window the artifact
      // itself proved dirty (150/237 clean, every pass contended).
      // Instead of publishing, wait for the host to go quiet (probe
      // polls, bounded) and REQUEUE the full measurement — up to
      // MaxAttempts total. All measurements accumulate: the
      // adjudicator then mines clean minima across every window seen.
      var attempt = 0
      var done = false
      var deadlineAborted = false
      var lastPassWall = -1.0 // wall of the most recent pass, probes included

      // Round-15 (verdict #2): the recall gates OUTRANK the optional
      // units in the projection plan. Scheduling a third-or-later
      // pass, a re-measure round, or a requeue RESERVES the gates'
      // projected wall; a unit that fits alone but not with the
      // reserve is skipped WITHOUT a deadline abort (recorded below),
      // so the driver's artifact carries the gate fields instead of
      // `gates_skipped` — r13/r14 both shipped without them because
      // lower-value units ate the window first.
      val gatesReserve = if (only.isEmpty) GatesProjectionSec else 0.0
      val skippedForGates = scala.collection.mutable.ArrayBuffer.empty[String]

      // Projection for a pass not yet measured this run: the previous
      // CLEAN run's headline (query walls only) + 25% probe/cleanup
      // overhead. Non-positive = no basis to project; the first-ever
      // pass then runs unconditionally — an empty artifact helps no
      // one, and one pass is the minimum for any number at all.
      def passProjection: Double =
        if (lastPassWall > 0) lastPassWall
        else history.map(_.total * 1.25).getOrElse(-1.0)

      // Adjudicated publish-state snapshot from everything measured SO
      // FAR — the same rules the final artifact uses, recomputed after
      // every pass and re-measure round so a kill at ANY point leaves
      // the latest parseable state in the stdout tail and in
      // bench_out.json (round-13 verdict #1b: the summary line used to
      // print exactly once, at the very end; rc=124 left nothing).
      final case class Pub(order: Seq[String],
          published: Seq[(String, (Double, Boolean))],
          noiseSuspect: Seq[String], regressed: Seq[String], total: Double,
          publishedCleanN: Int, probeMin: Double, probeMax: Double,
          allDisk: Seq[Double], cpuTotal: Double) {
        def pmin: Seq[(String, Double)] =
          published.map { case (n, (v, _)) => n -> v }
        def isClean: Boolean =
          publishedCleanN >= CleanPublishFloor * order.size
      }
      def computePub(): Pub = {
        val remeasured = extra.toSeq
        val allProbes = (probes.map(_._1) ++ remeasured.iterator.flatMap(t =>
          Seq(t._2.pb, t._2.pa))).toSeq
        val allDisk = (probes.map(_._2) ++ remeasured.iterator.flatMap(t =>
          Seq(t._2.db, t._2.da))).filter(_ > 0).toSeq
        val probeMin = allProbes.min
        val byName = allByName
        // headline per query: the adjudicated publish value — min wall
        // over measurements that pass the noise signals (CPU brackets +
        // cpu dispersion, plus disk brackets for state-store queries)
        // when that min agrees with the global min; the global min
        // (flagged below) otherwise; -1 if any pass failed (round-10
        // verdict #1: the previous min-across-everything could publish
        // a probe-dirty value)
        val order = passResults.head.map(_._1)
        val published: Seq[(String, (Double, Boolean))] = order.map { name =>
          name -> BenchAdjudicator.publish(byName(name), probeMin, dmin(name))
        }
        // noise_suspect: queries with NO publishable clean measurement —
        // their headline numbers are unadjudicated bounds (sub-floor
        // queries exempt: absolute error bounded by their own size)
        val noiseSuspect = order.filter { n =>
          BenchAdjudicator.isSuspect(byName(n), probeMin, SuspectFloorSec, dmin(n))
        }
        // still ≥2× their previous published value AFTER the individual
        // re-measures — a real regression or a stall class both noise
        // signals are blind to; named either way (the q184 class)
        val regressed = published.collect {
          case (n, (v, _)) if v > 0 && prevPublished.get(n).exists(p =>
            p > 0 && v >= HistoryFactor * p) => n
        }
        // count of headline values provably from a clean window — with
        // noise_suspect and the sub-floor exemption this reconciles the
        // artifact: published_clean_n + |noise_suspect| + sub-floor +
        // failed = query count
        val publishedCleanN = published.count(_._2._2)
        val cpuTotal = (passResults.flatten ++ remeasured).map(_._2.cpu).sum
        val total = published.collect { case (_, (v, _)) if v >= 0 => v }.sum
        Pub(order, published, noiseSuspect, regressed, total, publishedCleanN,
          probeMin, allProbes.max, allDisk, cpuTotal)
      }

      def passTotal(r: Seq[(String, Timed)]): Double =
        r.collect { case (_, t) if t.wall >= 0 => t.wall }.sum

      // The full line goes to bench_out.json and stdout for humans;
      // the length-budgeted COMPACT line prints LAST for the driver's
      // ~2000-char stdout tail parser ([[renderCompact]]). Mid-run
      // emissions are marked `partial` (and never qualify as a history
      // baseline); the final emission supersedes them.
      def emit(pub: Pub, partial: Boolean, gateFields: String): Unit = {
        val passTotalsJson =
          passResults.map(r => fmt(passTotal(r))).mkString("[", ",", "]")
        val passLoadsJson = passLoads.map(fmt).mkString("[", ",", "]")
        val attemptFields =
          s""""attempts":$attempt,""" +
            attemptCleanNs.map(_.toString)
              .mkString(""""attempt_clean_n":[""", ",", "],") +
            (if (pub.allDisk.isEmpty) "" else
              s""""disk_probe_min":${fmt3(pub.allDisk.min)},""" +
                s""""disk_probe_max":${fmt3(pub.allDisk.max)},""") +
            (if (pub.regressed.isEmpty) ""
            else s""""regressed_vs_prev_n":${pub.regressed.size},""" +
              pub.regressed.take(12).map(jq)
                .mkString(""""regressed_vs_prev":[""", ",", "],")) +
            (if (partial) s""""partial":true,""" else "") +
            (if (deadlineAborted) s""""deadline_abort":true,""" else "") +
            (if (skippedForGates.isEmpty) "" else skippedForGates.map(jq)
              .mkString(""""skipped_for_gates":[""", ",", "],")) +
            (if (only.nonEmpty) s""""subset":true,""" else "") +
            (if (pub.isClean && !deadlineAborted) "" else history.map(h =>
              s""""last_clean_total":${fmt(h.total)},"last_clean_n":${h.n},""")
              .getOrElse(""))
        def env(noiseJson: String) = envString(passes, passTotalsJson,
          passLoadsJson, pub.probeMin, pub.probeMax, extra.size,
          pub.publishedCleanN, noiseJson, lockWait, pub.cpuTotal, loadStart,
          osBean.getSystemLoadAverage, attemptFields + gateFields, nCpus.toString)
        val qs = pub.pmin.map { case (k, v) => jq(k) + ":" + fmt(v) }
          .mkString("{", ",", "}")
        // full line only (the compact line is length-budgeted):
        // round-14 verdict #8 — the 8-vs-32-cpu ratio ≈ 1 on the heavy
        // tail is a property of the test scale factor, stated in the
        // artifact so it cannot be misread as a serial regression.
        val scalingNote = s""""latency_floor_note":${jq(
          "at test SF the heavy tail is latency-bound, not compute-bound " +
            "(streaming micro-batch setup + state-store commits, " +
            "persisted-index write+fsync+reload, per-hop job scheduling), " +
            "so low/high-cpu ratios ~1 are expected there; parallel " +
            "scaling is evidenced at 200k-1M rows in SCALING.json")},"""
        val line = fullLine(pub.total, qs,
          env(noiseListJson(pub.noiseSuspect)) + scalingNote,
          errJsonFull(errors.toSeq), sfDir)
        Files.writeString(Paths.get("bench_out.json"), line)
        println(line)
        println(renderCompact(pub.pmin, pub.total, env, errors.toSeq, sfDir,
          pub.noiseSuspect))
        System.out.flush()
      }

      while (!done) {
        attempt += 1
        if (attempt > 1) {
          waitForQuiet(spark, nCpus, probes.map(_._1).min, minDisk,
            () => allows(passProjection))
          Materialized.reset()
        }
        var p = 1
        while (p <= passes && !deadlineAborted) {
          val mustRun = attempt == 1 && p == 1
          val proj = passProjection
          // the first two passes reserve nothing (they are the
          // headline's noise defense); pass 3+ must also leave the
          // gates' budget standing
          val reserve = if (p >= 3) gatesReserve else 0.0
          if (!mustRun && proj > 0 && reserve > 0 && allows(proj) &&
              !allows(proj + reserve)) {
            skippedForGates += s"pass$p"
            System.err.println(f"[bench] gates outrank pass $p: skipping it " +
              f"(elapsed $elapsedSec%.0f s, pass $proj%.0f s + gates " +
              f"$reserve%.0f s > ${deadlineSec}%.0f s)")
            p = passes + 1
          } else if (!mustRun && proj > 0 && !allows(proj)) {
            deadlineAborted = true
            System.err.println(f"[bench] deadline: skipping pass $p of " +
              f"attempt $attempt (elapsed $elapsedSec%.0f s + projected " +
              f"$proj%.0f s > ${deadlineSec}%.0f s)")
          } else {
            passLoads += osBean.getSystemLoadAverage
            if (p > 1 || attempt > 1) Materialized.reset()
            val t0 = System.nanoTime()
            val (r, pr) = runPass(spark, sfDir, nCpus, only, errors)
            lastPassWall = (System.nanoTime() - t0) / 1e9
            probes ++= pr
            passResults += r
            emit(computePub(), partial = true, "")
            p += 1
          }
        }

        // Re-measure queries with no PUBLISHABLE clean measurement in
        // any pass — no measurement passing BOTH noise signals (probe
        // brackets AND cpu dispersion), a clean min that disagrees
        // with the global min ([[BenchAdjudicator]]), or a ≥2×
        // history regression. Individually probed, so one more bad
        // window can't hide a whole block. Materialized reset per
        // round keeps family first-member semantics comparable with
        // the main passes.
        var round = 0
        while (round < RemeasureRounds && remeasureSet.nonEmpty &&
            !deadlineAborted) {
          val names = SparkEntry.queries.keys.toSeq.filter(remeasureSet.toSet)
          // per-suspect cost: its own current best wall + 2 CPU + 2
          // disk probes (~1.2 s at 32 threads)
          val byN = allByName
          val proj = names.map { n =>
            val best = byN.get(n).toSeq.flatten.filter(_.wall >= 0)
              .map(_.wall).minOption.getOrElse(1.0)
            math.max(best, 0.5) + 1.2
          }.sum
          if (allows(proj) && !allows(proj + gatesReserve)) {
            skippedForGates += s"remeasure${round + 1}"
            System.err.println(f"[bench] gates outrank re-measure round " +
              f"${round + 1}: skipping ${names.size} suspects " +
              f"(projected $proj%.0f s + gates $gatesReserve%.0f s)")
            round = RemeasureRounds
          } else if (!allows(proj)) {
            deadlineAborted = true
            System.err.println(f"[bench] deadline: skipping re-measure of " +
              f"${names.size} suspects (projected $proj%.0f s)")
          } else {
            round += 1
            Materialized.reset()
            System.err.println(
              s"[bench] re-measure round $round: ${names.size} suspects")
            names.foreach { name =>
              val pb = probe(spark, nCpus)
              val dpb = diskProbe()
              val (w, c) = runOne(spark, sfDir, name, SparkEntry.queries(name), errors)
              val pa = probe(spark, nCpus)
              val dpa = diskProbe()
              extra += name -> Timed(w, c, pb, pa, dpb, dpa)
            }
            emit(computePub(), partial = true, "")
          }
        }

        val byName = allByName
        val pm = minProbe
        val cleanN = passResults.head.map(_._1)
          .count(n => BenchAdjudicator.publish(byName(n), pm, dmin(n))._2)
        attemptCleanNs += cleanN
        val n = passResults.head.size
        done = only.nonEmpty || attempt >= MaxAttempts ||
          cleanN >= CleanPublishFloor * n || deadlineAborted
        if (!done) {
          // requeue only if a full quiet-wait + re-attempt AND the
          // gates could all fit; a requeue that fits alone but would
          // eat the gates' budget is skipped WITHOUT an abort — the
          // artifact publishes dirty (last_clean_total carried) but
          // complete, gates included (round-15, verdict #2)
          val requeueProj = passes * math.max(lastPassWall, 0.0)
          if (allows(requeueProj) && !allows(requeueProj + gatesReserve)) {
            skippedForGates += s"requeue${attempt + 1}"
            done = true
            System.err.println(f"[bench] gates outrank a requeue: attempt " +
              f"$attempt dirty ($cleanN/$n clean) — publishing flagged")
          } else if (!allows(requeueProj)) {
            deadlineAborted = true
            done = true
            System.err.println(f"[bench] deadline: attempt $attempt dirty " +
              f"but no budget for a requeue — publishing flagged")
          } else System.err.println(
            f"[bench] attempt $attempt dirty ($cleanN/$n clean < " +
              f"${CleanPublishFloor * 100}%.0f%%) — requeueing full run")
        }
      }
      val loadEnd = osBean.getSystemLoadAverage // right after the timed region
      val remeasured = extra.toSeq
      val pub = computePub()
      val probeMin = pub.probeMin

      // A clean COMPLETE full-suite run becomes the next round's
      // history (the ≥2× baseline + the carried headline); a dirty or
      // deadline-aborted one never does — an inflated baseline (fewer
      // passes = upward-biased minima) would mask the very regressions
      // the signal exists to catch.
      if (only.isEmpty && pub.isClean && errors.isEmpty && !deadlineAborted)
        saveHistory(pub.total, pub.order.size, pub.publishedCleanN, pub.pmin,
          sfDir)

      // EMIT BEFORE THE GATES (round-11 verdict #8): the ~2-minute
      // untimed recall gates below can never delay, distort or — if
      // one hangs or kills the JVM — destroy the query artifact the
      // driver parses. The pre-gate lines are a complete artifact; the
      // post-gate re-emission (same line + gate fields + any gate
      // errors) supersedes it as the final stdout tail on success.
      emit(pub, partial = false, "")

      // Untimed per-round gates — still INSIDE the harness lock
      // (round-8 advice: a post-lock gate could co-run with a
      // concurrent Verify). Results stamp SCALING.json as they run.
      // Deadline-aware like every other unit: the three gates cost
      // ~2.5 min on this host; when that cannot fit (or measurement
      // already aborted) they are skipped and the skip is FLAGGED, so
      // an absent gate field reads as "not run", never "passed".
      val gateFields =
        if (deadlineAborted || !allows(GatesProjectionSec))
          s""""gates_skipped":"deadline","""
        else {
          val recallGate = evalRecallGate()
          val scaledGate = evalPinnedGate(PinnedRecallGate.Mixture20k)
          val uniformGate = evalPinnedGate(PinnedRecallGate.Uniform20k)
          recallGate.map { case (v, ok) =>
            recallGateJson(v, recallMin, ok)
          }.getOrElse("") +
            pinnedGateJson(PinnedRecallGate.Mixture20k, scaledGate) +
            pinnedGateJson(PinnedRecallGate.Uniform20k, uniformGate)
        }
      emit(computePub(), partial = false, gateFields)

      // Full per-pass detail (wall + process-CPU + probe brackets per
      // query per pass, plus the re-measure rows) for post-hoc contention
      // adjudication; not parsed by the driver.
      val passLoadsJson = passLoads.map(fmt).mkString("[", ",", "]")
      def detailMap(r: Seq[(String, Timed)]): String =
        r.map { case (k, t) =>
          jq(k) + s""":{"wall":${fmt(t.wall)},"cpu":${fmt(t.cpu)},""" +
            s""""pb":${fmt(t.pb)},"pa":${fmt(t.pa)},""" +
            s""""db":${fmt3(t.db)},"da":${fmt3(t.da)}}"""
        }.mkString("{", ",", "}")
      val detail = (passResults.zipWithIndex.map { case (r, i) =>
        s""""pass${i + 1}":${detailMap(r)}"""
      } :+ s""""remeasure":${detailMap(remeasured)}""")
        .mkString("{",
          ",",
          s""","lock_wait_sec":${fmt(lockWait)},"probe_sec_min":${fmt(probeMin)},""" +
            s""""pass_load1":$passLoadsJson,"load1_start":${fmt(loadStart)},""" +
            s""""load1_end":${fmt(loadEnd)},""" +
            // queries timed via full row materialization because count()
            // eliminated their declared joins (action visible per artifact)
            rowMaterialized.map(jq).mkString(""""row_materialized":[""", ",", "]}"))
      Files.writeString(Paths.get("bench_detail.json"), detail)
    }

    spark.stop()
  }

  /** JSON string literal: backslash, quote and every control char below
    * U+0020 escaped. A raw tab or CR in an oracle's SQL would otherwise
    * make `oracle_sql.json` invalid JSON, and no oracle could be read. */
  private[graft] def jq(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString) + "\""

  /** 2-decimal seconds; Locale.ROOT because a comma-decimal default
    * locale would emit invalid JSON. */
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", v)

  /** 3-decimal seconds (disk probes sit in the tens of milliseconds). */
  private[graft] def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  /** The shared environment fields of both summary lines. */
  private[graft] def envString(passes: Int, passTotalsJson: String,
      passLoadsJson: String, probeMin: Double, probeMax: Double,
      remeasuredN: Int, publishedCleanN: Int, noiseJson: String,
      lockWait: Double, cpuSec: Double, load1Start: Double,
      load1End: Double, gateFields: String, cpus: String): String =
    s""""passes":$passes,"pass_totals":$passTotalsJson,""" +
      s""""pass_load1":$passLoadsJson,""" +
      s""""probe_sec_min":${fmt(probeMin)},"probe_sec_max":${fmt(probeMax)},""" +
      s""""remeasured_n":$remeasuredN,"published_clean_n":$publishedCleanN,""" +
      noiseJson +
      s""""lock_wait_sec":${fmt(lockWait)},"cpu_sec":${fmt(cpuSec)},""" +
      s""""load1_start":${fmt(load1Start)},"load1_end":${fmt(load1End)},""" +
      gateFields +
      s""""cpus":$cpus,"""

  private[graft] def recallGateJson(v: Double, min: Double, ok: Boolean): String = {
    val vv = String.format(java.util.Locale.ROOT, "%.4f", v)
    s""""mrdf_recall_value":$vv,"mrdf_recall_min":$min,""" +
      s""""mrdf_recall_gate":${if (ok) "\"PASS\"" else "\"FAIL\""},"""
  }

  private[graft] def pinnedGateJson(g: PinnedRecallGate,
      r: Option[(Double, Double, Boolean)]): String =
    r.map { case (v, w, ok) =>
      val vv = String.format(java.util.Locale.ROOT, "%.4f", v)
      s""""${g.jsonPrefix}_20k":$vv,"${g.jsonPrefix}_min":${g.min},""" +
        s""""${g.jsonPrefix}_wall_sec":${fmt(w)},""" +
        s""""${g.jsonPrefix}_gate":${if (ok) "\"PASS\"" else "\"FAIL\""},"""
    }.getOrElse("")

  private[graft] def fullLine(total: Double, qs: String, env: String,
      errJson: String, sfDir: String): String =
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$env$errJson"sf":"$sfDir"}"""

  /** Driver tail budget for the compact line, in chars. The driver
    * parses the LAST ~2000 stdout chars; a fixed keep=50 overran it in
    * round 11 (1,849 chars in r10 → >1,999 after the uniform-gate quad
    * and `published_clean_n` landed) and BENCH_r11.parsed came back
    * null — the BENCH_r01–r03 failure class recurring. 1,800 leaves
    * headroom for the trailing newline and any sbt epilogue chars. */
  private[graft] val CompactBudgetChars = 1800
  private val CompactKeepMax = 50

  /** The full `noise_suspect` name list (the bench_out.json / full-line
    * form). */
  private[graft] def noiseListJson(noise: Seq[String]): String =
    if (noise.isEmpty) ""
    else noise.map(jq).mkString(""""noise_suspect":[""", ",", "],")

  /** The full `failed` error map (the bench_out.json / full-line
    * form). */
  private[graft] def errJsonFull(errors: Seq[(String, String)]): String =
    if (errors.isEmpty) ""
    else errors.map { case (k, v) => jq(k) + ":" + jq(v) }
      .mkString(""""failed":{""", ",", "},")

  /** Names shown verbatim when the `failed` map folds — enough to see
    * WHAT broke from the compact line alone; the full messages stay in
    * bench_out.json. */
  private val FailedNamesKeep = 8

  /** The folded `failed` form: a count plus the first few names, no
    * exception text. A mass-failure run (~8+ entries × ~200 chars of
    * message) otherwise pushes the compact line past the budget even
    * at keep=0 with the noise list folded — the round-12 advice's
    * recurrence of the BENCH_r01–r03 null-parse class, precisely in
    * the runs where the driver most needs the artifact. */
  private[graft] def errJsonFolded(errors: Seq[(String, String)]): String =
    if (errors.isEmpty) ""
    else s""""failed_n":${errors.size},""" +
      errors.take(FailedNamesKeep).map(e => jq(e._1))
        .mkString(""""failed_names":[""", ",", "],")

  /** The driver-facing COMPACT summary line: the slowest `keep`
    * queries verbatim plus the remainder folded into `other_sec` /
    * `other_n` — and `keep` AUTO-SHRINKS until the rendered line fits
    * the budget, so adding queries or gate fields can never push the
    * line past the tail window again (round-11 verdict #1). When even
    * keep=0 cannot fit, the big variable-size blocks fold in turn:
    * first the `noise_suspect` name list to `noise_suspect_n` (a
    * dirty-window run can flag 100+ suspects — THAT list blew the
    * budget to ~3 kB in round-12's first closing attempt), then the
    * `failed` error map to `failed_n` + a truncated name list
    * (round-12 advice: ~8+ failures × ~200-char messages overflow on
    * their own). The full forms always stay in bench_out.json /
    * bench_detail.json. Bounds pinned by BenchLineSpec at 300-query /
    * 110-suspect / 20-failure scale. */
  private[graft] def renderCompact(pmin: Seq[(String, Double)], total: Double,
      envOf: String => String, errors: Seq[(String, String)], sfDir: String,
      noise: Seq[String],
      budgetChars: Int = CompactBudgetChars): String = {
    def attempt(noiseJson: String, errJson: String): String = {
      val env = envOf(noiseJson)
      def render(keep: Int): String = {
        val (slow, rest) = pmin.sortBy { case (_, v) => -v }.splitAt(keep)
        val compactQs = slow.map { case (k, v) => jq(k) + ":" + fmt(v) }
          .mkString("{", ",", "}")
        val restSum = rest.collect { case (_, v) if v >= 0 => v }.sum
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$compactQs,""" +
          s""""other_n":${rest.size},"other_sec":${fmt(restSum)},$env$errJson"sf":"$sfDir"}"""
      }
      var keep = math.min(CompactKeepMax, pmin.size)
      var line = render(keep)
      while (line.length > budgetChars && keep > 0) {
        keep -= 1
        line = render(keep)
      }
      line
    }
    val noiseFolded = s""""noise_suspect_n":${noise.size},"""
    val ladder: Seq[(String, String)] =
      Seq((noiseListJson(noise), errJsonFull(errors))) ++
        (if (noise.nonEmpty) Seq((noiseFolded, errJsonFull(errors))) else Nil) ++
        (if (errors.nonEmpty)
          Seq((if (noise.nonEmpty) noiseFolded else "", errJsonFolded(errors)))
        else Nil)
    val lines = ladder.iterator.map { case (n, e) => attempt(n, e) }
    lines.find(_.length <= budgetChars)
      .getOrElse(attempt(
        if (noise.nonEmpty) noiseFolded else "", errJsonFolded(errors)))
  }

  /** One pinned-corpus recall gate: the corpus spec, the MRDF
    * parameters and the gate threshold used by BOTH the per-round
    * evaluation and the SCALING.json stamp (round-10 advice:
    * re-literalizing them in `stampScaling` let the stamp
    * desynchronize from the gate actually applied). */
  private[graft] final case class PinnedRecallGate(
      stampKey: String, jsonPrefix: String, label: String,
      vectors: Int, clusters: Int, min: Double) {
    def params: mrdf.Mrdf.Params = mrdf.Mrdf.Params(alpha = 12000)
    /** The pinned FvecsGen corpus, regenerated on demand and
      * size-checked. */
    def corpus(spark: SparkSession): org.apache.spark.sql.DataFrame =
      Scale.pinnedCorpus(spark, vectors, clusters)
  }

  private[graft] object PinnedRecallGate {
    /** The representative clustered regime (round-9 verdict #4). */
    val Mixture20k: PinnedRecallGate = PinnedRecallGate(
      "round_gate_20k", "scaled_recall", "20k mixture",
      20000, 1000, min = 0.95)
    /** The adversarial no-structure regime (round-10 verdict #6):
      * uniform high-dim noise, every locality method's failure mode —
      * pinned against regression instead of informational-only.
      * Measured 0.9097 on round-11 HEAD at 20k / α=12000. */
    val Uniform20k: PinnedRecallGate = PinnedRecallGate(
      "round_gate_uniform_20k", "uniform_recall", "20k uniform",
      20000, 0, min = 0.85)
  }

  /** Stamp a per-round gate into SCALING.json (at `g.stampKey`),
    * read-modify-write through jackson so the rest of the artifact
    * survives byte-for-byte in content (formatting normalizes). Every
    * parameter in the stamp comes from the gate definition — the
    * values the gate actually ran with. */
  private def stampScaling(g: PinnedRecallGate, recall: Double,
      wallSec: Double, pass: Boolean): Unit = {
    try {
      val f = new java.io.File("SCALING.json")
      if (!f.exists()) return
      val p = g.params
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val n = om.createObjectNode()
      n.put("what", "per-round multi-block recall gate, stamped by graft.Bench " +
        s"on every full-suite run: MRDF at k=${p.k}/rho=${p.rho}/alpha=${p.alpha} " +
        s"over the pinned FvecsGen ${g.label} corpus (${g.vectors} x " +
        s"${Scale.PinnedDim}-dim, seed ${Scale.PinnedSeed}, " +
        (if (g.clusters > 0) s"${g.clusters} clusters" else "uniform noise") +
        "), recall vs 256 sampled exact queries (fused TopKJoin)")
      n.put("vectors", g.vectors)
      n.put("dim", Scale.PinnedDim)
      n.put("seed", Scale.PinnedSeed)
      n.put("clusters", g.clusters)
      n.put("alpha", p.alpha)
      n.put("recall", math.rint(recall * 10000) / 10000)
      n.put("wall_sec", math.rint(wallSec * 100) / 100)
      n.put("gate_min", g.min)
      n.put("gate", if (pass) "PASS" else "FAIL")
      root.set(g.stampKey, n)
      om.writerWithDefaultPrettyPrinter().writeValue(f, root)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] SCALING.json stamp failed: ${e.getMessage}")
    }
  }
}
