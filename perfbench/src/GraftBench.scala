package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Declared, HarnessLock, Materialized, Registry, SessionTuning}
import graft.io.{Fvecs, FvecsGen, GraphText}
import graft.knn.{BruteForceKnn, Recall}
import graft.mrdf.Mrdf

/** Closed-loop benchmark runner: one client in one `local[n]` JVM, each
  * call starting when the previous one returns. It only calls public
  * graft functions and reads Spark's public listeners; aggregation and
  * the output checks against DuckDB live in `run.py`, which reads the
  * JSON detail file this runner writes.
  *
  * Phases of a run: set-up (session + inputs + one warm-up call),
  * repeated [[SetupReps]] times; one untimed warm-up unit; then whole
  * units until `--seconds` have passed. A unit is one pass over the
  * workload's query list, or one graph build. With `--trace 1` the
  * first half of the window runs with no listener attached and the
  * second half traced, so the tracing overhead is their difference. */
object GraftBench {

  val SetupReps = 3

  /** A call's outcome; `data` is the collected result of a query call
    * and null for the graph pipeline's calls. `ordered` results are
    * compared row by row (an oracled query's ORDER BY is part of its
    * contract); the others as a multiset of rows. */
  final case class Result(rows: Long, schema: StructType, data: Array[Row],
      ordered: Boolean = false) {
    def hash: String = contentHash(schema, data, ordered)
  }
  final case class Call(name: String, module: String, run: SparkSession => Result)
  final case class CallRec(unit: Int, name: String, module: String,
      t0: Long, t1: Long, wall: Double, error: Option[String], hash: String,
      rows: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val lockPath = Paths.get("/tmp/graft_harness.lock")
    // Take the shared harness lock only when it exists: the benchmark
    // writes nothing outside its own checkout.
    if (Files.exists(lockPath))
      HarnessLock.exclusiveWithWait(w => run(opt, workload, seed, seconds, trace, work, cpus, w))
    else run(opt, workload, seed, seconds, trace, work, cpus, 0.0)
  }

  private def session(work: String, cpus: Int): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Content hash of a result: schema, plus every row rendered with its
    * columns sorted by name, in result order or sorted. */
  def contentHash(schema: StructType, rows: Array[Row], ordered: Boolean): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def render(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case a: Array[_] => a.map(render).mkString("[", ",", "]")
      case d: Double if d.isNaN => "NaN"
      case x => x.toString
    }
    val rendered = rows.map(r => order.map(i => render(r.get(i))).mkString("|"))
    val lines = if (ordered) rendered else rendered.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(i => schema(i).name + ":" + schema(i).dataType.simpleString)
      .mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def collected(df: DataFrame, ordered: Boolean): Result = {
    val rows = df.collect()
    Result(rows.length, df.schema, rows, ordered)
  }

  /** Module of a declared query: the package of the object whose
    * lambda implements `run` (`graft.<module>.X`); top-level objects
    * (SqlApi) form the `sql` module. */
  def moduleOf(d: Declared): String = {
    val rest = d.run.getClass.getName.stripPrefix("graft.")
    if (rest.takeWhile(_ != '$').contains('.')) rest.takeWhile(_ != '.') else "sql"
  }

  // ---------------------------------------------------------------- workloads

  trait Workload {
    /** Per-session input preparation (part of set-up). */
    def prepare(spark: SparkSession): Unit
    /** The single warm-up call of each set-up repetition. */
    def warmCall: Call
    /** One unit: the calls of one pass / one build, in order. */
    def unit: Seq[Call]
    def beforeUnit(): Unit = ()
    /** Release cached data after every call; otherwise before each unit,
      * so the last unit's output stays readable for [[afterRun]]. */
    def hygienePerCall: Boolean = true
    /** Untimed work after each unit and after the timed window. */
    def afterUnit(spark: SparkSession, measured: Boolean): Unit = ()
    def afterRun(spark: SparkSession): Unit = ()
    def details: Map[String, Any] = Map.empty
  }

  /** The query list's first entry is the set-up's warm-up call; every
    * pass runs the whole list in a seed-permuted order. */
  final class QueryWorkload(names: Seq[String], dataDir: String, seed: Long)
      extends Workload {
    val declared: Seq[Declared] = names.map(Registry.byName)
    private def call(d: Declared) =
      Call(d.name, moduleOf(d), s => collected(d.run(s, dataDir), d.oracle.isDefined))
    def prepare(spark: SparkSession): Unit = ()
    def warmCall: Call = call(declared.head)
    def unit: Seq[Call] = new scala.util.Random(seed).shuffle(declared).map(call)
    override def beforeUnit(): Unit = Materialized.reset()
  }

  final class GraphWorkload(work: String, n: Int, params: Mrdf.Params,
      samples: Int) extends Workload {
    val corpus = s"$work/corpus/mix${n}_seed${params.seed}.fvecs"
    val graphOut = s"$work/graph-out"
    private var vecs: DataFrame = _
    private var edges: DataFrame = _
    private var wrote = false
    val iterStats = ArrayBuffer.empty[Seq[Mrdf.IterStat]]
    val edgeHashes = ArrayBuffer.empty[String]
    private var recall = Map.empty[String, Any]
    override def hygienePerCall: Boolean = false

    def prepare(spark: SparkSession): Unit = {
      Files.createDirectories(Paths.get(corpus).getParent)
      FvecsGen.write(corpus, n, 64, params.seed, 1000)
    }
    private def small(spark: SparkSession): Result = {
      val v = Fvecs.readAuto(spark, corpus).toDF("vec_id", "embedding")
        .filter(col("vec_id") < n / 8)
      val (g, _) = Mrdf.buildGraphWithStats(v,
        params.copy(alpha = math.max(params.k * 4, n / 10), maxIter = 1))
      Result(g.count(), g.schema, null)
    }
    def warmCall: Call = Call("warmup.mrdf", "mrdf", small)
    override def beforeUnit(): Unit = { edges = null; wrote = false }
    def unit: Seq[Call] = Seq(
      Call("io.read", "io", { spark =>
        vecs = Fvecs.readAuto(spark, corpus).toDF("vec_id", "embedding")
        Result(vecs.count(), vecs.schema, null)
      }),
      Call("mrdf.build", "mrdf", { _ =>
        val (g, st) = Mrdf.buildGraphWithStats(vecs, params)
        edges = g
        iterStats += st
        Result(st.size.toLong, g.schema, null)
      }),
      Call("io.write", "io", { _ =>
        GraphText.write(Mrdf.asAdjacency(edges), graphOut)
        wrote = true
        Result(0L, edges.schema, null)
      }))

    /** Edge-set hash of every measured build. */
    override def afterUnit(spark: SparkSession, measured: Boolean): Unit =
      if (!measured) iterStats.clear()
      else if (wrote) {
        val r = edges.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("nbr")))).collect()(0)
        edgeHashes += s"${r.getLong(0)}:${r.getLong(1)}"
      }

    /** Sampled recall@k of the last build against exact TopKJoin truth. */
    override def afterRun(spark: SparkSession): Unit = if (wrote) {
      val t0 = System.nanoTime()
      val step = math.max(1, n / samples)
      val queries = vecs.filter(col("vec_id") % step === 0)
      val truth = BruteForceKnn.asAdjacency(
        org.apache.spark.sql.graft.TopKJoin.knn(queries, vecs, params.k)).localCheckpoint()
      val truthS = (System.nanoTime() - t0) / 1e9
      recall = Map("knn.truth_s" -> truthS, "recall" ->
        Recall.recall(truth, Mrdf.asAdjacency(edges)).collect()(0).getDouble(0))
    }

    override def details: Map[String, Any] = recall ++ Map(
      "edge_hashes" -> edgeHashes.toSeq, "n" -> n, "alpha" -> params.alpha,
      "k" -> params.k, "rho" -> params.rho, "tau" -> params.tau,
      "corpus_seed" -> params.seed,
      "iter_stats" -> iterStats.toSeq.map(_.map(s => Map(
        "iter" -> s.iter, "ratio" -> s.ratio, "seconds" -> s.seconds,
        "divide_s" -> s.divideSec, "descent_merge_s" -> s.mergeSec,
        "delta_s" -> s.deltaSec))))
  }

  // ---------------------------------------------------------------- run loop

  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def run(opt: Map[String, String], workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: String, cpus: Int,
      lockWait: Double): Unit = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val load0 = os.getSystemLoadAverage
    val wl: Workload = workload match {
      case "graph_build" =>
        new GraphWorkload(work, opt("n").toInt,
          Mrdf.Params(alpha = opt("alpha").toInt, maxIter = opt("rounds").toInt, seed = seed),
          opt("samples").toInt)
      case _ =>
        new QueryWorkload(opt("queries").split(",").toSeq, opt("data"), seed)
    }

    // set-up, repeated: session start + inputs + one warm-up call
    var spark: SparkSession = null
    val setupParts = (1 to SetupReps).map { _ =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(work, cpus)
      val t1 = System.nanoTime()
      wl.prepare(spark)
      val t2 = System.nanoTime()
      wl.warmCall.run(spark)
      val t3 = System.nanoTime()
      hygiene(spark)
      Map("session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9,
        "warm_call_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9)
    }
    val setups = setupParts.map(_("total_s"))

    val recs = ArrayBuffer.empty[CallRec]
    val units = ArrayBuffer.empty[Map[String, Any]]
    val firstResults = scala.collection.mutable.LinkedHashMap.empty[String, Result]
    val tracer = new Tracer

    def runUnit(idx: Int, traced: Boolean, keep: Boolean): Unit = {
      if (!wl.hygienePerCall) hygiene(spark)
      wl.beforeUnit()
      val m0 = System.currentTimeMillis()
      val cpu0 = os.getProcessCpuTime
      val mine = wl.unit.map { c =>
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val (res, err) =
          try (c.run(spark), None)
          catch { case e: Throwable =>
            (null, Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)))
          }
        val wall = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        // outside the timed window: hash, keep, release
        val hash = if (res == null || res.data == null) "" else res.hash
        if (keep && res != null && res.data != null) firstResults.getOrElseUpdate(c.name, res)
        if (wl.hygienePerCall) hygiene(spark)
        System.err.println(f"[perfbench] unit=$idx%d ${c.name} $wall%.3f s ${err.getOrElse("")}")
        CallRec(idx, c.name, c.module, t0, t1, wall, err, hash,
          if (res == null) -1L else res.rows)
      }
      val wall = mine.map(_.wall).sum
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val u1 = System.currentTimeMillis()
      wl.afterUnit(spark, keep)
      recs ++= mine
      if (!keep) return
      val heap = heapAfterGcMb()
      units += Map("index" -> idx, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "heap_after_gc_mb" -> heap, "t0" -> m0, "t1" -> u1)
    }

    runUnit(-1, traced = false, keep = false)
    recs.clear()

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var idx = 0
    val untracedUntil = if (trace) seconds / 2 else seconds
    while (idx == 0 || elapsed < untracedUntil) { runUnit(idx, traced = false, keep = true); idx += 1 }
    if (trace) {
      tracer.attach(spark)
      val tracedFrom = idx
      while (idx == tracedFrom || elapsed < seconds) { runUnit(idx, traced = true, keep = true); idx += 1 }
      tracer.quiesce()
      tracer.detach(spark)
    }
    val measuredS = elapsed
    wl.afterRun(spark)

    // per-call engine layers and spans (unit > call > job) of the traced units
    val tracedUnits = units.filter(_("traced") == true)
    val tracedCalls = recs.filter(r => tracedUnits.exists(_("index") == r.unit))
    val layerRows = tracedCalls.map { r =>
      Map("unit" -> r.unit, "name" -> r.name, "module" -> r.module, "wall_s" -> r.wall) ++
        Tracer.attribute(tracer, r.t0, r.t1, r.wall)
    }
    val spans = tracedUnits.map(u => Map("name" -> s"unit.${u("index")}",
      "start" -> u("t0"), "end" -> u("t1"), "parent" -> "")) ++
      tracedCalls.map(r => Map("name" -> s"${r.unit}/${r.name}", "start" -> r.t0,
        "end" -> r.t1, "parent" -> s"unit.${r.unit}")) ++
      tracer.jobs.asScala.toSeq.flatMap { j =>
        tracedCalls.find(r => j.start >= r.t0 && j.start <= r.t1).map(r => Map(
          "name" -> s"job.${j.id}", "start" -> j.start, "end" -> j.end,
          "parent" -> s"${r.unit}/${r.name}"))
      }

    // results of the oracled queries, for the DuckDB comparison in run.py
    val oracles = wl match {
      case q: QueryWorkload => q.declared.flatMap(d => d.oracle.map(d.name -> _)).toMap
      case _ => Map.empty[String, String]
    }
    val verified = opt.get("verified").map(_.split(",").toSet).getOrElse(Set.empty)
    val resultsDir = s"$work/results"
    val pending = firstResults.toSeq.flatMap { case (name, r) =>
      val hash = r.hash
      if (!oracles.contains(name) || verified.contains(s"$name=$hash")) None
      else {
        spark.createDataFrame(r.data.toSeq.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$resultsDir/$name")
        Some(Map("name" -> name, "sql" -> oracles(name), "path" -> s"$resultsDir/$name",
          "hash" -> hash))
      }
    }
    val load1 = os.getSystemLoadAverage
    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load1_start" -> load0, "load1_end" -> load1, "lock_wait_s" -> lockWait,
      "setup_s" -> setups, "setup_parts" -> setupParts, "measured_s" -> measuredS,
      "units" -> units.toSeq,
      "calls" -> recs.toSeq.map(r => Map("unit" -> r.unit, "name" -> r.name,
        "module" -> r.module, "wall_s" -> r.wall, "error" -> r.error.getOrElse(""),
        "hash" -> r.hash, "rows" -> r.rows, "oracle" -> oracles.contains(r.name))),
      "layers" -> layerRows, "spans" -> spans,
      "oracle_pending" -> pending) ++ wl.details
    Files.writeString(Paths.get(opt("out")), Json.write(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the detail file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case o: Option[_] => o.map(write).getOrElse("null")
    case x => str(x.toString)
  }
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
