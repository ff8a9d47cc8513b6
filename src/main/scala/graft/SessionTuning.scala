package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every graft main and spec, plus the
  * engine-level settings it applies.
  *
  * Codegen-class cache (round-14 optimization, measured): Spark's
  * whole-stage-codegen compiler caches compiled classes in a
  * 100-entry LRU (`spark.sql.codegen.cache.maxEntries`, static conf).
  * This suite runs 243 declared queries — thousands of distinct
  * codegen units per pass — so the default cache thrashes completely
  * and EVERY pass re-pays Janino compilation for EVERY stage. Sizing
  * the cache to cover the suite removes that recompilation:
  * measured at sf0.1/32 cpus, a 21-query relational subset fell
  * 25.5 → 14.5 s published (pass 2: 25.6 → 14.5 s) and a 59-query
  * heavy subset (streaming + index families) 158.5 → 115.1 s, with
  * no code change. Scale-independent: compilation is per-JVM work —
  * a cluster driver AND every executor pay the same thrash when a
  * workload cycles more plan shapes than the cache holds. Env
  * override for constrained heaps; compiled classes are small, so
  * 8192 entries is a few tens of MB. */
object SessionTuning {

  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  def codegenCacheEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")

  /** Default parallelism: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply the shared engine-level settings to a session builder.
    * Static SQL confs (the codegen cache) only take effect when the
    * builder CREATES the JVM's first session — harness mains call this
    * before getOrCreate, which is exactly that moment. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config(CodegenCacheKey, codegenCacheEntries)

  /** The JVM's session: `SPARK_MASTER` when set (a deployment
    * setting), else `local[cpus]`; `cpus` shuffle partitions, UTC,
    * nanosecond parquet timestamps read as longs (see `Tables.load`),
    * no UI, the codegen cache, WARN logging. Returns the existing
    * session when the JVM already has one. */
  def session(app: String, cpus: Int = SessionTuning.cpus): SparkSession = {
    val s = tuned(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    silenceCheckpointWarns()
    s
  }

  /** Silence the localCheckpoint lineage WARN class: `WARN
    * MapPartitionsRDD: ... locally checkpointed` can fill the whole
    * stdout tail that a bench-line parser reads, scrolling out the
    * summary line. The per-logger level survives the root-level
    * `setLogLevel("WARN")`; ERROR keeps real RDD failures visible. */
  private[graft] def silenceCheckpointWarns(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case e: Throwable =>
      System.err.println(s"[session] logger silence failed: ${e.getMessage}")
    }
}
