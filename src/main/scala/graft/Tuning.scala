package graft

import org.apache.spark.sql.SparkSession

/** Session-conf scoping for declared queries whose EAGER phase
  * (iterative loops, streaming replays) runs inside `run()`. */
object Tuning {

  /** Shuffle width for small ITERATIVE build loops (k-means routers,
    * seed tables, MRDF's divide rounds at test α): dozens of sub-MB
    * shuffle rounds where per-task setup dominates — the MrdfQueries
    * precedent, shared so every iterative builder scopes the same way.
    * 4 measured best at sf0.1 (MRDF 4-pass minima: 7.88 s at 4 vs
    * 9.31 s at 8). */
  val IterativeBuildPartitions: Int = 4

  /** Run `f` with each `key -> value` applied to the session conf
    * (`None` unsets the key), then restore every key to its previous
    * value, or unset it if it had none. Only meaningful for work that
    * executes jobs inside the scope: a lazily returned DataFrame plans
    * its shuffles at action time, outside. */
  def withConf[T](spark: SparkSession, settings: (String, Option[String])*)(f: => T): T = {
    def set(key: String, v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => set(k, v) }
    try f finally prev.foreach { case (k, v) => set(k, v) }
  }

  private val AdaptiveKey = "spark.sql.adaptive.enabled"

  /** Run `f` with adaptive execution off: for work whose every shuffle
    * size is known before it is planned, AQE's runtime re-planning only
    * splits each action into one job per shuffle stage. MRDF's local
    * arm ([[graft.mrdf.Mrdf]]) runs its rounds in this scope. */
  def withAdaptiveOff[T](spark: SparkSession)(f: => T): T =
    withConf(spark, AdaptiveKey -> Some("false"))(f)

  /** Scope for a BOUNDED-SIZE iterative build (the declared-query test
    * harness shape: router training on the TrainTargetN sample, MRDF at
    * test α): fixed small shuffle width AND adaptive execution off.
    * An iterative algorithm at test scale runs dozens of sub-MB
    * shuffle rounds; at the harness's 32 partitions each round pays 32
    * task setups for kilobytes of data, and AQE re-plans after every
    * shuffle stage — pure driver latency when each round's data is
    * bounded and sub-MB by construction. The width is scoped at the
    * declared-query layer only: the library's scale path (paper α,
    * full-corpus builds) runs under the cluster's own partition
    * setting. The library scopes adaptive execution off by itself only
    * where it knows every size in advance: MRDF's startup aggregate and
    * the rounds of its local arm (see [[withAdaptiveOff]]). */
  def withIterativeBuild[T](spark: SparkSession)(f: => T): T =
    withConf(spark,
      AdaptiveKey -> Some("false"),
      "spark.sql.shuffle.partitions" -> Some(IterativeBuildPartitions.toString))(f)
}
