package org.apache.spark.sql.graft

import java.math.RoundingMode

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.linalg.Distances

/** Fused top-k join — the whole-operator Catalyst extension tier
  * (SURVEY.md §4 named this exact operator as the one case where a
  * custom `SparkStrategy` becomes interesting): exact top-k against a
  * broadcastable side WITHOUT materializing the N·M pair stream.
  *
  * The compositional forms (`BruteForceKnn.knnGraph`,
  * `ContrastiveMining.hardNegatives`, `SimilarityQueries.cosineTopK`)
  * are a broadcast nested-loop join producing one row per candidate
  * pair, followed by the TopKByWeight partial aggregation — correct
  * and scalable, but every candidate pair exists as a row between the
  * two operators. This node fuses the loop and the heap: each probe
  * row scans the broadcast side and keeps its k best in a
  * primitive-array buffer; only N·k rows are ever produced.
  *
  * Generalized over the three shapes the query suite actually uses
  * (round-4 verdict #5):
  *  - metric: euclidean (asc, `Distances.euclideanLocalBounded` with
  *    its partial-sum early exit) or cosine (desc,
  *    `Distances.cosineSimilarityLocal`) — the folds the
  *    `EuclideanDistance` and `CosineSimilarity` expressions run, so
  *    scores are bit-identical to theirs;
  *  - exclusion: self-pair (build id ≠ probe id) or label-mismatch
  *    (build label ≠ probe label — hard-negative mining);
  *  - optional 1-based rank column (the ranked-list output shape of
  *    the similarity family).
  * Scores are rounded to 6 dp BEFORE ranking (ties by nbr asc) —
  * identical `BigDecimal` HALF_UP semantics to Spark's `round` — so
  * each output is row-identical to its compositional twin, which the
  * equivalence specs assert.
  *
  * Wiring: [[TopKJoinPlan]] (logical) is planned by
  * [[TopKJoinStrategy]] into [[TopKJoinExec]] (physical); the
  * strategy installs via `spark.experimental.extraStrategies` (the
  * public per-session injection point; `GraftExtensions` injects it
  * too for extension-built sessions).
  *
  * Scale shape: identical to the compositional forms — the probe side
  * streams partition-local (never shuffled), the build side must fit
  * in one broadcast. For two huge sides, divide first (MRDF / IVF) —
  * this node is the per-block / oracle-baseline engine. */
case class TopKJoinPlan(left: LogicalPlan, right: LogicalPlan, k: Int,
    cosine: Boolean, labelExclude: Boolean, emitRank: Boolean,
    // output lives in the CONSTRUCTOR so tree copies (withNewChildren
    // during analysis/optimization) preserve the exprIds parents have
    // already bound to — a `val` would mint fresh ids on every copy
    override val output: Seq[Attribute])
    extends BinaryNode {
  // this node PRODUCES its output (it is not projected from children) —
  // without this CheckAnalysis reports the attrs missing from input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // ...and it CONSUMES every child column by position inside doExecute,
  // invisibly to Catalyst: without declaring the references,
  // ColumnPruning inserts empty Projects over the children and the
  // positional reads walk off the rows (JVM-level crash, found by the
  // count() plan — collect() didn't trigger the pruning)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): TopKJoinPlan =
    copy(left = newLeft, right = newRight)
}

object TopKJoinPlan {
  /** (id, nbr, dist) for the distance modes, (qid, nbr, sim, rn) for
    * the ranked similarity mode. */
  def freshOutput(cosine: Boolean, emitRank: Boolean): Seq[Attribute] = {
    val idName = if (cosine) "qid" else "id"
    val scoreName = if (cosine) "sim" else "dist"
    val base = Seq(
      AttributeReference(idName, LongType, nullable = false)(),
      AttributeReference("nbr", LongType, nullable = false)(),
      AttributeReference(scoreName, DoubleType, nullable = false)())
    if (emitRank) base :+ AttributeReference("rn", IntegerType, nullable = false)()
    else base
  }
}

object TopKJoinStrategy extends SparkStrategy {

  /** Planning-time build-side ceiling (bytes). The exec broadcasts its
    * build side unconditionally — correct for the query-vs-corpus
    * shapes it serves, but nothing in the TYPE stops a caller handing
    * it a corpus-sized build. This guard fails FAST at planning with an
    * actionable message instead of letting the driver attempt a
    * multi-GB broadcast (a "fallback to the compositional plan" would
    * not help: the compositional twins broadcast the same side, so past
    * this size the right answer is a divided algorithm — MRDF / IVF —
    * not a bigger hammer). Default matches Spark's own 8 GiB broadcast
    * hard limit; override via `spark.graft.topKJoin.maxBuildBytes`. */
  val MaxBuildBytesKey = "spark.graft.topKJoin.maxBuildBytes"
  private val DefaultMaxBuildBytes = 8L << 30

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ TopKJoinPlan(l, r, k, cos, lbl, rank, _) =>
      val maxBytes = org.apache.spark.sql.internal.SQLConf.get
        .getConfString(MaxBuildBytesKey, DefaultMaxBuildBytes.toString).toLong
      val est = r.stats.sizeInBytes
      // Catalyst reports defaultSizeInBytes (≈ Long.MaxValue) for
      // stats-less subtrees — "unknown", not "huge"; only reject on a
      // REAL estimate, and let Spark's accounted BroadcastExchange
      // backstop the unknown case at execution.
      if (est < BigInt(Long.MaxValue) / 4 && est > maxBytes)
        throw new IllegalArgumentException(
          s"TopKJoin build side estimated at $est bytes exceeds " +
            s"$MaxBuildBytesKey=$maxBytes. The fused top-k operator " +
            "broadcasts its build side; for a corpus-sized build, divide " +
            "first (Mrdf.buildGraph for KNN graphs, Ann.ivf* for top-k " +
            "search) and use this operator per block.")
      TopKJoinExec(p.output, planLater(l), planLater(r), k, cos, lbl, rank) :: Nil
    case _ => Nil
  }
}

/** Physical fused broadcast top-k. Children contracts (enforced by the
  * [[TopKJoin]] entry points' projections): both sides =
  * (id LONG, vec ARRAY<FLOAT>) plus, when `labelExclude`, a trailing
  * label LONG column. */
case class TopKJoinExec(output: Seq[Attribute],
                        left: SparkPlan, right: SparkPlan, k: Int,
                        cosine: Boolean, labelExclude: Boolean,
                        emitRank: Boolean)
    extends BinaryExecNode {

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): TopKJoinExec =
    copy(left = newLeft, right = newRight)

  // The build side arrives through Spark's own BroadcastExchange
  // (EnsureRequirements inserts it to satisfy this distribution):
  // memory-accounted against the driver's broadcast threshold
  // machinery, reusable across consumers via ReuseExchange, and
  // visible in the plan — not a raw executeCollect + sc.broadcast
  // (round-5 verdict: at a 10⁷-row build side the bare collect kills
  // the driver before a tracked broadcast would have been rejected).
  override def requiredChildDistribution: Seq[physical.Distribution] =
    physical.UnspecifiedDistribution ::
      physical.BroadcastDistribution(physical.IdentityBroadcastMode) :: Nil

  /** Spark's round(x, 6): decimal HALF_UP on the double's shortest
    * decimal representation — byte-identical to the compositional
    * plan's `round(<metric expr>, 6)`. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .doubleValue()

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val cos = cosine
    val byLabel = labelExclude
    val withRank = emitRank
    val bc = right.executeBroadcast[Array[InternalRow]]()

    val outTypes: Array[org.apache.spark.sql.types.DataType] =
      if (withRank) Array(LongType, LongType, DoubleType, IntegerType)
      else Array(LongType, LongType, DoubleType)

    left.execute().mapPartitionsInternal { iter =>
      // Decode the broadcast UnsafeRows into primitive arrays once per
      // partition — O(build) setup amortized over the O(probe·build)
      // scan below (same shape as BroadcastNestedLoopJoin's relation
      // access; the float arrays are what the hot loop reads).
      val buildRows = bc.value
      val m = buildRows.length
      val ids = new Array[Long](m)
      val vecs = new Array[Array[Float]](m)
      val labels = if (byLabel) new Array[Long](m) else null
      var bi = 0
      while (bi < m) {
        ids(bi) = buildRows(bi).getLong(0)
        vecs(bi) = buildRows(bi).getArray(1).toFloatArray()
        if (byLabel) labels(bi) = buildRows(bi).getLong(2)
        bi += 1
      }
      val proj = UnsafeProjection.create(outTypes)
      val outRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(outTypes.length)
      iter.flatMap { row =>
        val id = row.getLong(0)
        val va = row.getArray(1).toFloatArray()
        val la = if (byLabel) row.getLong(2) else 0L
        // primitive top-k buffer sorted by (score, nbr) asc where
        // score = dist (euclidean) or −sim (cosine; negation is an
        // exact involution, so emitted sims round-trip bit-identically)
        val bNbrs = new Array[Long](kLocal)
        val bScore = new Array[Double](kLocal)
        var bn = 0
        var j = 0
        while (j < m) {
          val keep = if (byLabel) labels(j) != la else ids(j) != id
          if (keep) {
            // The metric's Distances fold. The euclidean one exits early
            // against the current k-th distance (NnDescentLocal's
            // pruning argument). That distance is ROUNDED to 6 dp, so a
            // candidate with true dist in (w, w + 0.5e-6] can still
            // round EQUAL and win its nbr tie — the 1e-6 slack keeps
            // every such candidate alive: an exit past (w + 1e-6)² means
            // a rounded dist > w, a safe reject.
            val raw =
              if (cos) Distances.cosineSimilarityLocal(va, vecs(j))
              else Distances.euclideanLocalBounded(va, vecs(j),
                if (bn == kLocal) bScore(kLocal - 1) + 1e-6
                else Double.PositiveInfinity)
            // NaN (a NaN coordinate, a zero-norm cosine side) and ±∞
            // (an infinite coordinate, or the early exit) have no position
            // in the (score, nbr) order, and BigDecimal.valueOf would
            // throw on them: such candidates are excluded — the
            // operator's documented contract (the compositional twin is
            // only claimed row-identical on finite inputs).
            if (java.lang.Double.isFinite(raw)) {
              val score = if (cos) -round6(raw) else round6(raw)
              val nbr = ids(j)
              if (bn < kLocal ||
                score < bScore(bn - 1) ||
                (score == bScore(bn - 1) && nbr < bNbrs(bn - 1))) {
                // insertion point under (score, nbr)
                var p = 0
                while (p < bn && (bScore(p) < score ||
                  (bScore(p) == score && bNbrs(p) < nbr))) p += 1
                val newN = math.min(bn + 1, kLocal)
                var q = newN - 1
                while (q > p) {
                  bNbrs(q) = bNbrs(q - 1); bScore(q) = bScore(q - 1); q -= 1
                }
                if (p < newN) { bNbrs(p) = nbr; bScore(p) = score; bn = newN }
              }
            }
          }
          j += 1
        }
        (0 until bn).iterator.map { e =>
          outRow.update(0, id)
          outRow.update(1, bNbrs(e))
          outRow.update(2, if (cos) -bScore(e) else bScore(e))
          if (withRank) outRow.update(3, e + 1)
          proj(outRow).copy(): InternalRow
        }
      }
    }
  }
}

object TopKJoin {

  /** Install the strategy on `spark` (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(TopKJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKJoinStrategy
  }

  private def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Exact KNN of `probe` against `build` through the fused operator.
    * Output (id, nbr, dist): the k nearest build rows per probe row,
    * self-pairs excluded, dist rounded to 6 dp — `knnGraph`'s exact
    * contract. */
  def knn(probe: DataFrame, build: DataFrame, k: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = probe.sparkSession
    install(spark)
    val l = probe.select(col(idCol).cast("long"), col(vecCol))
      .queryExecution.analyzed
    val r = build.select(col(idCol).cast("long"), col(vecCol))
      .queryExecution.analyzed
    ofRows(spark, TopKJoinPlan(l, r, k, cosine = false, labelExclude = false,
      emitRank = false, TopKJoinPlan.freshOutput(cosine = false, emitRank = false)))
  }

  /** Fused hard-negative mining: the k nearest build rows per probe row
    * carrying a DIFFERENT label. Output (id, nbr, dist) —
    * `ContrastiveMining.hardNegatives`' exact contract. */
  def hardNegatives(vecs: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val spark = vecs.sparkSession
    install(spark)
    val pruned = vecs.select(col(idCol).cast("long"), col(vecCol),
      col(labelCol).cast("long"))
    val l = pruned.queryExecution.analyzed
    val r = pruned.queryExecution.analyzed
    ofRows(spark, TopKJoinPlan(l, r, k, cosine = false, labelExclude = true,
      emitRank = false, TopKJoinPlan.freshOutput(cosine = false, emitRank = false)))
  }

  /** Fused ranked cosine top-k of `probe` against `build`. Output
    * (qid, nbr, sim, rn): sim desc, ties nbr asc, rn 1-based —
    * `SimilarityQueries.cosineTopK`'s exact contract. */
  def cosineTopK(probe: DataFrame, build: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = probe.sparkSession
    install(spark)
    val l = probe.select(col(idCol).cast("long"), col(vecCol))
      .queryExecution.analyzed
    val r = build.select(col(idCol).cast("long"), col(vecCol))
      .queryExecution.analyzed
    ofRows(spark, TopKJoinPlan(l, r, k, cosine = true, labelExclude = false,
      emitRank = true, TopKJoinPlan.freshOutput(cosine = true, emitRank = true)))
  }
}
