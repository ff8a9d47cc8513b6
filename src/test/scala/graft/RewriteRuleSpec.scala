package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DistanceComparisonRewrite, EuclideanDistance, SquaredEuclidean}

class RewriteRuleSpec extends SparkSpec {

  private def dist = graft.linalg.Distances.euclidean(col("va"), col("vb"))

  private def pairs = {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(60)
    emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(broadcast(
        emb.select(col("vec_id").as("b"), col("embedding").as("vb"))))
      .filter(col("a") < col("b"))
  }

  /** `pred` rewrites to the sqrt-free squared form, and the rows it
    * keeps are the same before and after the rule. */
  private def rewritesWithIdenticalRows(pred: => Column): Unit = {
    // Dataset#queryExecution memoizes: build a fresh frame per phase so
    // the second one is optimized WITH the installed rule.
    def q = pairs.filter(pred).select(col("a"), col("b"))
    val before = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ DistanceComparisonRewrite
    try {
      val rewrittenQ = q
      val optimized = rewrittenQ.queryExecution.optimizedPlan
      val allExprs = optimized.collect { case n => n.expressions }.flatten
      val rewritten = allExprs.exists(_.exists {
        case _: SquaredEuclidean => true
        case _ => false
      })
      val sqrtLeft = allExprs.exists(_.exists {
        case _: EuclideanDistance => true
        case _ => false
      })
      assert(rewritten && !sqrtLeft,
        s"expected squared_euclidean, no euclidean_distance:\n$optimized")
      val after = rewrittenQ.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before && before.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == DistanceComparisonRewrite)
    }
  }

  test("euclidean<=r rewrites to sqrt-free squared form with identical rows") {
    rewritesWithIdenticalRows(dist <= lit(1.2))
  }

  test("<, > and >= with the distance on the left rewrite with identical rows") {
    rewritesWithIdenticalRows(dist < lit(1.2))
    rewritesWithIdenticalRows(dist > lit(1.2))
    rewritesWithIdenticalRows(dist >= lit(1.2))
  }

  test("a radius on the left of the comparison rewrites with identical rows") {
    rewritesWithIdenticalRows(lit(1.2) < dist)
    rewritesWithIdenticalRows(lit(1.2) <= dist)
    rewritesWithIdenticalRows(lit(1.2) > dist)
    rewritesWithIdenticalRows(lit(1.2) >= dist)
  }

  test("negative radius is left untouched (squaring would invert it)") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ DistanceComparisonRewrite
    try {
      val q = pairs.filter(dist <= lit(-1.0))
      val kept = q.queryExecution.optimizedPlan
        .collect { case n => n.expressions }.flatten.exists(_.exists {
          case _: SquaredEuclidean => true
          case _ => false
        })
      assert(!kept)
      assert(q.count() == 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == DistanceComparisonRewrite)
    }
  }
}
