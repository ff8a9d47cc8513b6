package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{CosineSimilarity, DistanceComparisonRewrite, DotProduct, EuclideanDistance, SquaredEuclidean, TopKJoinStrategy}

/** SparkSessionExtensions hook — registers graft's custom expressions
  * as SQL functions so `spark.sql("... euclidean_distance(a, b) ...")`
  * works cluster-wide:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => build(children(0), children(1))))
    }
    // Range-search comparisons drop their sqrt (see the rule's boundary
    // caveat — extension sessions opt in; harness sessions stay exact).
    ext.injectOptimizerRule(_ => DistanceComparisonRewrite)
    // Whole-operator tier: the fused broadcast top-k join (TopKJoin).
    ext.injectPlannerStrategy(_ => TopKJoinStrategy)
  }
}

object GraftExtensions {

  /** graft's SQL functions: name, expression class and builder. The
    * one table the extension injects and [[SqlApi.register]] registers
    * on sessions built without it. */
  val functions: Seq[(String, Class[_ <: Expression], (Expression, Expression) => Expression)] =
    Seq(
      ("euclidean_distance", classOf[EuclideanDistance], EuclideanDistance),
      ("squared_euclidean", classOf[SquaredEuclidean], SquaredEuclidean),
      ("dot_product", classOf[DotProduct], DotProduct),
      ("cosine_similarity", classOf[CosineSimilarity], CosineSimilarity))
}
