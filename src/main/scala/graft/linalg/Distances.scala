package graft.linalg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector distance/similarity as Catalyst columns, plus their JVM
  * mirrors for per-partition local algorithms. Every hot path —
  * Euclidean, squared Euclidean, dot, cosine — is a custom codegen
  * expression ([[org.apache.spark.sql.graft.VectorExpressions]]), no
  * UDF, so it stays inside whole-stage codegen; the two fold-form
  * columns ([[dotSql]], [[l2Norm]]) are higher-order `zip_with` /
  * `transform` + `aggregate` expressions.
  *
  * Rebuilds the reference's scalar distance (`utilities.py:11-13`,
  * `np.linalg.norm(u1-u2)`) Spark-first.
  *
  * Determinism contract: every reduction is a strict left-to-right
  * IEEE-754 double fold over the array in storage order. DuckDB's
  * `list_reduce` on the same array folds in the same order, so the
  * oracle's doubles are bit-identical (sqrt is correctly rounded per
  * IEEE-754, so it preserves the guarantee).
  */
object Distances {
  private def dbl(x: Column): Column = x.cast("double")

  /** Strict left fold Σ over a double array; init 0.0 (0.0 + x == x
    * exactly, matching DuckDB list_reduce's first-element init). */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  /** Euclidean distance via the custom codegen Catalyst expression
    * ([[VectorExpressions]]) — ~30× the declarative fold on the KNN
    * pair stream, bit-identical results. */
  def euclidean(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    CB.column(org.apache.spark.sql.graft.EuclideanDistance(
      CB.expression(a), CB.expression(b)))
  }

  /** Squared Euclidean via the codegen expression (sqrt-free — the PQ
    * encode/LUT hot path, where only the argmin matters). */
  def squaredEuclideanCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    CB.column(org.apache.spark.sql.graft.SquaredEuclidean(
      CB.expression(a), CB.expression(b)))
  }

  /** Dot product via the codegen expression (LSH signature hot path). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    CB.column(org.apache.spark.sql.graft.DotProduct(
      CB.expression(a), CB.expression(b)))
  }

  /** Declarative dot (fold form) — reference shape for the oracle. */
  def dotSql(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => dbl(x) * dbl(y)))

  def l2Norm(a: Column): Column =
    sqrt(foldSum(transform(a, x => dbl(x) * dbl(x))))

  /** Cosine similarity via the one-pass codegen expression. */
  def cosineSimilarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    CB.column(org.apache.spark.sql.graft.CosineSimilarity(
      CB.expression(a), CB.expression(b)))
  }

  /** JVM mirror of [[euclidean]] for per-partition local algorithms
    * (MRDF block-local NN-Descent). Same fold order ⇒ same doubles. */
  def euclideanLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** [[euclideanLocal]] with an early-exit bound: returns the EXACT
    * distance when it is ≤ `bound`, or `Double.PositiveInfinity` as
    * soon as the partial squared sum proves dist > bound. Callers that
    * discard candidates above `bound` (k-NN pruning) get identical
    * decisions at a fraction of the flops — the partial-sum exit is
    * sound because squared terms only ever grow the sum. */
  def euclideanLocalBounded(a: Array[Float], b: Array[Float], bound: Double): Double = {
    if (bound.isInfinite) return euclideanLocal(a, b)
    val b2 = bound * bound
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      if (s > b2) return Double.PositiveInfinity
      i += 1
    }
    math.sqrt(s)
  }

  def cosineSimilarityLocal(a: Array[Float], b: Array[Float]): Double = {
    // min-length bound, matching the CosineSimilarity codegen exactly
    // (a.length alone would AIOOBE on a shorter right-hand vector)
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
