package graft.linalg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector distance and similarity: the one home of each metric's fold.
  * The `*Local` functions are the folds over `Array[Float]`; the
  * Catalyst columns (Euclidean, squared Euclidean, dot, cosine) are
  * codegen expressions ([[org.apache.spark.sql.graft.VectorExpressions]])
  * whose interpreted path calls these folds and whose generated path
  * inlines the same loop, so they stay inside whole-stage codegen. The
  * two fold-form columns ([[dotSql]], [[l2Norm]]) are higher-order
  * `zip_with` / `transform` + `aggregate` expressions.
  *
  * Rebuilds the reference's scalar distance (`utilities.py:11-13`,
  * `np.linalg.norm(u1-u2)`) Spark-first.
  *
  * Determinism contract: every reduction is a strict left-to-right
  * IEEE-754 double fold over the first min(|a|, |b|) coordinates in
  * storage order. DuckDB's `list_reduce` on the same array folds in the
  * same order, so the oracle's doubles are bit-identical (sqrt is
  * correctly rounded per IEEE-754, so it preserves the guarantee).
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

  /** Σ (aᵢ − bᵢ)² over the first min(|a|, |b|) coordinates: the one
    * squared-L2 fold, which `EuclideanDistance`, `SquaredEuclidean`,
    * the centroid argmin, NN-Descent and the fused top-k join all run.
    * Returns `Double.PositiveInfinity` as soon as the partial sum
    * exceeds `limit` — sound, because squared terms only ever grow the
    * sum. A NaN partial sum never compares above `limit`, so a NaN
    * coordinate met before the exit gives NaN. */
  def squaredEuclideanLocal(a: Array[Float], b: Array[Float],
      limit: Double = Double.PositiveInfinity): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      if (s > limit) return Double.PositiveInfinity
      i += 1
    }
    s
  }

  /** Euclidean distance on two float arrays; the value of [[euclidean]]. */
  def euclideanLocal(a: Array[Float], b: Array[Float]): Double =
    math.sqrt(squaredEuclideanLocal(a, b))

  /** [[euclideanLocal]] with an early-exit bound: returns the EXACT
    * distance when it is ≤ `bound`, or `Double.PositiveInfinity` as
    * soon as the partial squared sum passes bound², which proves
    * dist > bound. NaN passes through. Callers that discard candidates
    * above `bound` (k-NN pruning, the argmin) get identical decisions at
    * a fraction of the flops. */
  def euclideanLocalBounded(a: Array[Float], b: Array[Float], bound: Double): Double =
    math.sqrt(squaredEuclideanLocal(a, b, bound * bound))

  /** Σ aᵢ·bᵢ over the first min(|a|, |b|) coordinates; the value of [[dot]]. */
  def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a(i).toDouble * b(i).toDouble
      i += 1
    }
    s
  }

  /** Cosine similarity in one pass over the first min(|a|, |b|)
    * coordinates: the dot and both squared norms each fold left to
    * right from 0.0, so the result equals the three-fold
    * `dot / (sqrt(na) * sqrt(nb))` bit for bit; the value of
    * [[cosineSimilarity]]. A zero-norm side gives NaN. */
  def cosineSimilarityLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
