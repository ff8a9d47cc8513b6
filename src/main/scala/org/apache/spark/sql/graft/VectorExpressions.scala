package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.linalg.Distances

/** Custom codegen Catalyst expressions for the vector hot path —
  * the SURVEY.md §4 "perf slice" upgrade of the distance function
  * (reference `utilities.py:11-13`).
  *
  * The declarative fold (`aggregate(zip_with(...))`) evaluates its
  * lambda interpreted, per element, with boxing — fine for one-off
  * scalar queries, ~30× too slow for the N×k pair stream of KNN/MRDF.
  * These emit a tight primitive loop inside whole-stage codegen.
  *
  * Each metric's fold is written once per representation: over
  * `Array[Float]` in [[graft.linalg.Distances]] (the interpreted path
  * calls it on the copied arrays) and as Java in
  * [[VectorExpressions.foldCode]] (the generated path inlines it at the
  * call site). Both are the same strict left-to-right IEEE-754 double
  * accumulation over the first min(|a|, |b|) coordinates as the
  * declarative fold and DuckDB's `list_reduce`, so oracle hashes hold.
  */
sealed trait VectorPairExpression extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  /** The metric's [[graft.linalg.Distances]] fold. */
  protected def kernel(x: Array[Float], y: Array[Float]): Double
  /** The same fold for [[VectorExpressions.foldCode]]: one Java term per
    * accumulator over the coordinate doubles, and the result as a Java
    * expression over the accumulators. */
  protected def terms: Seq[(String, String) => String]
  protected def result(sums: Seq[String]): String

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (code, sums) = VectorExpressions.foldCode(ctx, a, b, terms)
      s"$code\n${ev.value} = ${result(sums)};"
    })
}

/** Squared L2 with or without the final sqrt: the one body of
  * [[EuclideanDistance]] and [[SquaredEuclidean]]. */
sealed trait L2Expression extends VectorPairExpression {
  /** Whether the result is the distance (sqrt of the sum) or its square. */
  protected def root: Boolean
  override protected def kernel(x: Array[Float], y: Array[Float]): Double = {
    val s = Distances.squaredEuclideanLocal(x, y)
    if (root) math.sqrt(s) else s
  }
  override protected def terms: Seq[(String, String) => String] =
    Seq((x, y) => s"($x - $y) * ($x - $y)")
  override protected def result(sums: Seq[String]): String =
    if (root) s"java.lang.Math.sqrt(${sums.head})" else sums.head
}

case class EuclideanDistance(left: Expression, right: Expression)
    extends L2Expression {
  override protected def root: Boolean = true
  override def prettyName: String = "euclidean_distance"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDistance =
    copy(left = newLeft, right = newRight)
}

/** [[EuclideanDistance]] without the final sqrt — the monotone proxy
  * every range/top-k consumer can rank or prune on. Produced by
  * [[DistanceComparisonRewrite]]; also registered as SQL
  * `squared_euclidean`. */
case class SquaredEuclidean(left: Expression, right: Expression)
    extends L2Expression {
  override protected def root: Boolean = false
  override def prettyName: String = "squared_euclidean"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredEuclidean =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product — the LSH signature hot path (32 hyperplane
  * projections per vector in [[graft.similarity.Ann.lshBands]]). Same
  * strict left-to-right double fold as the declarative
  * `aggregate(zip_with(...))` shape, so results are bit-identical. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorPairExpression {
  override def prettyName: String = "dot_product"
  override protected def kernel(x: Array[Float], y: Array[Float]): Double =
    Distances.dotLocal(x, y)
  override protected def terms: Seq[(String, String) => String] =
    Seq((x, y) => s"$x * $y")
  override protected def result(sums: Seq[String]): String = sums.head
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass (dot and both norms accumulate in the
  * same left-to-right order as the separate folds, and the final
  * `dot / (sqrt(na) * sqrt(nb))` matches the declarative shape — so
  * results are bit-identical with the oracle's three-fold formula). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorPairExpression {
  override def prettyName: String = "cosine_similarity"
  override protected def kernel(x: Array[Float], y: Array[Float]): Double =
    Distances.cosineSimilarityLocal(x, y)
  override protected def terms: Seq[(String, String) => String] =
    Seq((x, y) => s"$x * $y", (x, _) => s"$x * $x", (_, y) => s"$y * $y")
  override protected def result(sums: Seq[String]): String = {
    val Seq(dot, na, nb) = sums
    s"$dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb))"
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Index of the nearest centroid among `cmap(path)` — the MRDF divide
  * assignment as ONE codegen expression: a narrow per-row map-lookup +
  * distance loop that stays inside whole-stage codegen (no join, no
  * shuffle, no Dataset encode/decode — the typed-mapPartitions form of
  * this paid per-row deserialization that outweighed the saved shuffle
  * at 200k+ vectors). The argmin is [[NearestCentroidIdx.nearest]]:
  * the Euclidean fold of [[graft.linalg.Distances]] in
  * centroid-index order with strict `<`, which replays the
  * `min(struct(d, cidx))` tie-break, so assignments are bit-identical
  * to the join form.
  *
  * The centroid map rides the expression as a task-binary reference
  * object (`addReferenceObj`) — bounded by the caller's
  * driver-payload routing, and shipped once per executor like any
  * plan literal. Keys are [[UTF8String]] so the probe needs no per-row
  * String conversion. A path absent from the map is a caller bug ⇒
  * an exception naming the path, never a silent wrong assignment. */
case class NearestCentroidIdx(left: Expression, right: Expression,
    cmap: java.util.HashMap[UTF8String, Array[Array[Float]]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid_idx"

  override def nullSafeEval(vecAny: Any, pathAny: Any): Any = {
    val cents = cmap.get(pathAny.asInstanceOf[UTF8String])
    if (cents == null) throw NearestCentroidIdx.missingPath(pathAny, cmap.size())
    NearestCentroidIdx.nearest(vecAny.asInstanceOf[ArrayData].toFloatArray(), cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("centroidMap", cmap,
      classOf[java.util.HashMap[UTF8String, Array[Array[Float]]]].getName)
    nullSafeCodeGen(ctx, ev, (vec, path) => {
      val cents = ctx.freshName("cents")
      s"""
         |float[][] $cents = (float[][]) $mapRef.get($path);
         |if ($cents == null) {
         |  throw org.apache.spark.sql.graft.NearestCentroidIdx
         |    .missingPath($path, $mapRef.size());
         |}
         |${ev.value} = org.apache.spark.sql.graft.NearestCentroidIdx
         |  .nearest($vec.toFloatArray(), $cents);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidIdx =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidIdx {

  /** Index of the nearest of `cents` to `vec`: the Euclidean fold of
    * [[graft.linalg.Distances]], centroids in index order, and a
    * strict `<`, so a tie goes to the lowest index. The one argmin of
    * the interpreted and the generated expression and of MRDF's
    * driver-side divide. */
  def nearest(vec: Array[Float], cents: Array[Array[Float]]): Int = {
    var bi = 0
    var bd = Double.PositiveInfinity
    var ci = 0
    while (ci < cents.length) {
      // bounded by the best so far: a centroid past it comes back +∞,
      // which the strict `<` rejects exactly as it would its distance
      val dist = Distances.euclideanLocalBounded(vec, cents(ci), bd)
      if (dist < bd) { bd = dist; bi = ci }
      ci += 1
    }
    bi
  }

  /** A path absent from the centroid map is a caller bug (the caller
    * built both the map and the path column); fail with the offending
    * path and the map size instead of a bare NPE — on a real cluster
    * the executor stack trace is all the debugging surface there is.
    * Called from both the interpreted and the generated code path. */
  def missingPath(path: Any, mapSize: Int): RuntimeException =
    new NoSuchElementException(
      s"nearest_centroid_idx: block path '$path' has no centroids in " +
        s"the broadcast map ($mapSize entries) — caller built map and " +
        "path column from different block sets")
}

object VectorExpressions {

  /** The generated form of the [[graft.linalg.Distances]] folds: one
    * inline loop over the first min(|a|, |b|) coordinates of the
    * ArrayData values `a` and `b` that adds each term (Java over the
    * coordinate doubles) to its own accumulator, left to right from
    * 0.0. Returns the code and the accumulators' names. Every call site
    * gets its own loop, so the `getFloat` calls stay monomorphic there
    * (no shared ArrayData method, no array copy). */
  def foldCode(ctx: CodegenContext, a: String, b: String,
      terms: Seq[(String, String) => String]): (String, Seq[String]) = {
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val x = ctx.freshName("x")
    val y = ctx.freshName("y")
    val sums = terms.map(_ => ctx.freshName("s"))
    val code =
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${sums.map(s => s"double $s = 0.0;").mkString(" ")}
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  ${sums.zip(terms).map { case (s, t) => s"$s += ${t(x, y)};" }.mkString(" ")}
         |}""".stripMargin
    (code, sums)
  }

  /** Column front-end for [[NearestCentroidIdx]], whose centroid map is
    * not a column. */
  def nearestCentroidIdx(cmap: java.util.HashMap[UTF8String, Array[Array[Float]]],
                         vec: org.apache.spark.sql.Column,
                         path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ColumnBridge.column(NearestCentroidIdx(
      ColumnBridge.expression(vec), ColumnBridge.expression(path), cmap))
}
