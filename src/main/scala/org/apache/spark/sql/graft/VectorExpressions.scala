package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen Catalyst expressions for the vector hot path —
  * the SURVEY.md §4 "perf slice" upgrade of the distance function
  * (reference `utilities.py:11-13`).
  *
  * The declarative fold (`aggregate(zip_with(...))`) evaluates its
  * lambda interpreted, per element, with boxing — fine for one-off
  * scalar queries, ~30× too slow for the N×k pair stream of KNN/MRDF.
  * These emit a tight primitive loop inside whole-stage codegen.
  *
  * Determinism contract is preserved bit-for-bit: the loop is the same
  * strict left-to-right IEEE-754 double accumulation as the fold and as
  * DuckDB's `list_reduce`, so oracle hashes are unchanged.
  */
case class EuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "euclidean_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDistance =
    copy(left = newLeft, right = newRight)
}

/** [[EuclideanDistance]] without the final sqrt — the monotone proxy
  * every range/top-k consumer can rank or prune on. Produced by
  * [[DistanceComparisonRewrite]]; also registered as SQL
  * `squared_euclidean`. */
case class SquaredEuclidean(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "squared_euclidean"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredEuclidean =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product — the LSH signature hot path (32 hyperplane
  * projections per vector in [[graft.similarity.Ann.lshBands]]). Same
  * strict left-to-right double fold as the declarative
  * `aggregate(zip_with(...))` shape, so results are bit-identical. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass (dot and both norms accumulate in the
  * same left-to-right order as the separate folds, and the final
  * `dot / (sqrt(na) * sqrt(nb))` matches the declarative shape — so
  * results are bit-identical with the oracle's three-fold formula). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

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
  * the strict left-fold Euclidean of [[EuclideanDistance]] in
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

  /** Index of the nearest of `cents` to `vec`: the strict left-fold
    * Euclidean of [[EuclideanDistance]], centroids in index order, and a
    * strict `<`, so a tie goes to the lowest index. The one argmin of
    * the interpreted and the generated expression and of MRDF's
    * driver-side divide. */
  def nearest(vec: Array[Float], cents: Array[Array[Float]]): Int = {
    var bi = 0
    var bd = Double.PositiveInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(vec.length, c.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = vec(i).toDouble - c(i).toDouble
        s += d * d
        i += 1
      }
      val dist = math.sqrt(s)
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

/** Column front-ends for expressions with non-column state. */
object VectorExpressions {
  def nearestCentroidIdx(cmap: java.util.HashMap[UTF8String, Array[Array[Float]]],
                         vec: org.apache.spark.sql.Column,
                         path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ColumnBridge.column(NearestCentroidIdx(
      ColumnBridge.expression(vec), ColumnBridge.expression(path), cmap))
}
