package graft.similarity

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.linalg.Distances

/** The coarse quantizer: the one distributed Lloyd's k-means loop and
  * the two nearest-centroid decisions made against its centroids —
  * [[assign]] (each point's nearest centroid: IVF lists, graph-router
  * seeds, SemDeDup clusters, streaming ANN routing) and [[probe]] (each
  * query's n nearest: IVF probes, graph-router entries, multi-assigned
  * blocks). Both decide by the strict-fold Euclidean of
  * [[Distances.euclidean]], ties to the lowest cid.
  *
  * The loop trains the quantizer of IVF lists, graph routers and
  * SemDeDup, and (grouped by subspace) the PQ codebooks. Points are
  * `(grp, id, vec)` rows; each `grp` trains an independent k-means in
  * the same rounds (ungrouped callers pass a constant `grp`, see
  * [[centroids]]).
  *
  * Every round is ONE job with ONE Exchange: the argmin is the
  * [[org.apache.spark.sql.graft.NearestCentroidIdx]] codegen projection
  * over the driver-held centroid map (keyed by `grp` as its path
  * string — the MRDF divide's expression, unchanged), and the new means
  * are one aggregation (see [[round]]) whose result — groups × k × dim
  * values, bounded in advance — is collected so the driver assembles
  * the next map. No join, no window, no single-row
  * aggregate, no checkpoint chain.
  *
  * `portable` selects the only two numeric forms in use:
  *  - true: init rank = the md5 rank DuckDB can replay, mean = the
  *    SEQUENTIAL double fold over members in id order (bit-reproducible
  *    across engines — the q175/q177/q181/q218–q230 oracles replay it);
  *  - false: init rank = `xxhash64(42, id)`, mean = `avg` (order-free
  *    partial aggregation — the shape to run at scale).
  *
  * Init takes the bottom-k DISTINCT ids by (rank, id) and each group's
  * vectors of those ids; cid = rank order within the group. Argmin ties
  * go to the lowest cid. A centroid that wins no points keeps its
  * previous position, so every group keeps exactly min(k, |sampled ids
  * in the group|) centroids. Every group must hold at least one sampled
  * id — true when groups share one id set (ungrouped, PQ subspaces). */
object Kmeans {

  /** Per group path string: the `grp` value and its centroids in cid
    * order (index == cid). */
  private[similarity] type Cents = Map[String, (Any, Array[Array[Float]])]

  /** Train k-means over `(grp, id, vec)` points; returns
    * `(grp, cid INT, cvec ARRAY<FLOAT>)` as a driver-local table. */
  def train(pts: DataFrame, k: Int, iters: Int, portable: Boolean): DataFrame = {
    var cents = init(pts, k, portable)
    (1 to iters).foreach { _ =>
      if (cents.nonEmpty) cents = next(cents, round(pts, cents, portable).collect())
    }
    val rows = cents.toSeq.sortBy(_._1).flatMap { case (_, (grp, vs)) =>
      vs.indices.map(c => Row(grp, c, vs(c).toSeq))
    }
    pts.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("grp", pts.schema("grp").dataType),
      StructField("cid", IntegerType, nullable = false),
      StructField("cvec", ArrayType(FloatType)))))
  }

  /** [[train]] over `(vec_id, embedding)` rows as one group; returns
    * `(cid, cvec)`. */
  def centroids(emb: DataFrame, k: Int, iters: Int, portable: Boolean): DataFrame =
    train(emb.select(lit(0).as("grp"), col("vec_id").as("id"),
        col("embedding").as("vec")), k, iters, portable)
      .select(col("cid"), col("cvec"))

  private def rank(portable: Boolean): Column =
    if (portable)
      conv(substring(md5(concat(lit("km|"), col("id").cast("string"))), 1, 15),
        16, 10).cast("long")
    else xxhash64(lit(42L), col("id"))

  private def key: Column = col("grp").cast("string")

  /** Bottom-k distinct ids by (rank, id), then every group's vectors
    * of those ids — k + groups × k rows reach the driver. */
  private[similarity] def init(pts: DataFrame, k: Int, portable: Boolean): Cents = {
    val ids = pts.select(col("id")).distinct()
      .orderBy(rank(portable), col("id")).limit(k)
      .collect().map(_.get(0))
    val order = ids.zipWithIndex.toMap
    pts.filter(col("id").isin(ids.toIndexedSeq: _*))
      .select(key, col("grp"), col("id"), col("vec")).collect()
      .groupBy(_.getString(0)).map { case (kk, rs) =>
        kk -> ((rs.head.get(1),
          rs.sortBy(r => order(r.get(2))).map(_.getSeq[Float](3).toArray)))
      }
  }

  /** One Lloyd's round as a lazy plan: codegen argmin against `cents`,
    * then the member mean per (grp, cid, pos). Rows: (key, cid, pos, m).
    *
    * `avg` aggregates per (grp, cid, pos). The ordered fold aggregates
    * per (grp, cid) instead: it needs each cluster's members sorted by
    * id, and one list per cluster keeps the key count at groups × k
    * (per-dim lists multiply it by dim and push the object aggregate
    * past its hash-map threshold into a sort of every (vector, dim)
    * row); the per-dim folds then run over the sorted list. */
  private[similarity] def round(pts: DataFrame, cents: Cents,
      portable: Boolean): DataFrame = {
    val assigned = pts.select(key.as("key"),
      VectorExpressions.nearestCentroidIdx(
        centroidMap(cents.view.mapValues(_._2)), col("vec"), key).as("cid"),
      col("id"), col("vec"))
    if (portable)
      assigned.groupBy(col("key"), col("cid"))
        .agg(array_sort(collect_list(struct(col("id"), col("vec")))).as("s"))
        .select(col("key"), col("cid"), posexplode(transform(
          sequence(lit(0), size(element_at(col("s"), 1).getField("vec")) - 1),
          p => (aggregate(col("s"), lit(0.0), (acc, e) =>
            acc + element_at(e.getField("vec"), p + 1).cast("double")) /
            size(col("s"))).cast("float"))).as(Seq("pos", "m")))
    else
      // the argmin is projected BEFORE the explode: in one select, Spark
      // evaluates it above the Generate, once per (vector, dim) row
      assigned.select(col("key"), col("cid"),
          posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("key"), col("cid"), col("pos"))
        .agg(avg(col("x")).cast("float").as("m"))
  }

  /** Assemble the next centroid map from a round's collected means; a
    * centroid absent from them (no members) carries over. */
  private def next(cents: Cents, means: Array[Row]): Cents = {
    val moved = means.groupBy(r => (r.getString(0), r.getInt(1)))
      .map { case (kc, rs) => kc -> rs.sortBy(_.getInt(2)).map(_.getFloat(3)) }
    cents.map { case (kk, (grp, vs)) =>
      kk -> ((grp, vs.indices.map(c => moved.getOrElse((kk, c), vs(c))).toArray))
    }
  }

  /** Nearest-centroid assignment of `(vec_id, embedding)` points to a
    * `(cid, cvec)` table; returns `(cid, vec_id, embedding)`. ONE
    * narrow codegen projection: the bounded centroid array rides inside
    * [[org.apache.spark.sql.graft.NearestCentroidIdx]] — no join, no
    * aggregation, no shuffle, and it runs map-side on a stream too.
    * Measured at 1M×1024 (`graft.Scale graph_index`): the former
    * broadcast-join + per-id argmin aggregation streamed N×nlist
    * candidate rows (cluster_seeds 851.8 s of a 937.5 s index write
    * with the vector inside each candidate struct; 471.7 s with the
    * struct narrowed to (d, cid)). Assignments equal the join form's
    * bit for bit: the same strict-fold Euclidean doubles, and the
    * first-wins-on-tie rule over the cid-sorted array is the
    * lowest-(d, cid) tie-break (asserted in PlanSpecs). */
  def assign(pts: DataFrame, cent: DataFrame): DataFrame = {
    // the cids ascending and their vectors as the map under path "":
    // nlist rows, the same a-priori-bounded driver transfer as the
    // loop's own map; cid order makes first-wins the lowest-cid tie-break
    val rows = cent.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    if (rows.isEmpty)
      return pts.filter(lit(false))
        .select(lit(0).as("cid"), col("vec_id"), col("embedding"))
    val idx = VectorExpressions.nearestCentroidIdx(
      centroidMap(Seq("" -> rows.map(_._2))), col("embedding"), lit(""))
    pts.select(element_at(typedlit(rows.map(_._1).toSeq), idx + 1).as("cid"),
      col("vec_id"), col("embedding"))
  }

  /** The `n` nearest centroids of each `(qid, qv)` query in a
    * `(cid, cvec)` table; returns `(qid, qv, cid)`, at most `n` rows per
    * query. The nlist-row table broadcasts, and a window over `qid`
    * ranks by `(distance, cid)`, so ties go to the lowest cid. */
  def probe(queries: DataFrame, cent: DataFrame, n: Int): DataFrame =
    queries.select(col("qid"), col("qv"))
      .join(broadcast(cent.select(col("cid"), col("cvec"))))
      .withColumn("cd", Distances.euclidean(col("qv"), col("cvec")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cd"), col("cid"))))
      .filter(col("pr") <= n)
      .select(col("qid"), col("qv"), col("cid"))

  /** The path → centroids map [[org.apache.spark.sql.graft.NearestCentroidIdx]]
    * reads. */
  private[graft] def centroidMap(groups: Iterable[(String, Array[Array[Float]])])
      : java.util.HashMap[UTF8String, Array[Array[Float]]] = {
    val m = new java.util.HashMap[UTF8String, Array[Array[Float]]]()
    groups.foreach { case (kk, vs) => m.put(UTF8String.fromString(kk), vs) }
    m
  }
}
