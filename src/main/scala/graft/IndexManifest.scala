package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The manifest protocol of a persisted vector index
  * ([[graft.similarity.IvfIndexStore]], [[graft.knn.GraphIndexStore]]):
  * one `meta/` row per index dir that records the indexed corpus as
  * `n_vectors`, `dim` and `fingerprint`, next to each store's own build
  * parameters.
  *
  *  - Fingerprint: bit_xor of xxhash64(vec_id, embedding) over the
  *    indexed points — order-independent, so freshness against a
  *    claimed corpus is CHECKABLE ([[isFresh]]) instead of assumed.
  *  - Chaining: bit_xor is associative and commutative, so an insert
  *    rewrites meta as `fingerprint ^ fp(delta)` and `n_vectors + n`
  *    ([[chain]]) and the combined corpus validates without a base
  *    rescan. Equal hashes cancel pairwise, so the chain holds only for
  *    a delta whose ids are unique and not yet indexed — the
  *    insert-only contract [[validateDelta]] enforces (updates are
  *    delete + insert, the FAISS `add` contract).
  *  - Commit rule: `meta/` is written LAST. [[commit]] is the one writer
  *    of `meta/`, and it runs the change's component writes before it:
  *    a tear anywhere in them leaves the previous meta (or none — never
  *    a readable index), and the count/xor check exposes the mismatch.
  */
object IndexManifest {

  /** Count, order-independent content hash and vector dimension of a
    * point set (all 0 when it is empty). */
  final case class Fingerprint(n: Long, xor: Long, dim: Int)

  /** The fingerprint aggregate as one row (n_vectors, fingerprint,
    * dim). coalesce: bit_xor and max over zero rows are NULL, and an
    * empty corpus must record a definite (0, 0, 0). */
  private[graft] def fingerprintRow(pts: DataFrame): DataFrame =
    pts.agg(count(lit(1)).as("n_vectors"),
      coalesce(bit_xor(xxhash64(col("vec_id"), col("embedding"))), lit(0L))
        .as("fingerprint"),
      coalesce(max(size(col("embedding"))), lit(0)).cast("int").as("dim"))

  def fingerprint(pts: DataFrame): Fingerprint = {
    val r = fingerprintRow(pts).collect()(0)
    Fingerprint(r.getLong(0), r.getLong(1), r.getInt(2))
  }

  def readMeta(spark: SparkSession, dir: String): Row =
    spark.read.parquet(s"$dir/meta").collect()(0)

  /** True iff `meta/` under `dir` records exactly `corpus` (count +
    * content fingerprint). */
  def isFresh(spark: SparkSession, dir: String, corpus: DataFrame): Boolean = {
    val m = readMeta(spark, dir)
    val fp = fingerprint(corpus.select(col("vec_id"), col("embedding")))
    m.getAs[Long]("n_vectors") == fp.n && m.getAs[Long]("fingerprint") == fp.xor
  }

  /** Validate an insert before anything is written: the delta's ids are
    * unique within it and disjoint from `indexedIds` (the index's
    * stored ids — one pruned id-column scan, never a corpus rescan),
    * and its dimension equals meta's `dim`. Returns the meta row and
    * the delta fingerprint for [[chain]].
    *
    * Both id checks are one join count: an indexed row matches iff the
    * delta reuses its id, and a delta row matches every delta row with
    * its id, so the delta side counts exactly n matches iff its ids are
    * unique. */
  def validateDelta(spark: SparkSession, dir: String, delta: DataFrame,
                    indexedIds: DataFrame): (Row, Fingerprint) = {
    val m = readMeta(spark, dir)
    val ids = delta.select(col("vec_id"))
    val hits = indexedIds.select(col("vec_id"), lit(true).as("indexed"))
      .unionByName(ids.withColumn("indexed", lit(false)))
      .join(ids, Seq("vec_id"))
      .agg(count(when(col("indexed"), 1)), count(when(!col("indexed"), 1)))
      .collect()(0)
    val fp = fingerprint(delta)
    require(hits.getLong(1) == fp.n,
      s"upsert requires unique vec_ids within the delta: its ${fp.n} rows " +
        s"make ${hits.getLong(1)} same-id pairs")
    require(hits.getLong(0) == 0L,
      s"upsert requires disjoint vec_ids: ${hits.getLong(0)} already indexed " +
        "(insert-only contract; updates need delete+insert)")
    require(fp.dim == m.getAs[Int]("dim"),
      s"upsert delta dimension ${fp.dim} does not match the index's " +
        s"dim=${m.getAs[Int]("dim")}")
    (m, fp)
  }

  /** The commit: run `components` (every other write of this change),
    * then write `meta` as the index's `meta/` — the only write of it. */
  def commit(dir: String, meta: => DataFrame)(components: => Unit): Unit = {
    components
    meta.write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** [[commit]] of an insert: meta as read with `n_vectors += delta.n`
    * and `fingerprint ^= delta.xor`, every other column carried. */
  def chain(spark: SparkSession, dir: String, meta: Row, delta: Fingerprint)
           (components: => Unit): Unit = {
    val row = Row.fromSeq(meta.schema.fieldNames.toSeq.map {
      case "n_vectors" => meta.getAs[Long]("n_vectors") + delta.n
      case "fingerprint" => meta.getAs[Long]("fingerprint") ^ delta.xor
      case c => meta.get(meta.fieldIndex(c))
    })
    // a parquet read reports every column nullable; the stores write
    // meta columns as non-null, and the rewrite keeps that footer
    val schema = StructType(meta.schema.map(_.copy(nullable = false)))
    commit(dir, spark.createDataFrame(java.util.List.of(row), schema))(components)
  }
}
