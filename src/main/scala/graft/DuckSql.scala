package graft

/** DuckDB SQL fragments mirroring the Catalyst expressions used by the
  * declared queries, kept in one place so the Spark side and the oracle
  * side stay structurally identical (same fold order ⇒ same doubles).
  */
object DuckSql {

  /** Σ (a_i − b_i)² as a strict left fold — mirrors
    * [[graft.linalg.Distances.squaredEuclideanCol]]. */
  def squaredL2(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))), (x, y) -> x + y)"

  def euclidean(a: String, b: String): String = s"sqrt(${squaredL2(a, b)})"

  def dot(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> " +
      s"CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  def l2Norm(a: String): String =
    s"sqrt(list_reduce(list_transform(range(len($a)), i -> " +
      s"CAST($a[i+1] AS DOUBLE) * CAST($a[i+1] AS DOUBLE)), (x, y) -> x + y))"

  def cosineSimilarity(a: String, b: String): String =
    s"(${dot(a, b)} / (${l2Norm(a)} * ${l2Norm(b)}))"

  /** Exact integer cents of a 2-decimal double column (testdata money
    * columns are exact 2-decimal values — verified in TESTDATA probing).
    * Summing cents as BIGINT is order-independent, so Spark and DuckDB
    * agree bit-for-bit; divide by 100.0 only at the very end. */
  def cents(col: String): String = s"CAST(round($col * 100) AS BIGINT)"

  /** Spark-side mirror of [[cents]] — the single definition both query
    * modules import, so the two sides cannot drift. */
  def centsCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.round
    round(c * 100).cast("long")
  }
}
