package graft

import org.apache.spark.sql.SparkSession

/** The pure-SQL user surface: everything the engine exposes through
  * the DataFrame API is equally reachable via `spark.sql(...)` —
  * tables as temp views, graft's custom codegen expressions as SQL
  * functions (the table [[GraftExtensions]] injects at session build,
  * registered idempotently here for sessions built
  * without the extension, e.g. the driver harness's). q75 runs one
  * multi-feature SQL text end-to-end — join + custom expression +
  * ranking window + aggregate — and oracle-matches it, proving API
  * parity rather than asserting it. */
object SqlApi {

  /** Idempotent: temp functions replace on re-registration. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, es => build(es(0), es(1)), "built-in")
    }
  }

  /** Within-label 3-NN in one SQL text (the label bound keeps the
    * pair-up label-local — the same blocked-quadratic shape as MRDF's
    * in-block scan, expressed in SQL). */
  private val NearestSameLabelSql =
    """SELECT id, nbr, dist, rn FROM (
      |  SELECT a.vec_id AS id, b.vec_id AS nbr,
      |         round(euclidean_distance(a.embedding, b.embedding), 6) AS dist,
      |         row_number() OVER (
      |           PARTITION BY a.vec_id
      |           ORDER BY euclidean_distance(a.embedding, b.embedding), b.vec_id) AS rn
      |  FROM emb a JOIN emb b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id)
      |WHERE rn <= 3
      |ORDER BY id, rn""".stripMargin

  /** Correlated subqueries in ONE text valid verbatim in both engines:
    * two correlated scalar subqueries (decorrelated by Catalyst into
    * joins on o_custkey) + a correlated EXISTS (→ left-semi join). The
    * outlier test is exact integer math — price·n > 2·Σprice in cents —
    * so the comparison cannot flip on a float-summation ulp. */
  private val CorrelatedSql =
    """SELECT o_custkey, count(*) AS n_big
      |FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT)
      |      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > 2 * (SELECT sum(CAST(round(o3.o_totalprice * 100) AS BIGINT))
      |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared(
      "q92_correlated_sql",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(CorrelatedSql)
      },
      Some(CorrelatedSql),
      doc = "Correlated scalar subqueries + EXISTS, one SQL text on both engines"),

    Declared(
      "q75_sql_api",
      (s, dir) => {
        register(s)
        Tables.load(s, dir, "embeddings").createOrReplaceTempView("emb")
        s.sql(NearestSameLabelSql)
      },
      Some {
        val d = DuckSql.euclidean("a.embedding", "b.embedding")
        s"""SELECT id, nbr, dist, rn FROM (
           |  SELECT a.vec_id AS id, b.vec_id AS nbr, round($d, 6) AS dist,
           |         CAST(row_number() OVER (
           |           PARTITION BY a.vec_id ORDER BY $d, b.vec_id) AS INTEGER) AS rn
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id <> b.vec_id)
           |WHERE rn <= 3
           |ORDER BY id, rn""".stripMargin
      },
      doc = "Pure spark.sql surface: within-label 3-NN via registered codegen expr")
  )
}
