package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Declared, Tables}

/** Salted equi-join for skewed keys — the manual escape hatch when a
  * hot key would overwhelm one reducer (AQE's skew-join split handles
  * sort-merge joins at runtime; salting also covers aggregations and
  * deterministic plans).
  *
  * The build side is replicated `salt` times; the probe side gets a
  * deterministic salt from xxhash64 over ALL of its columns (a pure
  * function of row content, stable across partition layouts) — so the
  * join result is exactly the unsalted join, but a hot key's rows
  * spread over `salt` reducers as long as they differ in any column.
  * Replication cost is `salt × |right|`, so use for dimension-sized
  * right sides or pre-filtered hot keys.
  */
object SkewJoin {

  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
                 rightKey: String, salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(salt)))
    val saltedRight = right
      .withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    saltedLeft.join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey)
          && saltedLeft("_salt") === saltedRight("_salt"))
      .drop("_salt")
  }

  /** Declared surface: the salted fact ⋈ dim join aggregated per brand
    * must hash-match the ORDINARY join's SQL — proving the salt is
    * result-invariant (pure shuffle-layout change), not just spec'd so. */
  val declared: Seq[Declared] = Seq(
    Declared(
      "q89_salted_join",
      (s, dir) => {
        val rev = graft.DuckSql.centsCol(col("l_extendedprice")) *
          (lit(100L) - graft.DuckSql.centsCol(col("l_discount")))
        saltedJoin(Tables.load(s, dir, "lineitem"),
            Tables.load(s, dir, "part"), "l_partkey", "p_partkey", salt = 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"),
            (sum(rev).cast("double") / 10000.0).as("revenue"))
          .orderBy(col("p_brand"))
      },
      Some(s"""SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(${graft.DuckSql.cents("l_extendedprice")}
        |    * (100 - ${graft.DuckSql.cents("l_discount")})) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      doc = "Salted skew-join == plain join: revenue per brand (§2.3)")
  )
}
