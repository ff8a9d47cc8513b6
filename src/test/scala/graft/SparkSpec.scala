package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Specs and plan gates are written against 8 partitions. */
  lazy val session: SparkSession = SessionTuning.session("graft-test", cpus = 8)
}
