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
  private var current: SparkSession = _

  /** Specs and plan gates are written against 8 partitions. A spec
    * that stops the session (to test a restart) gets a fresh one here,
    * and so does every suite that starts after it. */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = SessionTuning.session("graft-test", cpus = 8)
    current
  }
}
