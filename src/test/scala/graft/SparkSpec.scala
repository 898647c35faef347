package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run sequentially in the forked test JVM). It is built from
  * GraftSession's settings table, so tests plan, compile and cache
  * generated code, and touch files, the way production does; only the
  * warehouse directory is its own. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config(GraftSession.settings(4))
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse_test")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
