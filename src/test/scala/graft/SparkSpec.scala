package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run sequentially in the forked test JVM). It takes the engine's
  * codegen-residency and local-filesystem settings from GraftSession, so
  * tests compile and cache generated code, and touch files, the way
  * production does. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config(GraftSession.codegenResidency)
    .config(GraftSession.localFileSystem)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse_test")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
