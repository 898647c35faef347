package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical table loader for the test corpus (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loader is the single place a deployment re-points. Operators take
  * DataFrames (storage-agnostic), except the ten `Analytics` ones that
  * take `(spark, dir)` and read through this loader.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** The events feed's `ts` column has shipped in two physical parquet
    * forms across test-corpus generations: TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects, so the nanosAsLong conf (set
    * once in [[GraftSession.build]]) surfaces it as a nanos-since-epoch
    * long — and plain TIMESTAMP(MICROS) (unadjusted → TIMESTAMP_NTZ).
    * Normalize BOTH to a microsecond TimestampType here so every
    * downstream operator and oracle sees one schema: the nanos long is
    * truncated ns→µs (exactly Spark's own narrowing), and the NTZ cast
    * is value-preserving under the session's pinned UTC timezone.
    * This loader is the engine's storage seam — schema drift in the
    * feed is absorbed here, never in operators. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
