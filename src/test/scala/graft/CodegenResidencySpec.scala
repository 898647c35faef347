package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import graft.analytics.Analytics
import graft.ingest.Ingest
import graft.streaming.Upsert
import graft.timeseries.{Forecast, TimeSeries}
import graft.validate.Quality

/** A recurring pipeline run compiles its generated code once per JVM.
  *
  * Runs a small forecast DAG twice, each time into fresh output
  * directories, the way a scheduler re-runs a DAG in a long-lived JVM:
  * ingest, keep-latest dedup, ridge fit and apply, the DAG's validation,
  * resampling, evaluation and funnel stages, and a streaming upsert. The
  * second run has the same plan shapes as the first, so it must find
  * every class in Spark's codegen cache. Both settings in
  * `GraftSession.codegenResidency` are needed: one run touches more
  * classes than Spark's default 100-entry cache holds (the extra stages
  * are there to make it so), and the upsert's micro-batch runs on a
  * cloned session whose own classloader would miss the cache under
  * artifact isolation. */
class CodegenResidencySpec extends SparkSpec {

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pipeline run compiles no generated code") {
    val root = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    val stream = s"$root/events_stream"
    Tables.events(spark, sf).write.parquet(stream)
    val schema = spark.read.parquet(stream).schema

    def run(out: String): org.scalatest.Assertion = {
      def publish(name: String, df: org.apache.spark.sql.DataFrame) =
        df.write.parquet(s"$out/$name")
      def read(name: String) = spark.read.parquet(s"$out/$name")
      publish("typed", Ingest.typedIngest(Tables.events(spark, sf),
        "event_id", "ts", "user_id", "event_type", "value"))
      publish("clean", Ingest.dedupKeepLatest(read("typed"),
        Seq("respondent", "type", "period"), "period", "record_id")
        .select(col("record_id").as("event_id"), col("period").as("ts"),
          col("respondent").cast("long").as("user_id"), col("type").as("event_type"),
          col("value")))
      publish("coefs", Forecast.ridgeLagForecast(read("clean"),
        "user_id", "ts", "event_id", "value", 24, 1.0))
      publish("predictions", Forecast.applyCoefficients(read("clean"), read("coefs"),
        "user_id", "ts", "event_id", "value", 24))
      publish("quality", Quality.qualityReport(read("clean"),
        "user_id", "ts", "event_id", "value", 3600L, 1.5))
      publish("hourly", TimeSeries.resample(read("clean"), "user_id", "ts", "value", "hour"))
      publish("metrics", Forecast.metrics(read("predictions"), "user_id", "value", "prediction"))
      publish("funnel", Analytics.eventsUserFunnel(read("clean")))
      Upsert.streamUpsert(spark.readStream.schema(schema).parquet(stream),
        s"$out/latest", s"$out/checkpoint", "user_id", "ts", "event_id", 8)
        .awaitTermination()
      assert(Upsert.readTable(spark, s"$out/latest").count() > 0)
    }

    val before = compiled()
    run(s"$root/run1")
    val first = compiled() - before
    run(s"$root/run2")
    val second = compiled() - before - first
    info(s"classes compiled: first run $first, second run $second")
    assert(second == 0, s"the second run recompiled $second classes")
  }
}
