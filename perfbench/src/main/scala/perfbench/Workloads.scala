package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.Analytics
import graft.graph.Components
import graft.ingest.Ingest
import graft.multimodal.Binary
import graft.sample.Sampling
import graft.sources.{PagedFeed, ParquetStats, Sources}
import graft.streaming.Upsert
import graft.text.{Dedup, TextOps}
import graft.timeseries.{Forecast, TimeSeries}
import graft.validate.Quality
import graft.vector.Similarity

/** What one pass works on: the generated inputs (`data`), a fresh output
  * directory (`dir`) and the tracer that wraps each layer call. */
final class Ctx(val spark: SparkSession, val data: String, val dir: String,
                val pass: Int, val tracer: Tracer) {
  def in(name: String): String = s"$data/$name"
  def out(name: String): String = s"$dir/$name"
  def read(name: String): DataFrame = spark.read.parquet(out(name))
  def readIn(name: String): DataFrame = spark.read.parquet(in(name))

  /** Evaluate a stage's frame by writing it where the next stage reads
    * it back — the hand-off between pipeline tasks. */
  def publish(name: String, df: DataFrame): Unit = {
    tracer.plan(df)
    df.write.mode("overwrite").parquet(out(name))
  }

  /** Scalar results of stages that produce no frame, for the checks. */
  val values: mutable.Map[String, String] = mutable.LinkedHashMap.empty
  var streamBatches = 0L
}

/** One timed layer call. `oracle` names the `graft.SparkEntry` query whose
  * DuckDB SQL the output is checked against, with each SQL table bound to
  * a path: `in:` paths are generated inputs, others are pass outputs. */
final case class Stage(name: String, layer: String, body: Ctx => Unit,
                       oracle: Option[(String, Map[String, String])] = None)

trait Workload {
  def stages: Seq[Stage]
  /** Untimed library calls run once after the first pass, in its
    * directory: references the checks compare the stages with. */
  def references: Seq[Stage] = Nil
}

object Workloads {
  val annQueries = 50L
  val annK = 10

  def apply(name: String): Workload = name match {
    case "forecast_dag" => ForecastDag
    case "corpus_curation" => CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def oracle(q: String, tables: (String, String)*): Option[(String, Map[String, String])] =
    Some((q, tables.toMap))

  /** The hourly forecasting DAG, from extraction to serving: land the
    * paged feed (a crash after two pages, then a resumed run), load, type,
    * dedup, validate, resample, train, apply and evaluate, publish the
    * predictions in a sorted layout, compact the hourly table, read back
    * through footer stats, keep a streaming latest-reading table and run
    * the per-user funnel. Each task reads its input from parquet. */
  object ForecastDag extends Workload {
    val pages = 4
    private val clean = "events" -> "clean"
    private def feed(c: Ctx) = new PagedFeed.OrderedFramePages(
      Tables.events(c.spark, c.data), "event_id")
    private def published(c: Ctx) = c.out("pub/predictions")

    val stages: Seq[Stage] = Seq(
      Stage("land_crash", "sources", c => {
        val src = feed(c)
        PagedFeed.land(c.spark, src, c.out("landing"), PagedFeed.autoPageSize(src.total, pages),
          maxPages = 2)
      }),
      Stage("land_resume", "sources", c => {
        val src = feed(c)
        PagedFeed.land(c.spark, src, c.out("landing"), PagedFeed.autoPageSize(src.total, pages))
      }),
      Stage("load_landed", "sources", c => c.publish("landed",
        PagedFeed.load(c.spark, c.out("landing")).drop("page"))),
      Stage("typed_ingest", "ingest", c => c.publish("typed",
        Ingest.typedIngest(c.read("landed"), "event_id", "ts", "user_id", "event_type", "value")),
        oracle("a1_ingest_typed", "events" -> "landed")),
      Stage("dedup_keep_latest", "ingest", c => c.publish("clean",
        Ingest.dedupKeepLatest(c.read("typed"), Seq("respondent", "type", "period"),
          "period", "record_id")
          .select(col("record_id").as("event_id"), col("period").as("ts"),
            col("respondent").cast("long").as("user_id"), col("type").as("event_type"),
            col("value")))),
      Stage("quality_report", "validate", c => c.publish("quality_report",
        Quality.qualityReport(c.read("clean"), "user_id", "ts", "event_id", "value", 3600L, 1.5)),
        oracle("b9_quality_report", clean)),
      Stage("resample_hourly", "timeseries", c => c.publish("hourly",
        TimeSeries.resample(c.read("clean"), "user_id", "ts", "value", "hour")),
        oracle("c1_resample_hourly", clean)),
      Stage("ridge_lag_forecast", "timeseries", c => c.publish("coefs",
        Forecast.ridgeLagForecast(c.read("clean"), "user_id", "ts", "event_id", "value", 24, 1.0)),
        oracle("c11_ridge_lag_forecast", clean)),
      Stage("apply_coefficients", "timeseries", c => c.publish("predictions",
        Forecast.applyCoefficients(c.read("clean"), c.read("coefs"),
          "user_id", "ts", "event_id", "value", 24)),
        oracle("c22_coeff_apply", clean)),
      Stage("forecast_metrics", "timeseries", c => c.publish("metrics",
        Forecast.metrics(c.read("predictions"), "user_id", "value", "prediction"))),
      Stage("sorted_layout", "sources", c =>
        Sources.writeSortedLayout(c.read("predictions"), published(c), "user_id", pages)),
      Stage("compact", "sources", c =>
        Sources.compactParquet(c.spark, c.out("hourly"), c.out("hourly_compact"), 64L * 1024)),
      Stage("row_count", "sources", c =>
        c.values("row_count") = ParquetStats.rowCount(c.spark, published(c)).toString),
      Stage("pruned_read", "sources", c => {
        val (lo, hi) = window(c)
        c.values("window_lo") = lo.toString
        c.values("window_hi") = hi.toString
        val files = ParquetStats.columnRange(c.spark, published(c), "user_id")
          .collect { case (f, mn, mx) if mx >= lo && mn < hi => f }
        c.values("pruned_files") = s"${files.size}"
        c.publish("predictions_window", c.spark.read.parquet(files.map(f => s"${published(c)}/$f"): _*)
          .filter(col("user_id") >= lo && col("user_id") < hi))
      }),
      Stage("stream_upsert", "streaming", c => {
        val schema = c.readIn("events_stream").schema
        val q = Upsert.streamUpsert(
          c.spark.readStream.schema(schema).parquet(c.in("events_stream")),
          c.out("latest_reading"), c.out("upsert_checkpoint"), "user_id", "ts", "event_id", 8)
        q.awaitTermination()
        c.streamBatches += q.recentProgress.count(_.numInputRows > 0)
      }),
      Stage("user_funnel", "analytics", c => c.publish("funnel",
        Analytics.eventsUserFunnel(c.read("clean"))),
        oracle("d6_events_user_funnel", clean)))

    /** The key window of the pruned read: the second quarter of the
      * series-key range, taken from the feed's parquet footers. */
    def window(c: Ctx): (Long, Long) = {
      val r = ParquetStats.columnRange(c.spark, c.in("events.parquet"), "user_id")
      val mn = r.map(_._2).min
      val mx = r.map(_._3).max
      val step = (mx - mn + 1) / pages
      (mn + step, mn + 2 * step)
    }
  }

  /** LLM-data curation over documents and embeddings: quality scoring,
    * near-dup pairs, canonical keep over their components, a per-source
    * cap, binary metadata and an ANN index. */
  object CorpusCuration extends Workload {
    private val docs = "documents" -> "in:documents.parquet"
    private val emb = "embeddings" -> "in:embeddings.parquet"
    private def documents(c: Ctx) = Tables.documents(c.spark, c.data)
    private def embeddings(c: Ctx) = Tables.embeddings(c.spark, c.data)
    private def queries(c: Ctx) = embeddings(c).filter(col("vec_id") < annQueries)

    val stages: Seq[Stage] = Seq(
      Stage("quality_score", "text", c => c.publish("quality",
        TextOps.qualityScore(documents(c), "doc_id", "text")),
        oracle("e9_quality_score", docs)),
      Stage("minhash_lsh_pairs", "text", c => c.publish("pairs",
        Dedup.minhashLshPairs(documents(c), "doc_id", "text", 3, 16, 4)),
        oracle("e2_minhash_lsh_pairs", docs)),
      Stage("keep_canonical", "graph", c => c.publish("canonical",
        Components.keepCanonical(documents(c).select(col("doc_id"), col("lang"), col("source")),
          c.read("pairs"), "doc_id", "doc_a", "doc_b"))),
      Stage("group_cap_sample", "sample", c => c.publish("capped",
        Sampling.groupCapSample(c.read("canonical").select(col("source"), col("doc_id"), col("lang")),
          "doc_id", "source", 15L)),
        oracle("e47_group_cap_sample", "documents" -> "canonical")),
      Stage("binary_meta", "multimodal", c => c.publish("binary",
        Binary.binaryMeta(documents(c), "doc_id", "text")),
        oracle("e12_binary_meta", docs)),
      Stage("lsh_ann_topk", "vector", c => c.publish("ann_lsh",
        Similarity.annLshTopK(embeddings(c), queries(c), "vec_id", "embedding", 16, 4, annK))))

    override val references: Seq[Stage] = Seq(
      Stage("bruteforce_topk", "vector", c => c.publish("ref_bruteforce",
        Similarity.bruteForceTopK(embeddings(c), queries(c), "vec_id", "embedding", annK))),
      Stage("lsh_recall", "text", c => c.publish("ref_lsh_recall",
        Dedup.lshRecall(documents(c), "doc_id", "text", 3, 16, 4, 200L, 0.5)),
        oracle("e52_lsh_recall", docs)))
  }
}
