package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analytics.Analytics
import graft.graph.Components
import graft.ingest.Ingest
import graft.sample.Sampling
import graft.sources.ParquetStats
import graft.multimodal.Binary
import graft.streaming.{Streams, Upsert}
import graft.text.{Dedup, TextOps}
import graft.timeseries.{Decompose, Forecast, TimeSeries}
import graft.validate.Quality
import graft.vector.Similarity
import graft.Checkpoint._
import graft.functions.{cents, periodOf}

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  * Every query key has a library operator behind it; the oracleSql map
  * carries the DuckDB-equivalent SQL for the driver's correctness gate.
  */
object SparkEntry {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The event feed as every landing/source query reads it: the
    * second-truncated `ts` as `period`. */
  private def feedCols: Seq[Column] = Seq(col("event_id"),
    periodOf("ts").as("period"), col("user_id"), col("event_type"), col("value"))

  /** The schema of [[feedCols]], as the text and ORC sinks read the
    * landed feed back. */
  private def feedSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, period TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")

  /** f12's funnel steps — shared by the query and the generated oracle. */
  private val f12Steps = Seq("signup", "view", "click", "purchase")

  /** The d19 anchor-chain funnel as generated SQL, parameterized on
    * (steps, window) so f12's k=4 twin shares the proven shape with
    * d19's hand-written k=3 oracle (verified equivalent on d19's
    * constants). */
  private def windowFunnelOracleSql(steps: Seq[String], window: Long): String = {
    val k = steps.size
    val chain = (2 to k).map { j =>
      s""",
       a$j AS (SELECT *, CASE WHEN event_type = '${steps(j - 1)}'
             AND t <= max(a${j - 1}) OVER w + $window THEN max(a${j - 1}) OVER w END AS a$j
         FROM a${j - 1} WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"""
    }.mkString
    val deepest = (1 to k).map(j =>
      s"max(CASE WHEN a$j IS NOT NULL THEN $j END)").mkString(",\n           ")
    val hist = (1 to k).map(j =>
      s"count(*) FILTER (WHERE deepest >= $j) AS n$j").mkString(",\n           ")
    val sel = (1 to k).map { j =>
      if (j == 1)
        s"SELECT CAST(1 AS BIGINT) AS step, '${steps.head}' AS step_name, n1 AS n_users FROM h"
      else s"SELECT CAST($j AS BIGINT), '${steps(j - 1)}', n$j FROM h"
    }.mkString("\n       UNION ALL ")
    s"""WITH base AS (SELECT user_id, event_id,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, event_type
         FROM events WHERE ts IS NOT NULL
           AND event_type IN (${steps.map(s => s"'$s'").mkString(", ")})),
       a1 AS (SELECT *, CASE WHEN event_type = '${steps.head}' THEN t END AS a1 FROM base)$chain,
       d AS (SELECT user_id, greatest(
           $deepest) AS deepest
         FROM a$k GROUP BY 1),
       h AS (SELECT $hist FROM d)
       $sel"""
  }

  /** f11's published reference distribution (config, registry-shaped):
    * category → baseline count over eventTypes :+ __other__. The same
    * constants build the Spark expressions AND the oracle SQL. */
  private val f11RefCounts: Seq[(String, Long)] = Seq(
    "click" -> 4000L, "error" -> 500L, "purchase" -> 1500L,
    "signup" -> 800L, "view" -> 5000L, "__other__" -> 200L)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.revenueByNation(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // ---------------- A. ingestion / ETL ----------------
    "a1_ingest_typed" -> ((s, d) =>
      Ingest.typedIngest(Tables.events(s, d), "event_id", "ts", "user_id", "event_type", "value")),
    "a2_time_range_filter" -> ((s, d) =>
      Ingest.timeRangeFilter(Tables.events(s, d), "ts", "2024-01-08 00:00:00", "2024-01-15 00:00:00")
        .select(feedCols: _*)),
    "a3_dedup_keep_latest" -> ((s, d) =>
      Ingest.dedupKeepLatest(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
          periodOf("ts").as("period"), col("value")),
        Seq("user_id", "event_type"), "period", "event_id")),
    "a4_retention_keep_last_n" -> ((s, d) =>
      Ingest.retentionKeepLastN(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
        "o_custkey", col("o_orderdate"), col("o_orderkey"), 5)),
    "a5_incremental_ingest" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      // two overlapping offset pages (crash-recovery refetch) merge to
      // exactly the full feed
      Ingest.incrementalIngest(ev.filter(col("event_id") < 600),
        ev.filter(col("event_id") >= 500), "event_id")
    }),
    "a7_incremental_agg_merge" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("value"), col("event_id"))
      // persisted state from history, one new batch merged in — must
      // equal the full recompute (which is exactly what the oracle runs)
      Ingest.mergeAggState(
        Ingest.aggState(ev.filter(col("event_id") < 7000), "user_id", "value"),
        ev.filter(col("event_id") >= 7000), "user_id", "value")
    }),
    "a8_paginated_fetch" -> ((s, d) => {
      // the reference's offset-paginated fetch loop landed crash-safely:
      // 3 pages land, the run "crashes", the resumed run refetches the
      // last landed page and runs out the window (short final page
      // included) — the landed feed must equal a clean one-shot
      // snapshot, with page lineage restored by partition discovery
      val feed = Ingest.typedIngest(Tables.events(s, d),
        "event_id", "ts", "user_id", "event_type", "value")
      val dir = scratchDir("a8", d)
      val src = new graft.sources.PagedFeed.OrderedFramePages(feed, "record_id")
      val ps = graft.sources.PagedFeed.autoPageSize(src.total, 7)
      graft.sources.PagedFeed.reset(s, dir)
      graft.sources.PagedFeed.land(s, src, dir, ps, maxPages = 3)
      graft.sources.PagedFeed.land(s, src, dir, ps)
      graft.sources.PagedFeed.load(s, dir)
    }),
    "a9_scd2_history" -> ((s, d) =>
      Ingest.scd2History(
        Tables.events(s, d).select(col("user_id"), periodOf("ts").as("period"),
          col("event_type"), col("event_id")),
        "user_id", "period", Seq("event_type"), "event_id")),
    "a10_snapshot_reconcile" -> ((s, d) => {
      // incremental state that has drifted from the source of truth:
      // every 101st record was lost (a dropped page), every 97th
      // carries a corrupted value (a replayed batch applied twice) —
      // the audit must localize both, per key, without moving data
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_timestamp(periodOf("ts")).as("ep"), col("value"))
      // engine-portable row digest: modular arithmetic only (every
      // intermediate < 2^62 — the Dedup.PolyP discipline), identical
      // literals in the DuckDB oracle; no engine-specific hash
      def digest(df: DataFrame) = df.withColumn("digest",
        ((col("event_id") % 1000003L) * 2654435761L +
          (coalesce(floor(col("value") * 100).cast("long"), lit(-1L)) % 1000003L) * 40503L +
          (coalesce(col("ep"), lit(-1L)) % 1000003L) * 2654435769L) % 1000000007L)
      val state = digest(ev.filter(col("event_id") % 101 =!= 0)
        .withColumn("value",
          when(col("event_id") % 97 === 0, col("value") + 5).otherwise(col("value"))))
      Ingest.snapshotReconcile(state, digest(ev), "user_id", "digest")
    }),
    "a12_backfill_plan" -> ((s, d) => {
      // a feed with planted landing damage: day-of-month 11 never
      // landed (missing), day 7 kept only a third of its rows (short)
      val ev = Tables.events(s, d).select(col("ts"), col("event_id"))
        .filter(dayofmonth(col("ts")) =!= 11)
        .filter(dayofmonth(col("ts")) =!= 7 || col("event_id") % 3 === 0)
      Ingest.backfillPlan(ev, "ts", 0.6)
    }),
    "a11_snapshot_diff" -> ((s, d) => {
      // two generations of the customer dimension: every 17th key is
      // new in cur (insert), every 13th vanished (delete), every 11th
      // changed its balance (update); everything else must emit nothing
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val prev = base.filter(col("c_custkey") % 17 =!= 0)
      val cur = base.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 11 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")))
      Ingest.snapshotDiff(prev, cur, "c_custkey",
        Seq("c_name", "c_mktsegment", "c_acctbal"))
    }),
    "a6_cdc_merge" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      // a CDC batch over the feed's tail: every 7th key a delete, the
      // rest updates (value shifted so merged rows are distinguishable)
      val changes = ev.filter(col("event_id") >= 7000)
        .withColumn("value", col("value") + 10)
        .withColumn("op", when(col("event_id") % 7 === 0, "D").otherwise("U"))
      Ingest.cdcMerge(ev.filter(col("event_id") < 8000), changes,
        "event_id", "op", "period", "event_id")
    }),

    // ---------------- B. validation / quality ----------------
    "a13_dead_letter" -> ((s, d) =>
      // the quarantine ledger: one (record, reason) row per b1-rule
      // violation, so rejects land audited instead of vanishing
      Ingest.deadLetterLedger(Tables.events(s, d), "event_id", "ts",
        "user_id", "event_type", "value", eventTypes)),
    "b1_schema_violations" -> ((s, d) =>
      Quality.schemaViolations(Tables.events(s, d), "ts", "user_id", "event_type", "value", eventTypes)),
    "b2_extreme_outliers" -> ((s, d) =>
      Quality.extremeOutliers(Tables.events(s, d), "event_id", "value")),
    "b3_gap_detection" -> ((s, d) =>
      Quality.gapDetection(Tables.events(s, d), "user_id", "ts", "event_id", 3600L, 1.5)),
    "b4_duplicate_timestamps" -> ((s, d) =>
      Quality.duplicateTimestamps(Tables.events(s, d), "user_id", "ts")),
    "b5_value_stats" -> ((s, d) =>
      Quality.valueStats(Tables.events(s, d), "value")),
    "b6_region_stats" -> ((s, d) =>
      Quality.regionStats(Tables.events(s, d), "user_id", "value")),
    "b7_iqr_outliers" -> ((s, d) =>
      Quality.iqrOutliers(Tables.events(s, d), "user_id", "value")),
    "b8_missing_pct" -> ((s, d) =>
      Quality.missingPct(Tables.events(s, d), Seq("ts", "user_id", "event_type", "value"))),
    "b9_quality_report" -> ((s, d) =>
      Quality.qualityReport(Tables.events(s, d), "user_id", "ts", "event_id", "value", 3600L, 1.5)),
    "b10_validation_verdict" -> ((s, d) =>
      Quality.validationVerdict(Tables.events(s, d), "user_id", "ts", "event_id", "value", 5.0, 2.0)),
    "b11_value_stats_approx" -> ((s, d) =>
      Quality.valueStatsApprox(Tables.events(s, d), "value", 10000)),
    "b12_gap_summary" -> ((s, d) =>
      Quality.gapSummary(Tables.events(s, d), "user_id", "ts", "event_id", 3600L, 1.5)),
    // rows-only by design (HLL sketch — the b11 pattern for
    // cardinalities); differential spec bounds error at 3·rsd
    "b13_approx_distinct" -> ((s, d) =>
      Quality.distinctStatsApprox(Tables.events(s, d), "user_id", "ts", 0.02)),
    "b14_psi_drift" -> ((s, d) =>
      Quality.psiDrift(Tables.events(s, d), "user_id", "ts", "event_type",
        eventTypes, 14, 7, 0.1)),
    "b15_expectation_rules" -> ((s, d) =>
      Quality.expectationReport(Tables.events(s, d), Seq(
        Quality.ExpectNotNull("r1_value_not_null", "value"),
        Quality.ExpectBetween("r2_value_bounds", "value", Some(0.0), Some(100.0)),
        Quality.ExpectInSet("r3_type_domain", "event_type", eventTypes),
        Quality.ExpectUnique("r4_event_id_unique", "event_id"),
        Quality.ExpectMatches("r5_type_shape", "event_type", "^[a-z]+$"),
        Quality.ExpectImplies("r6_purchase_has_value", "event_type", "purchase",
          Quality.ExpectNotNull("_", "value"))))),
    "b16_expectation_by_key" -> ((s, d) =>
      Quality.expectationReportByKey(Tables.events(s, d), "user_id", Seq(
        Quality.ExpectNotNull("r1_value_not_null", "value"),
        Quality.ExpectBetween("r2_value_bounds", "value", Some(0.0), Some(100.0)),
        Quality.ExpectUnique("r3_event_id_unique", "event_id")))),
    "b18_freshness_check" -> ((s, d) =>
      // keys whose feed lags the corpus's newest event by >1 day —
      // the staleness monitor, anchored on max(ts) so it's
      // deterministic and oracle-able
      Quality.freshnessCheck(Tables.events(s, d), "user_id", "ts", 86400L)),
    "b19_volume_anomaly" -> ((s, d) =>
      // per-key daily ingest volume vs its trailing-7-observed-day
      // baseline — the silent-partial-feed detector b18's staleness
      // check cannot see (the feed still ticks, just thinner)
      Quality.volumeAnomaly(Tables.events(s, d), "user_id", "ts", 7, 3.0)),
    "b20_digit_profile" -> ((s, d) =>
      // Benford-family fabrication screen: per-key chi-square of
      // leading significant digits vs uniform 1..9, exact-integer
      // statistic, flagged at the 95%/8df cut
      Quality.leadingDigitProfile(Tables.events(s, d), "user_id", "value")),
    "b22_stats_drift" -> ((s, d) => {
      // snapshot profile gate, footer-priced: two event snapshots
      // (even/odd ids) land as parquet, per-column stats compare with
      // integer-exact drift flags
      val tmp = scratchDir("b22", d)
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("value"))
      ev.filter(col("event_id") % 2 === 0).write.mode("overwrite")
        .parquet(s"$tmp/a")
      ev.filter(col("event_id") % 2 =!= 0).write.mode("overwrite")
        .parquet(s"$tmp/b")
      graft.sources.ParquetStats.statsDrift(s, s"$tmp/a", s"$tmp/b",
        Seq("event_id", "user_id"))
    }),
    "b21_ks_drift" -> ((s, d) =>
      // bin-free numeric-distribution drift: exact two-sample KS per
      // event type over the b14 time split, decided on the integer
      // cents histogram — the CDF-shape change PSI's bins can miss
      Quality.ksDrift(Tables.events(s, d), "event_type", "ts", "value", 14, 7)),
    "b17_referential_integrity" -> ((s, d) =>
      // the star schema's declared FK graph, audited in one query:
      // fact→dim orphans (should be zero) and childless dimension
      // rows (expected: TPC-H customers without orders)
      Quality.referentialIntegrity(Seq(
        Quality.FkRelation("lineitem->orders",
          Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        Quality.FkRelation("orders->customer",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
        Quality.FkRelation("customer->nation",
          Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"),
        Quality.FkRelation("supplier->nation",
          Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey"),
        Quality.FkRelation("nation->region",
          Tables.nation(s, d), "n_regionkey", Tables.region(s, d), "r_regionkey")))),

    // ---------------- C. time-series prep + forecasting ----------------
    "c1_resample_hourly" -> ((s, d) =>
      TimeSeries.resample(Tables.events(s, d), "user_id", "ts", "value", "hour")),
    "c2_scale_minmax" -> ((s, d) =>
      TimeSeries.scaleMinMax(Tables.events(s, d), "user_id", "ts", "event_id", "value")),
    "c3_scale_standard" -> ((s, d) =>
      TimeSeries.scaleStandard(Tables.events(s, d), "user_id", "ts", "event_id", "value")),
    "c13_backtest" -> ((s, d) =>
      Forecast.backtest(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24, 3)),
    "c12_scaler_params" -> ((s, d) =>
      TimeSeries.scalerParams(Tables.events(s, d), "user_id", "value")),
    "c4_train_val_test_split" -> ((s, d) =>
      TimeSeries.trainValTestSplit(Tables.events(s, d), "user_id", "ts", "event_id", 0.7, 0.15)),
    "c5_lag_features" -> ((s, d) =>
      TimeSeries.lagFeatures(Tables.events(s, d), "user_id", "ts", "event_id", "value",
        Seq(1, 24, 168), 24)),
    "c6_seasonal_naive_forecast" -> ((s, d) =>
      Forecast.seasonalNaive(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24)),
    "c7_forecast_metrics" -> ((s, d) =>
      Forecast.metrics(
        Forecast.seasonalNaive(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24),
        "user_id", "value", "prediction")),
    "c8_linear_forecast" -> ((s, d) =>
      Forecast.linearTrend(Tables.events(s, d), "user_id", "ts", "value", 86400L)),
    "c9_drift_detection" -> ((s, d) =>
      Forecast.drift(Tables.events(s, d), "user_id", "ts", "value", 14, 7, 0.1)),
    "c10_rolling_stats" -> ((s, d) =>
      TimeSeries.rollingStats(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24)),
    "c11_ridge_lag_forecast" -> ((s, d) =>
      Forecast.ridgeLagForecast(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24, 1.0)),
    "c22_coeff_apply" -> ((s, d) => {
      // train -> apply in one entry (the gate has no cross-query
      // persistence); the round-trip through a parquet artifact is
      // spec'd in TimeSeriesSpec
      val ev = Tables.events(s, d)
      Forecast.applyCoefficients(ev,
        Forecast.ridgeLagForecast(ev, "user_id", "ts", "event_id", "value", 24, 1.0),
        "user_id", "ts", "event_id", "value", 24)
    }),
    "c14_multi_horizon_forecast" -> ((s, d) =>
      Forecast.multiHorizonForecast(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24, 3600L)),
    "c15_model_selection" -> ((s, d) =>
      Forecast.modelSelection(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24,
        Seq(0.01, 0.1, 1.0, 10.0, 100.0), 0.7, 0.15)),
    "c16_window_samples" -> ((s, d) =>
      TimeSeries.windowSamplesFlat(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24, 6, 4)),
    "c21_seasonal_decompose" -> ((s, d) =>
      Decompose.seasonalDecompose(Tables.events(s, d), "user_id", "ts", "event_id", "value", 12)),
    "c23_residual_anomalies" -> ((s, d) =>
      Decompose.residualAnomalies(Tables.events(s, d), "user_id", "ts", "event_id", "value", 12)),
    "c24_forecast_intervals" -> ((s, d) =>
      Forecast.forecastIntervals(Tables.events(s, d), "user_id", "ts", "event_id", "value", 24)),
    "c25_winsorize" -> ((s, d) =>
      // clip each series into its exact [5%, 95%] micro-unit quantile
      // interval — the robust pre-scaling companion to b2/b7's reports
      TimeSeries.winsorize(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 5, 100, 95, 100)),
    "c26_changepoint" -> ((s, d) =>
      // per key, the split maximizing the before/after mean shift
      // (both segments >= 24 rows) — WHERE the level moved, vs c9's
      // fixed-window did-it-move
      TimeSeries.changePoint(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 24)),
    "c27_autocorrelation" -> ((s, d) =>
      // lag-24 Pearson r per key: measured daily cyclicity, the score
      // that routes keys to seasonal vs trend forecasters
      TimeSeries.autocorrelation(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 24)),
    "c17_ema_smooth" -> ((s, d) =>
      TimeSeries.emaSmooth(Tables.events(s, d), "user_id", "ts", "event_id", "value", 0.2, 24)),
    "c28_holt_forecast" -> ((s, d) =>
      // Holt linear level+trend over the last 48 observations,
      // forecasts at h=1/2/3 — published driver-computed weight
      // vectors dotted against the bounded newest-first array
      Forecast.holtForecast(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 0.5, 0.25, 48, Seq(1, 2, 3))),
    "c29_holt_winters" -> ((s, d) =>
      // additive Holt-Winters: level + trend + 24-slot season over the
      // last 48 observations (two cycles), forecasts at h=1/2/3 — same
      // driver-computed weight-vector contract as c28
      Forecast.holtWintersForecast(Tables.events(s, d), "user_id", "ts", "event_id",
        "value", 0.5, 0.25, 0.5, 24, 48, Seq(1, 2, 3))),
    "c32_forecast_blend" -> ((s, d) =>
      // equal-weight blend of the c30 ridge and c6 naive predictions
      // on the shared held-out rows — the M-competition combination
      // baseline; exact int64 mean, no rounding boundary
      Forecast.blendForecasts(Tables.events(s, d), "user_id", "ts",
        "event_id", "value", 24, 7, 10, 10.0)),
    "c30_seasonal_ridge" -> ((s, d) =>
      // calendar-feature regression: trend + ridge-shrunken
      // hour-of-week effects (the LSTM's seq_len=168 feature space),
      // fit on each key's leading 70%, scored on the held-out 30%
      Forecast.seasonalRidgeForecast(Tables.events(s, d), "user_id", "ts",
        "event_id", "value", 7, 10, 10.0)),
    "c31_holt_winters_damped" -> ((s, d) =>
      // c29 with phi=0.9 trend damping — the long-horizon saturation
      // form; same driver-computed weight-vector contract
      Forecast.holtWintersDampedForecast(Tables.events(s, d), "user_id", "ts",
        "event_id", "value", 0.5, 0.25, 0.5, 0.9, 24, 48, Seq(1, 2, 3))),
    "c19_scaler_apply" -> ((s, d) => {
      val ev = Tables.events(s, d)
      TimeSeries.applyScaler(ev, TimeSeries.scalerParams(ev, "user_id", "value"),
        "user_id", "ts", "event_id", "value", "standard")
    }),
    "c20_scaler_inverse" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val params = TimeSeries.scalerParams(ev, "user_id", "value")
      val scaled = TimeSeries.applyScaler(ev, params,
        "user_id", "ts", "event_id", "value", "minmax")
      TimeSeries.inverseScaler(scaled, params, "user_id", "value_scaled", "minmax")
    }),
    "c18_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        periodOf("ts").as("period"), col("value"))
      val hourly = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("bucket"), col("value"))
        .groupBy(col("user_id"), col("bucket"))
        .agg(graft.functions.roundMeanE4(
          sum(cents(col("value")).cast("long")), count(lit(1))).as("bucket_avg"))
      graft.timeseries.AsOf.asofJoin(ev, hourly, "user_id", "period", "bucket", Seq("bucket_avg"))
    }),

    // ---------------- D. relational analytics ----------------
    "d1_pricing_summary" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "d2_revenue_by_nation" -> ((s, d) => Analytics.revenueByNation(s, d)),
    "d3_top_customers" -> ((s, d) => Analytics.topCustomers(s, d, 10)),
    "d9_grouped_topn" -> ((s, d) => Analytics.groupedTopN(s, d, 3)),
    "d10_big_orders" -> ((s, d) => Analytics.bigOrders(s, d, 200L)),
    "d4_order_priority_exists" -> ((s, d) => Analytics.orderPriorityExists(s, d)),
    "d5_promo_share" -> ((s, d) => Analytics.promoShare(s, d)),
    "d6_events_user_funnel" -> ((s, d) => Analytics.eventsUserFunnel(Tables.events(s, d))),
    "d7_salted_agg" -> ((s, d) =>
      graft.analytics.Skew.saltedAggregate(Tables.events(s, d), "user_id", "event_id", "value", 16)),
    "d8_revenue_rollup" -> ((s, d) => Analytics.revenueRollup(s, d)),
    "d11_pricing_cube" -> ((s, d) => Analytics.pricingCube(s, d)),
    "d12_activity_pivot" -> ((s, d) =>
      Analytics.activityPivot(Tables.events(s, d), "user_id", "event_type",
        "value", eventTypes)),
    "d13_cohort_retention" -> ((s, d) =>
      Analytics.cohortRetention(Tables.events(s, d), "user_id", "ts")),
    "d14_activity_heatmap" -> ((s, d) =>
      Analytics.activityHeatmap(Tables.events(s, d), "ts", "value")),
    "d15_part_pair_counts" -> ((s, d) =>
      // market basket: the 100 part pairs co-ordered most often; the
      // per-order pair fanout is basket-bounded (≤21 per order), so
      // the pair space is linear in lineitem, never corpus-quadratic
      Analytics.partPairCounts(Tables.lineitem(s, d), 100)),
    "d16_weekly_movers" -> ((s, d) =>
      // the 25 biggest week-over-week revenue moves per nation —
      // exact-integer delta ranking on the calendar-bounded aggregate
      Analytics.weeklyRevenueMovers(s, d, 25)),
    "d17_revenue_concentration" -> ((s, d) =>
      // the Pareto view: customers covering 80% of each nation's
      // revenue + the top whale's share, decided in exact integers
      Analytics.revenueConcentration(s, d)),
    "d18_basket_lift" -> ((s, d) =>
      // association-rule confidence/lift for the top co-ordered part
      // pairs — d15's basket shape feeding three bounded consumers
      Analytics.basketLift(Tables.lineitem(s, d), 100)),
    "d19_window_funnel" -> ((s, d) =>
      // ORDERED view→click→purchase funnel within 1 h (d6 counts
      // types unordered; this proves the sequence) — one per-user
      // sort, chained running-max anchors, zero self-joins
      Analytics.windowFunnel(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", Seq("view", "click", "purchase"), 3600L)),
    "d23_order_histogram" -> ((s, d) =>
      // Q13: orders per customer (zero-order customers via left join)
      // -> count-of-counts histogram; all-integer outputs
      Analytics.orderCountHistogram(Tables.customer(s, d), Tables.orders(s, d))),
    "d22_small_qty_revenue" -> ((s, d) =>
      // Q17: the correlated per-part average decorrelated into one
      // aggregate + broadcast-back; threshold in exact integer
      // cross-multiplication
      Analytics.smallQuantityRevenue(Tables.lineitem(s, d), Tables.part(s, d),
        "Brand#13")),
    "d21_top_supplier" -> ((s, d) =>
      // Q15: per-supplier revenue over a shipping quarter, then the
      // global-max supplier(s) via a broadcast 1-row max — ties all
      // emit; revenue in exact integer 1e-4 units so max and the
      // equality filter cannot drift
      Analytics.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d),
        "1996-01-01", "1996-04-01")),
    "d20_order_lifecycle" -> ((s, d) =>
      // Q21-style: suppliers who were the ONLY late shipper on a
      // multi-supplier 'F' order — both EXISTS quantifiers collapse
      // into one per-order aggregate; zero fact re-scans
      Analytics.orderLifecycle(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d), 60, 100)),

    // ---------------- E. LLM-data operators ----------------
    "e1_exact_dedup" -> ((s, d) =>
      Dedup.exactDedupGroups(Tables.documents(s, d), "doc_id", "text")),
    "e2_minhash_lsh_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text", 3, 16, 4)),
    "e51_minhash_estimate" -> ((s, d) =>
      // e2's candidates scored from signature agreement alone — the
      // cheap middle tier before e4/e36's exact gram verify
      Dedup.minhashEstimatePairs(Tables.documents(s, d), "doc_id", "text", 3, 16, 4)),
    "e52_lsh_recall" -> ((s, d) =>
      // does the e2 banding actually catch the true near-dups? exact
      // word-shingle Jaccard ≥ 0.5 on the fixed doc_id<200 eval set
      // vs the production candidates — the text twin of e41
      Dedup.lshRecall(Tables.documents(s, d), "doc_id", "text", 3, 16, 4, 200L, 0.5)),
    "e53_curation_funnel" -> ((s, d) =>
      // the corpus-build accounting table: survivors per cumulative
      // stage (raw → lang → quality → length → exact dedup), one
      // narrow pass + one aggregate — the corpus never moves
      TextOps.curationFunnel(Tables.documents(s, d), "doc_id", "text", 0.5, 10L, 5000L)),
    "e54_dup_rate_by_source" -> ((s, d) =>
      // WHICH feed floods the corpus with copies: per-source doc /
      // distinct / dup counts + half-up-e4 dup rate — e1 dedups, this
      // attributes the duplication
      Dedup.dupRateBySource(Tables.documents(s, d), "doc_id", "text", "source")),
    "e55_cross_source_neardup" -> ((s, d) =>
      // the feed Venn diagram at the NEAR-dup level (exact-hash
      // overlap is zero here — cross-feed copies re-format): e2
      // candidates, exact shingle-Jaccard verify, per-source-pair cells
      Dedup.crossSourceNeardup(Tables.documents(s, d), "doc_id", "text",
        "source", 3, 16, 4, 0.5)),
    "e56_corpus_build" -> ((s, d) =>
      // the E-group composed end-to-end (round-9 verdict item 3):
      // curation filters → near-dup canonical dedup → span scrub →
      // post-scrub quality quantile → per-source cap → temperature
      // mixture → sequence packing → shard shuffle, one row per packed
      // training sequence — the stage CONTRACTS verified to compose,
      // not just to hold solo
      graft.pipeline.CorpusBuild.corpusBuild(Tables.documents(s, d),
        "doc_id", "text", "source",
        minQuality = 0.5, minWords = 10L, maxWords = 5000L,
        shingleSize = 3, jaccardThreshold = 0.6, scrubWindow = 8,
        keepNum = 1L, keepDen = 2L, cap = 15L,
        budgetNum = 3L, budgetDen = 10L,
        seqBudget = 256, nShards = 4)),
    "e57_gopher_rules" -> ((s, d) =>
      // the published Gopher heuristic filter set as per-rule
      // booleans — every ratio decided in exact integer
      // cross-multiplication, one narrow map pass
      TextOps.gopherRules(Tables.documents(s, d), "doc_id", "text")),
    "e58_lm_buckets" -> ((s, d) =>
      // CCNet-style head/middle/tail corpus tiers per language: e34's
      // LM score + histogram value-thresholds (never a corpus rank)
      TextOps.lmQualityBuckets(Tables.documents(s, d), "doc_id", "text",
        "lang", 5L)),
    "e3_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Dedup.simhash(Tables.documents(s, d), "doc_id", "text"), 3)),
    "e29_simhash128" -> ((s, d) =>
      Dedup.simhashPairs128(Dedup.simhash128(Tables.documents(s, d), "doc_id", "text"), 3)),
    "e30_dup_spans" -> ((s, d) =>
      Dedup.dupSpanStats(Tables.documents(s, d), "doc_id", "text", 8)),
    "e44_dup_span_scrub" -> ((s, d) =>
      Dedup.dupSpanScrub(Tables.documents(s, d), "doc_id", "text", 8)),
    "e4_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 3, 0.6)),
    "e5_cosine_dup_pairs" -> ((s, d) =>
      Similarity.cosineDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", "label", 0.25)),
    "e6_ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    "e7_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annLshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 16, 4, 5)
    }),
    "e59_hard_negatives" -> ((s, d) => {
      // contrastive-training hard negatives: nearest DIFFERENT-label
      // vectors per anchor, from the e7 LSH bucket path (label filter
      // before scoring — same-label near-neighbors never cost a dot)
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesLsh(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 16, 4, 5)
    }),
    "e42_source_token_lift" -> ((s, d) =>
      TextOps.sourceTokenLift(Tables.documents(s, d), "text", "source", 5L, 10)),
    "e43_ngram_containment" -> ((s, d) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 3, 0.8)),
    "e41_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annRecall(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 16, 4, 5)
    }),
    "e13_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.vector.Cluster.annIvfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 8, 2, 3, 5)
    }),
    "e61_pq_ann" -> ((s, d) => {
      // product-quantization ADC shortlist (16 subspaces × 16
      // codewords over the 64-dim embeddings — 16x code compression)
      // + exact re-rank of the 50-deep shortlist; rows-only — recall
      // + lossless-exactness specs gate quality (the b11/b13
      // exemption class). Fit-sample sizing comes from the parquet
      // FOOTER total (§5) — never a count() job.
      val emb = Tables.embeddings(s, d)
      graft.vector.Cluster.pqAnnTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 16, 16, 2, 5, 50,
        Some(ParquetStats.rowCount(s, s"$d/embeddings.parquet")))
    }),
    "e62_ann_ivfpq" -> ((s, d) => {
      // the billion-vector composition (FAISS IVFPQ): 8 coarse cells,
      // 5 probed per query, residual-encoded 16×16 codebooks, salted
      // ADC shortlist (50) + exact re-rank; rows-only — recall ≥ e61
      // at equal rerank + lossless-case equality specs gate quality.
      // The hot-cell guard is sized generously here (the full corpus)
      // so the operator runs at every SF; the spec plants the
      // degenerate case that must trip it.
      val emb = Tables.embeddings(s, d)
      val n = ParquetStats.rowCount(s, s"$d/embeddings.parquet")
      graft.vector.Cluster.ivfPqAnnTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 8, 2, 5, 16, 16, 2, 5, 50,
        Some(n), Some(n))
    }),
    "e8_lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d), "doc_id", "text")),
    "e9_quality_score" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text")),
    "e48_shuffle_shard" -> ((s, d) =>
      // the corpus build's last step: deterministic global shuffle into
      // 8 training shards with exact per-shard positions — ranked via
      // the bucket-offset histogram, never a whole-shard sort
      Sampling.shuffleShard(
        Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id", 8)),
    "e47_group_cap_sample" -> ((s, d) =>
      // exact per-source cap: keep exactly 15 docs per source in a
      // deterministic pseudo-random order — the anti-over-representation
      // cap a mixture build applies before e33's temperature sampling
      Sampling.groupCapSample(
        Tables.documents(s, d).select(col("source"), col("doc_id"), col("lang")),
        "doc_id", "source", 15L)),
    "e46_quality_quantile_filter" -> ((s, d) =>
      // per-source quality filtering, the CCNet/FineWeb curation step:
      // score in one narrow pass (source carried through), then keep
      // each source's top half by exact histogram-derived quantile —
      // boundary ties all kept, corpus never shuffled. Ranks on the
      // near-continuous stopword_ratio (the C4 natural-prose proxy;
      // the composite quality_score, carried through for the reader,
      // is too coarse to rank on — its boundary tie group would
      // swallow the quantile)
      Sampling.quantileTopFilter(
        TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text", Seq("source"))
          .select(col("source"), col("doc_id"), col("quality_score"), col("stopword_ratio")),
        "stopword_ratio", "source", 1L, 2L)),
    "e10_token_count" -> ((s, d) => TextOps.tokenCount(Tables.documents(s, d), "doc_id", "text")),
    "e11_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d), "doc_id", "text")),
    "e12_binary_meta" -> ((s, d) => Binary.binaryMeta(Tables.documents(s, d), "doc_id", "text")),
    "e14_sentiment" -> ((s, d) => TextOps.sentiment(Tables.documents(s, d), "doc_id", "text")),
    "e16_token_freq" -> ((s, d) =>
      TextOps.tokenFrequency(Tables.documents(s, d), "doc_id", "text", 5L)),
    "e31_ngram_freq" -> ((s, d) =>
      TextOps.ngramFrequency(Tables.documents(s, d), "doc_id", "text", 2, 5L)),
    "e49_bpe_pair_counts" -> ((s, d) =>
      TextOps.bpePairCounts(Tables.documents(s, d), "doc_id", "text", 2L)),
    "e60_bpe_merge_loop" -> ((s, d) =>
      // the full 8-round BPE merge loop over e49's vocab machinery:
      // corpus reduced to word frequencies ONCE, then vocab-sized
      // count/pick/rewrite rounds with per-round checkpoints
      TextOps.bpeMergeLoop(Tables.documents(s, d), "doc_id", "text", 8, 2L)),
    "e64_pack_by_bpe" -> ((s, d) => {
      // the e63 -> e23 composition: pack each source's documents
      // against the TRAINED tokenizer's counts, not the whitespace
      // proxy — the budget a trainer actually fills
      val docs = Tables.documents(s, d)
      val counts = TextOps.bpeTokenCounts(docs, "doc_id", "text", 8, 2L)
      TextOps.packSequencesByCount(
        counts.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", "n_tokens", "source", 1024)
    }),
    "e65_tokenizer_apply" -> ((s, d) => {
      // the tokenizer LIFECYCLE: train (e60) -> persist the merge
      // table as a versioned artifact (g13 store -> tokenizer
      // versions for free) -> load -> encode-only apply on the
      // corpus. Output equals e63's direct train+encode, so the
      // oracle is shared verbatim.
      val docs = Tables.documents(s, d)
      val dir = scratchDir("e65", d)
      graft.sources.PagedFeed.reset(s, dir)
      graft.sources.Sources.appendVersion(
        TextOps.bpeMergeLoop(docs, "doc_id", "text", 8, 2L), s, dir)
      val merges = graft.sources.Sources.readVersion(s, dir,
          graft.sources.Sources.currentVersion(s, dir))
        .orderBy(col("merge_rank")).collect().map(_.getString(1)).toSeq
      TextOps.applyBpeMerges(docs, "doc_id", "text", merges)
    }),
    "e63_bpe_encode_count" -> ((s, d) =>
      // per-doc token counts under the TRAINED (e60) tokenizer: the
      // real token accounting e10's regex proxy approximates — train
      // on the word table, broadcast (word -> symbol count) back onto
      // one narrow corpus tokenize pass, sum per doc
      TextOps.bpeTokenCounts(Tables.documents(s, d), "doc_id", "text", 8, 2L)),
    "e15_frame_sample" -> ((s, d) =>
      Binary.frameSample(Tables.documents(s, d), "doc_id", "text", 16, 4)),
    "e66_dup_cluster_stats" -> ((s, d) =>
      // the dedup report: count-of-counts over the e17 components —
      // how many clusters of each size the pair graph resolves to
      Components.componentSizeHistogram(Components.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          Seq("lang", "source"), 3, 0.6),
        "doc_a", "doc_b"))),
    "e17_dup_clusters" -> ((s, d) =>
      Components.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          Seq("lang", "source"), 3, 0.6),
        "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))),
    "e18_dedup_keep_canonical" -> ((s, d) =>
      Components.keepCanonical(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          Seq("lang", "source"), 3, 0.6),
        "doc_id", "doc_a", "doc_b")),
    "e19_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
        "doc_id", "lang", Map("en" -> 0.5, "zh" -> 0.8), 0.25)),
    "e20_tfidf_topk" -> ((s, d) =>
      TextOps.tfidfTopK(Tables.documents(s, d), "doc_id", "text", 5)),
    "e21_redact" -> ((s, d) =>
      TextOps.redact(Tables.documents(s, d), "doc_id", "text")),
    "e22_cosine_dup_lsh" -> ((s, d) => {
      // scale-safe gate config: banding derives from the corpus count
      // (at sf0.01 this is autoPlanes(500,8)=16, the former fixed
      // config; at sf1 it self-tunes to the wider banding BASELINE.md
      // showed is needed). The count comes from parquet FOOTER metadata
      // (ParquetStats.rowCount — a catalog row-count stat on a real
      // deployment), NOT a df.count(): through round 7 that was a
      // column-pruned scan JOB per invocation; now no job runs before
      // the query itself (PlanAuditSpec pins this).
      Similarity.cosineDupPairsLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        Similarity.autoPlanes(ParquetStats.rowCount(s, s"$d/embeddings.parquet"), 8),
        8, 0.25)
    }),
    // SemDeDup-style semantic dedup (Abbas et al. 2023): the e22
    // LSH-blocked cosine pairs feed the SAME distributed components /
    // keep-canonical machinery as the text-side e17/e18 — near-dup
    // semantics in embedding space, cluster resolution unchanged.
    // Threshold 0.45, NOT e22's 0.25: clustering needs a TIGHT near-dup
    // cut. Measured at sf1, 99.9% of >=0.25 pairs are background
    // similarity and the transitive closure collapses 20k vectors into
    // ONE component (keep-canonical degenerates to keeping 1 row);
    // at 0.45 the corpus resolves into 2,777 real components (largest
    // 256). Same lesson as BASELINE's "LSH blocking earns its keep on
    // tight thresholds", one level up: cluster RESOLUTION needs it too
    "e37_semantic_dup_clusters" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = ParquetStats.rowCount(s, s"$d/embeddings.parquet")
      Components.connectedComponents(
        Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding",
          Similarity.autoPlanes(n, 8), 8, 0.45),
        "id_a", "id_b")
        .select(col("node").as("vec_id"), col("component"))
    }),
    "e38_semantic_keep_canonical" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = ParquetStats.rowCount(s, s"$d/embeddings.parquet")
      Components.keepCanonical(emb.select(col("vec_id"), col("label")),
        Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding",
          Similarity.autoPlanes(n, 8), 8, 0.45),
        "vec_id", "id_a", "id_b")
    }),
    "e23_sequence_pack" -> ((s, d) =>
      TextOps.packSequences(Tables.documents(s, d), "doc_id", "text", "source", 1024)),
    "e24_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50), "doc_id", "text", 5, 3)
    }),
    "e25_repetition_stats" -> ((s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")),
    "e27_embedding_quantize" -> ((s, d) =>
      Similarity.quantizeInt8Flat(Tables.embeddings(s, d), "vec_id", "embedding")),
    "e28_pack_materialize" -> ((s, d) =>
      TextOps.materializePacked(Tables.documents(s, d), "doc_id", "text", "source", 1024)),
    "e26_chunk_text" -> ((s, d) =>
      TextOps.chunkText(Tables.documents(s, d), "doc_id", "text", 64, 16)),
    "e32_incremental_dedup" -> ((s, d) => {
      // ids < 250 arrive as the new crawl batch; everything above is
      // the already-ingested corpus — the batch stays SMALL and the
      // seen side GROWS with scale factor, the orientation the
      // operator's 100 TB design assumes (ScaleGen shifts replica ids
      // upward, so the accumulated side is what multiplies at sf1/sf10)
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", Seq("lang", "source"))
    }),
    "e40_maintained_exact_dedup" -> ((s, d) => {
      // e32's semantics with the seen side as the MAINTAINED distinct
      // hash table (the e39 pattern for the exact path): per crawl,
      // only the batch is hashed; the corpus contributes 16-byte keys
      // from persisted storage. Table built in-query here so the e32
      // oracle applies verbatim.
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactDedupFromTable(
        docs.filter(col("doc_id") < 250),
        Dedup.seenHashTable(docs.filter(col("doc_id") >= 250), "text"),
        "doc_id", "text", Seq("lang", "source"))
    }),
    "e45_bloom_dedup" -> ((s, d) => {
      // e32's semantics behind a Bloom prefilter: the seen corpus
      // never shuffles — its keys compress into a distributed-built
      // filter, and only maybe-seen batch rows reach the exact check.
      // The filter is SIZED from the parquet footer row count (the
      // catalog-stats pattern e22 set), never a count() pre-scan; the
      // full-table count over-sizes vs the seen split, which only
      // lowers fpp.
      val docs = Tables.documents(s, d)
      Dedup.bloomPrefilterDedup(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", Seq("lang", "source"),
        ParquetStats.rowCount(s, s"$d/documents.parquet"))
    }),
    "e33_mixture_sample" -> ((s, d) =>
      Sampling.temperatureMixSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
        "doc_id", "source", 3L, 10L)),
    "e35_incremental_minhash" -> ((s, d) => {
      // same orientation as e32: ids < 250 are the new crawl batch
      // (stays small — it is the force-broadcast side), ids >= 250 the
      // accumulated corpus that multiplies with scale factor
      val docs = Tables.documents(s, d)
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", 3, 16, 4)
    }),
    "e34_unigram_logprob" -> ((s, d) =>
      TextOps.unigramLogProb(Tables.documents(s, d), "doc_id", "text", 5L)),
    "e50_bigram_logprob" -> ((s, d) =>
      TextOps.bigramLogProb(Tables.documents(s, d), "doc_id", "text", 5L)),
    "e36_neardup_admit" -> ((s, d) => {
      // the e32/e35 orientation: ids < 250 are the new crawl batch,
      // admitted iff no LSH candidate against the accumulated corpus
      // survives exact 3-gram Jaccard at 0.6 (the e4 threshold)
      val docs = Tables.documents(s, d)
      Dedup.incrementalNeardupFilter(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", Seq("lang", "source"), 3, 16, 4, 3, 0.6)
    }),
    "e39_maintained_minhash" -> ((s, d) => {
      // e35's semantics with the seen side as a MAINTAINED signature
      // table — the production shape: the corpus text is never re-read
      // per crawl, only its persisted (doc_id, band, sig) table is
      // probed. Here the table is built in-query from the same docs so
      // the e35 oracle applies verbatim; the localCheckpoint stands in
      // for the table's materialized storage (two column-pruned
      // consumers: hot-list agg + candidate join).
      val docs = Tables.documents(s, d)
      val table = Dedup.bandSignatures(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", 3, 16, 4)
        .checkpointAs("SparkEntry.e39_maintained_minhash.table")
      Dedup.incrementalMinhashPairsFromTable(
        docs.filter(col("doc_id") < 250), table, "doc_id", "text", 3, 16, 4)
    }),

    // ---------------- G. sources / sinks ----------------
    // (scratch paths/table names derive from the sanitized dataset dir
    // itself — abs(hashCode) could collide across dirs and stays
    // negative for Int.MinValue, letting one run's batches bleed into
    // another's read)
    "g1_csv_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("csv", d)
      graft.sources.Sources.writeCsv(ev, tmp)
      graft.sources.Sources.validRecords(graft.sources.Sources.readCsv(s, tmp, feedSchema))
    }),
    "g13_versioned_read" -> ((s, d) => {
      // manifest-gated snapshot versioning (poor-man's time travel):
      // v1 and v2 published append-only, a TORN third write planted
      // (data landed, manifest never published) — reading each
      // version must see exactly its snapshot, the orphan never
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
      val dir = scratchDir("g13", d)
      graft.sources.PagedFeed.reset(s, dir)
      graft.sources.Sources.appendVersion(ev.filter(col("event_id") % 3 === 0), s, dir)
      graft.sources.Sources.appendVersion(ev.filter(col("event_id") % 3 =!= 0), s, dir)
      ev.limit(7).write.mode("overwrite").parquet(s"$dir/data/v3")
      Seq(1L, 2L).map { v =>
        graft.sources.Sources.readVersion(s, dir, v)
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.centsSum(col("value")).as("sum_value"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_value"))
      }.reduce(_ union _)
    }),
    "g14_version_retention" -> ((s, d) => {
      // keep-newest-N retention GC over the g13 manifest store: two
      // appends, a full-snapshot REWRITE (v3), one more append (v4),
      // then retain the newest 2 — v1/v2 expire and their data dirs
      // (unreferenced since the rewrite cut the chain) are reclaimed;
      // a second retention run must be a no-op (idempotence). The
      // emitted rows prove the live versions read identically post-GC
      // and pin the post-GC filesystem state as literal counts.
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
      val dir = scratchDir("g14", d)
      graft.sources.PagedFeed.reset(s, dir)
      graft.sources.Sources.appendVersion(ev.filter(col("event_id") % 3 === 0), s, dir)
      graft.sources.Sources.appendVersion(ev.filter(col("event_id") % 3 =!= 0), s, dir)
      graft.sources.Sources.overwriteVersion(ev, s, dir)
      graft.sources.Sources.appendVersion(ev.filter(col("event_id") % 7 === 0), s, dir)
      val (expired, removed) = graft.sources.Sources.retainVersions(s, dir, 2)
      val (expired2, removed2) = graft.sources.Sources.retainVersions(s, dir, 2)
      val nExpired = expired.size + expired2.size
      val nRemoved = removed.size + removed2.size
      val liveManifests = graft.sources.Sources.listVersions(s, dir).size
      val liveDirs = graft.sources.Sources.versionDataDirs(s, dir).size
      Seq(3L, 4L).map { v =>
        graft.sources.Sources.readVersion(s, dir, v)
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.centsSum(col("value")).as("sum_value"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_value"),
            lit(nExpired.toLong).as("n_expired"), lit(nRemoved.toLong).as("n_removed"),
            lit(liveManifests.toLong).as("live_manifests"),
            lit(liveDirs.toLong).as("live_dirs"))
      }.reduce(_ union _)
    }),
    "g15_run_ledger" -> ((s, d) => {
      // append-only run/metrics ledger on the g13 manifest store (the
      // reference's per-run report JSON + MLflow metric logging): run
      // 1 logs the b9 quality report, run 2 logs the b10 verdict
      // scalars plus a c7 aggregate — the read-back is the full
      // chained ledger, every run stamped with its own run_ts. The
      // aggregates ledgered are exact-integer-derived (counts and a
      // sum of 4-decimal-rounded rmses in 1e-4 units), so the value
      // column is oracle-exact.
      val ev = Tables.events(s, d)
      val dir = scratchDir("g15", d)
      graft.sources.PagedFeed.reset(s, dir)
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
      val run1 = graft.validate.Quality.qualityReport(
          ev, "user_id", "ts", "event_id", "value", 3600L, 1.5)
        .select(lit("b9_quality_report").as("operator"), col("metric"), col("value"))
      graft.sources.RunLedger.appendRun(run1, s, dir, t1)
      val c7 = Forecast.metrics(
        Forecast.seasonalNaive(ev, "user_id", "ts", "event_id", "value", 24),
        "user_id", "value", "prediction")
      val c7m = c7.agg(count(lit(1)).as("__k"),
          sum(round(col("rmse") * 10000, 0).cast("long")).as("__sr"))
        .selectExpr("'c7_forecast_metrics' AS operator",
          "stack(2, 'n_keys', CAST(__k AS DOUBLE), " +
            "'sum_rmse_e4', CAST(__sr AS DOUBLE)) AS (metric, value)")
      val b10m = graft.validate.Quality.validationVerdict(
          ev, "user_id", "ts", "event_id", "value", 5.0, 2.0)
        .selectExpr("'b10_validation_verdict' AS operator",
          "stack(5, 'total_records', CAST(total_records AS DOUBLE), " +
            "'missing_value_pct', missing_value_pct, " +
            "'duplicate_groups', CAST(duplicate_groups AS DOUBLE), " +
            "'error_count', CAST(error_count AS DOUBLE), " +
            "'is_valid', CAST(CASE WHEN is_valid THEN 1 ELSE 0 END AS DOUBLE)) " +
            "AS (metric, value)")
      graft.sources.RunLedger.appendRun(c7m.unionByName(b10m), s, dir, t2)
      graft.sources.RunLedger.readLedger(s, dir)
    }),
    "g12_csv_rescue" -> ((s, d) => {
      // the quarantine AUDIT over a feed with a torn part file: land
      // the canonical CSV, plant four deterministic malformed lines
      // (bad long, bad double, short row, extra columns), read back
      // PERMISSIVE and report the valid count + each quarantined raw
      // line — the scan survives, nothing coerces silently
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("rescue", d)
      graft.sources.Sources.writeCsv(ev, tmp)
      graft.sources.Sources.appendRawCsvPart(s, tmp, "part-torn.csv",
        "event_id,period,user_id,event_type,value\n" + tornCsvLines.mkString("\n") + "\n")
      val parsed = graft.sources.Sources.readCsv(s, tmp, feedSchema)
      val good = graft.sources.Sources.validRecords(parsed)
        .agg(count(lit(1)).as("n"))
        .select(lit("__valid__").as("record"), col("n"))
      val bad = graft.sources.Sources.corruptRecords(parsed)
        .groupBy(col(graft.sources.Sources.corruptCol).as("record"))
        .agg(count(lit(1)).as("n"))
      good.unionByName(bad)
    }),
    "g2_partitioned_sink_prune" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("pq", d)
      graft.sources.Sources.writePartitionedParquet(ev, tmp, Seq("event_type"))
      // the filter prunes to one partition directory at planning time
      graft.sources.Sources.readParquet(s, tmp)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("period"), col("user_id"),
          col("event_type").cast("string").as("event_type"), col("value"))
    }),
    "g7_partition_overwrite" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("dpo", d)
      // initial full land (static), then the scheduled re-land
      // recomputes ONE partition under dynamic overwrite — siblings
      // must come back untouched, the re-landed one replaced
      graft.sources.Sources.writePartitionedParquet(ev, tmp, Seq("event_type"))
      graft.sources.Sources.relandPartitions(
        ev.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") + 10),
        tmp, Seq("event_type"))
      graft.sources.Sources.readParquet(s, tmp)
        .select(col("event_id"), col("period"), col("user_id"),
          col("event_type").cast("string").as("event_type"), col("value"))
    }),
    "g8_compaction" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("compact", d)
      // a year of incremental lands: the feed fragmented into 64 small
      // files; compact to ~1 MiB targets and return the read-back —
      // content must be layout-invariant (the oracle is the plain feed)
      ev.repartition(64).write.mode("overwrite").parquet(s"$tmp/src")
      graft.sources.Sources.compactParquet(s, s"$tmp/src", s"$tmp/dst", 1L << 20)
    }),
    "g9_sorted_layout" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("sorted", d)
      // range-partition + sort on the time key: every file owns a
      // disjoint period range (footer-stats proof in SourcesSpec), so
      // time predicates skip files/row groups at read time
      graft.sources.Sources.writeSortedLayout(ev, tmp, "period", 16)
    }),
    "g10_zorder_layout" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("zorder", d)
      // Morton-interleave user_id × period: every file gets a tight
      // min/max box in BOTH dimensions, so user predicates AND time
      // predicates each skip ~√nFiles of the files (footer-stats proof
      // vs a single-key-sorted control in SourcesSpec)
      graft.sources.Sources.writeZorderLayout(ev, tmp, "user_id", "period", 16)
    }),
    "g11_stats_catalog" -> ((s, d) =>
      // ANALYZE from footers only: exact per-column stats with zero
      // data pages read — the catalog build the autoPlanes/pruning
      // family consumes; oracled against a full DuckDB scan
      graft.sources.ParquetStats.analyzeTable(s, s"$d/events.parquet",
        Seq("event_id", "user_id"))),
    "g4_jsonl_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("jsonl", d)
      graft.sources.Sources.writeJsonl(ev, tmp)
      graft.sources.Sources.validRecords(graft.sources.Sources.readJsonl(s, tmp, feedSchema))
    }),
    "g3_bucketed_join" -> ((s, d) => {
      // both fact sides written bucketed on the join key -> the join
      // below plans with zero Exchange (see SourcesSpec assertion)
      val sfx = pathTag(d)
      graft.sources.Sources.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"g3_orders_$sfx", "o_custkey", 8)
      graft.sources.Sources.writeBucketed(
        Tables.customer(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        s"g3_customer_$sfx", "c_custkey", 8)
      s.table(s"g3_orders_$sfx")
        .join(s.table(s"g3_customer_$sfx"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.roundMeanE4(
            sum(cents(col("o_totalprice")).cast("long")), count(lit(1))).as("avg_price"))
        .select(col("c_custkey"), col("n_orders"), col("avg_price"))
    }),

    // ---------------- F. streaming-shaped ----------------
    "f4_windowed_quality" -> ((s, d) =>
      Streams.windowedQuality(Tables.events(s, d), "ts", "value", "hour")),
    "f1_sessionize" -> ((s, d) =>
      Streams.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", "value", 1800L)),
    "f2_tumbling_window" -> ((s, d) =>
      Streams.tumblingWindow(Tables.events(s, d), "ts", "event_type", "value", "hour")),
    "f3_stream_dedup" -> ((s, d) =>
      Streams.streamDedup(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
          periodOf("ts").as("period"), col("value")),
        Seq("user_id", "event_type", "period"), "event_id")),
    "f5_hopping_window" -> ((s, d) =>
      Streams.hoppingWindow(Tables.events(s, d), "ts", "value", "2 hours", "1 hour")),
    "f6_interval_join" -> ((s, d) =>
      Streams.intervalJoin(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", "value", "purchase", 1800L)),
    "f7_stream_static_join" -> ((s, d) =>
      Streams.staticEnrich(Tables.events(s, d), Tables.customer(s, d),
        "user_id", "c_custkey", "ts", "c_mktsegment", "value", "hour")),
    "f10_session_window" -> ((s, d) =>
      // f1's sessions on Spark's NATIVE session_window operator —
      // session_end is last-event + gap (the window's upper bound);
      // streaming twin runs the state-store session aggregate
      Streams.sessionWindowAgg(Tables.events(s, d), "user_id", "ts", "value", 1800L)),
    "f9_rate_cap" -> ((s, d) =>
      // first 5 events per (user, hour) in (ts, id) order — the edge
      // throttle; streaming twin holds one counter per open window
      Streams.rateCap(Tables.events(s, d), "user_id", "ts", "event_id",
        "hour", 5)),
    "f11_windowed_drift" -> ((s, d) =>
      // per-hour PSI of the event-type mix vs the published reference
      // distribution (registry-shaped config) — the model-monitoring
      // stream; twin = windowedDriftStream
      Streams.windowedDrift(Tables.events(s, d), "ts", "event_type",
        eventTypes, f11RefCounts)),
    "f12_stream_funnel" -> ((s, d) =>
      // batch contract of the STREAMING funnel twin
      // (Streams.windowFunnelStream): d19's greedy anchor-chain
      // semantics at k=4 (signup→view→click→purchase within 2 h);
      // StreamsSpec pins stream/batch parity and the late-data drop
      Analytics.windowFunnel(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", f12Steps, 7200L)),
    "f13_stream_quality_ledger" -> ((s, d) => {
      // REAL streaming machinery: events as a file-source stream,
      // foreachBatch appends a bounded per-hour quality report to the
      // manifest-versioned ledger exactly once per batch (idempotent
      // by batch id), AvailableNow drains; the read-back aggregates
      // across batches so the result is batching-invariant
      val tmp = scratchDir("f13", d)
      val ev = Tables.events(s, d).select(col("event_id"), periodOf("ts").as("period"), col("value"))
      ev.write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream.schema(ev.schema).parquet(s"$tmp/src")
      graft.sources.PagedFeed.reset(s, s"$tmp/ledger")
      graft.sources.PagedFeed.reset(s, s"$tmp/ckpt")
      graft.streaming.LedgerSink.streamQualityLedger(stream,
        s"$tmp/ledger", s"$tmp/ckpt", "period", "value").awaitTermination()
      graft.streaming.LedgerSink.readQualityLedger(s, s"$tmp/ledger")
    }),
    "f8_stream_upsert" -> ((s, d) => {
      // the REAL streaming machinery end-to-end (not the batch twin):
      // events land as a file-source stream, foreachBatch upserts the
      // per-user latest state into a hash-bucketed parquet table,
      // AvailableNow drains, and the maintained table is the result
      val tmp = scratchDir("upsert", d)
      val ev = Tables.events(s, d).select(col("event_id"), periodOf("ts").as("period"),
        col("user_id"), col("event_type").cast("string").as("event_type"),
        col("value"))
      ev.write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream.schema(ev.schema).parquet(s"$tmp/src")
      graft.sources.PagedFeed.reset(s, s"$tmp/table")
      graft.sources.PagedFeed.reset(s, s"$tmp/ckpt")
      Upsert.streamUpsert(stream, s"$tmp/table", s"$tmp/ckpt",
        "user_id", "period", "event_id", nBuckets = 32)
        .awaitTermination()
      Upsert.readTable(s, s"$tmp/table")
        .select(col("event_id"), col("period"), col("user_id"),
          col("event_type"), col("value"))
    }),
    "g6_schema_evolution" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("evo", d)
      // batch 1 written before the `value` column existed; batch 2 after
      ev.filter(col("event_id") < 5000).drop("value")
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      ev.filter(col("event_id") >= 5000)
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
      graft.sources.Sources.readMergedParquet(s, tmp)
        .select(col("event_id"), col("period"), col("user_id"),
          col("event_type"), col("value"), col("batch").cast("long").as("batch"))
    }),
    "g5_orc_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d).select(feedCols: _*)
      val tmp = scratchDir("orc", d)
      graft.sources.Sources.writeOrc(ev, tmp)
      graft.sources.Sources.readOrc(s, tmp, feedSchema)
    })
  )

  // -----------------------------------------------------------------
  // DuckDB oracle SQL — identical aliases + identical rounding. The
  // one key absent here (b11) is rows-only checked and carries a
  // differential error-bound ScalaTest spec instead (bounded sketch —
  // approximation is the point, so no exact oracle can exist).
  // -----------------------------------------------------------------

  /** Shared normalized-text expression (matches graft.functions.normalizeText). */
  private val normSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""

  /** The e34 unigram-LM score chain as shared CTEs (ends with `u34`,
    * one row per non-empty doc) — used verbatim by the e34 oracle and
    * as e58's scoring stage so the two can never drift. */
  private val unigramScoreCtes =
    s"""toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
          FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
          WHERE length(token) > 0 GROUP BY 1, 2),
        va AS (SELECT token, CAST(sum(tf) AS BIGINT) AS vn FROM tf GROUP BY 1),
        tot AS (SELECT CAST(sum(vn) AS BIGINT) AS total FROM va),
        v AS (SELECT token, vn FROM va WHERE vn >= 5),
        sc AS (SELECT tf.doc_id, tf.tf,
            CASE WHEN v.vn IS NULL
              THEN CAST(floor(ln(0.5 / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)
              ELSE CAST(floor(ln(CAST(vn AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)
            END AS lpq,
            CASE WHEN v.vn IS NULL THEN tf.tf ELSE 0 END AS oov
          FROM tf LEFT JOIN v USING (token) CROSS JOIN tot),
        u34 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            CAST(sum(oov) AS BIGINT) AS oov_tokens,
            floor(CAST(sum(lpq * tf) AS DOUBLE) / (100.0 * sum(tf))) / 10000.0 AS logprob
          FROM sc GROUP BY 1)"""

  // Native list_dot_product, NOT the list_reduce fold it replaced:
  // bit-identical (sequential left-to-right double accumulation,
  // verified on magnitude-mixed 64-dim vectors against the fold) and
  // orders of magnitude faster — the interpreted per-element lambdas
  // made the sf1 compare's 25M-candidate scoring CTEs run for an hour
  private val dotSql = (a: String, b: String) =>
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
  private val normVecSql = (a: String) =>
    s"sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))"
  private val cosSql = (a: String, b: String) =>
    s"(${dotSql(a, b)} / (${normVecSql(a)} * ${normVecSql(b)}))"

  /** Shared n-gram Jaccard pair CTE body (e4/e17/e18 oracles) —
    * `jpairs` emits (doc_a, doc_b, jaccard) at threshold 0.6. */
  private lazy val ngramPairCte =
    s"""norm AS (SELECT doc_id, concat_ws(chr(1), lang, source) AS block, $normSql AS t FROM documents),
        pos AS (SELECT doc_id, block, t, unnest(range(1, greatest(length(t) - 1, 1))) AS g FROM norm),
        grams AS (SELECT DISTINCT doc_id, block, substr(t, CAST(g AS INT), 3) AS gram FROM pos),
        counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM grams a JOIN grams b ON a.block = b.block AND a.gram = b.gram
            AND a.doc_id < b.doc_id GROUP BY 1, 2),
        jpairs AS (SELECT doc_a, doc_b,
            round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
          FROM pairs JOIN counts ca ON ca.doc_id = doc_a JOIN counts cb ON cb.doc_id = doc_b
          WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 4) >= 0.6)"""

  /** Poly rolling hash of a string expression (matches
    * graft.functions.polyFingerprint — the e11-proven parity form). */
  private def polyHashSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
       (acc, c) -> (acc * 31 + c) % ${graft.text.Dedup.PolyP})"""

  /** (a_i*h0 + b_i) mod AffineP with the SAME driver-derived constants
    * the Spark plan embeds (Dedup.hashConst). */
  private def affineHashSql(h0: String, salt: String, i: Int): String = {
    val (a, b) = (graft.text.Dedup.hashConst(s"$salt-a", i),
      graft.text.Dedup.hashConst(s"$salt-b", i))
    s"($a * $h0 + $b) % ${graft.text.Dedup.AffineP}"
  }

  /** Order-sensitive fold of minhash columns into a band signature
    * (mirrors Dedup.foldSig). */
  private def foldSigSql(cols: Seq[String]): String =
    cols.foldLeft("CAST(0 AS BIGINT)")((acc, c) =>
      s"(($acc * 31 + $c) % ${graft.text.Dedup.PolyP})")

  /** The `mh` aggregates (16 minhashes of `h0`) and the `bnd` rows (4
    * bands of 4) of the e2 MinHash oracle, which every oracle over e2's
    * candidates (e35/e36/e39/e51/e52/e55) embeds verbatim. */
  private lazy val minhashAggsSql: String = (0 until 16).map(i =>
    s"min(${affineHashSql("h0", "mh", i)}) AS mh_$i").mkString(", ")
  private lazy val minhashBandsSql: String = (0 until 4).map { b =>
    val sig = foldSigSql((b * 4 until (b + 1) * 4).map(i => s"mh_$i"))
    s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
  }.mkString(" UNION ALL ")

  /** The e63 word-carrying BPE encode chain (tok/ft/wf/v0..v8),
    * factored so e64's pack oracle embeds the byte-identical trained
    * segmentation (the c30EvalCtes pattern). */
  private lazy val bpeEncodeCtes: String = {
    val nRounds = 8
    val rounds = (1 to nRounds).map { r =>
      s"""p$r AS (SELECT s[i] || ' ' || s[i + 1] AS pair, c
          FROM (SELECT s, c, unnest(range(1, len(s))) AS i
                FROM (SELECT string_split(trim(w, ' '), ' ') AS s, c FROM v${r - 1})
                WHERE len(s) >= 2)),
        t$r AS (SELECT pair, CAST(sum(c) AS BIGINT) AS pc
          FROM p$r GROUP BY 1 HAVING sum(c) >= 2
          ORDER BY pc DESC, pair LIMIT 1),
        v$r AS (SELECT v.word, CASE WHEN t.pair IS NULL THEN v.w
            ELSE replace(replace(replace(v.w, ' ', '  '),
                   ' ' || replace(t.pair, ' ', '  ') || ' ',
                   ' ' || replace(t.pair, ' ', '') || ' '),
                   '  ', ' ')
          END AS w, v.c
          FROM v${r - 1} v LEFT JOIN t$r t ON true)"""
    }.mkString(",\n        ")
    s"""tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS word
          FROM documents),
        ft AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
        wf AS (SELECT word, count(*) AS c FROM ft GROUP BY 1),
        v0 AS (SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') || ' _ ' AS w, c
          FROM wf),
        $rounds,
        tc AS (SELECT doc_id,
            CAST(sum(len(string_split(trim(v$nRounds.w, ' '), ' '))) AS BIGINT) AS n_tokens,
            count(*) AS n_words
          FROM ft JOIN v$nRounds USING (word) GROUP BY 1)"""
  }

  /** The c30 CTE chain (split/trend/seasonal/eval rows with the exact
    * fixed-point p6), factored so c32's blend oracle embeds the
    * byte-identical model (the b9ReportOracle pattern). */
  private lazy val c30EvalCtes: String =
    """b AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS x
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY period, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM b),
         r2 AS (SELECT *, rn * 10 <= n * 7 AS tr,
             min(CASE WHEN rn * 10 <= n * 7 THEN x END) OVER (PARTITION BY user_id) AS xmin
           FROM r),
         r3 AS (SELECT *, (x - xmin) // 3600 AS t, (x // 3600) % 168 AS slot FROM r2),
         g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(t) AS DOUBLE) AS sx, CAST(sum(t * t) AS DOUBLE) AS sxx,
             CAST(sum(cents) AS DOUBLE) AS sy, CAST(sum(t * cents) AS DOUBLE) AS sxy
           FROM r3 WHERE tr GROUP BY 1),
         c AS (SELECT user_id,
             CASE WHEN abs(nd * sxx - sx * sx) > 1e-9
               THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) ELSE 0.0 END AS slope,
             (sy - (CASE WHEN abs(nd * sxx - sx * sx) > 1e-9
               THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) ELSE 0.0 END) * sx) / nd AS icept
           FROM g),
         se AS (SELECT r3.user_id, slot,
             CAST(sum(cents * 10000 - CAST(floor((icept + slope * t) * 10000.0) AS BIGINT)) AS DOUBLE) AS sr,
             CAST(count(*) AS DOUBLE) AS ns
           FROM r3 JOIN c USING (user_id) WHERE tr GROUP BY 1, 2),
         ev AS (SELECT r3.user_id, period, event_id, value,
             CAST(floor((icept + slope * t) * 10000.0) AS BIGINT)
               + CAST(floor(coalesce(sr / (ns + 10.0), 0.0)) AS BIGINT) AS p6
           FROM r3 JOIN c USING (user_id)
             LEFT JOIN se ON se.user_id = r3.user_id AND se.slot = r3.slot
           WHERE NOT tr)"""

  /** The b9 report oracle, factored so g15's ledger oracle embeds the
    * byte-identical query (the incrementalExactDedupOracle pattern). */
  private lazy val b9ReportOracle: String =
    """SELECT 'total_records' AS metric, CAST(count(*) AS DOUBLE) AS value FROM events
       UNION ALL SELECT 'null_value_pct',
         round(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*), 4) FROM events
       UNION ALL SELECT 'duplicate_timestamp_groups', CAST(count(*) AS DOUBLE) FROM
         (SELECT user_id, date_trunc('second', ts) AS p FROM events
          GROUP BY 1, 2 HAVING count(*) > 1)
       UNION ALL SELECT 'gap_count', CAST(count(*) AS DOUBLE) FROM
         (SELECT CAST(epoch(period) - epoch(lag(period) OVER
            (PARTITION BY user_id ORDER BY period, event_id)) AS BIGINT) AS g
          FROM (SELECT user_id, date_trunc('second', ts) AS period, event_id FROM events))
         WHERE g > 3600 * 1.5
       UNION ALL SELECT 'extreme_outlier_count', CAST(count(*) AS DOUBLE)
         FROM events, (SELECT CAST(quantile_cont(value, 0.99) AS DOUBLE) AS p99 FROM events)
         WHERE value >= p99 * 3
       UNION ALL SELECT 'date_range_start_epoch',
         CAST(epoch(min(date_trunc('second', ts))) AS DOUBLE) FROM events
       UNION ALL SELECT 'date_range_end_epoch',
         CAST(epoch(max(date_trunc('second', ts))) AS DOUBLE) FROM events
       UNION ALL SELECT 'unique_regions', CAST(count(DISTINCT user_id) AS DOUBLE) FROM events"""

  /** Incremental-exact-dedup oracle, shared verbatim by e32 (recompute)
    * and e40 (maintained hash table) — the same one-oracle-two-paths
    * rule as e35/e39 below. */
  private lazy val incrementalExactDedupOracle: String =
    s"""WITH seen AS (SELECT DISTINCT md5($normSql) AS text_hash
           FROM documents WHERE doc_id >= 250),
        batch AS (SELECT doc_id, lang, source, md5($normSql) AS text_hash
           FROM documents WHERE doc_id < 250),
        fresh AS (SELECT * FROM batch b
           WHERE NOT EXISTS (SELECT 1 FROM seen s
             WHERE s.text_hash = b.text_hash))
        SELECT text_hash, min(doc_id) AS doc_id,
          arg_min(lang, doc_id) AS lang, arg_min(source, doc_id) AS source
        FROM fresh GROUP BY 1"""

  /** Incremental-minhash oracle, shared verbatim by e35 (recompute) and
    * e39 (maintained signature table): SQL has no notion of where the
    * seen side's band table came from, and identical parameters make
    * the two engine paths signature-identical by construction. */
  private lazy val incrementalMinhashOracle: String = {
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
        sh AS (SELECT doc_id,
            array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
          FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                FROM w WHERE len(words) >= 3)),
        h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
        mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
        bnd AS ($minhashBandsSql),
        seenb AS (SELECT * FROM bnd WHERE doc_id >= 250
          QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000),
        batchb AS (SELECT * FROM bnd WHERE doc_id < 250)
        SELECT DISTINCT b.doc_id AS batch_doc, s.doc_id AS seen_doc
        FROM seenb s JOIN batchb b ON s.band = b.band AND s.sig = b.sig"""
  }

  /** Scratch-path / table-name tag for the g-group sinks: the dataset
    * dir sanitized to [A-Za-z0-9_] for readability, plus the raw dir's
    * hashCode in hex — the sanitization alone is NOT injective
    * ("sf0.01" and "sf0_01" collide), so the hash suffix keeps two
    * different dirs from sharing a scratch location in practice.
    * toHexString of the raw Int handles Int.MinValue (no abs). */
  private def pathTag(d: String): String =
    d.replaceAll("[^A-Za-z0-9]", "_") + "_" + d.hashCode.toHexString

  /** The scratch directory of the sink query `name` on dataset `d`. */
  private def scratchDir(name: String, d: String): String =
    s"/tmp/graft_sources/${name}_${pathTag(d)}"

  /** The g12 fault-injection fixture: one malformed line per failure
    * class (unparseable long, unparseable double, short row, extra
    * columns). Shared verbatim with the oracle VALUES list — the two
    * sides cannot drift. */
  private val tornCsvLines = Seq(
    "notanumber,2024-01-01 00:00:00,5,click,1.0",
    "73,2024-01-01 02:00:00,7,buy,notadouble",
    "74,tooshort",
    "75,2024-01-01 03:00:00,8,click,3.0,extra,cols")

  /** Hyperplane matrix as a VALUES list — components are exactly n/1e6,
    * so the %.6f literal parses to the identical double. */
  private def planesValuesSql(numPlanes: Int, dim: Int): String =
    graft.vector.Similarity.planeMatrix(numPlanes, dim).zipWithIndex.map {
      case (row, p) =>
        s"($p, CAST([${row.map(v => f"$v%.6f").mkString(",")}] AS DOUBLE[]))"
    }.mkString(", ")

  /** Squared L2 distance as the SAME left-to-right IEEE-double fold
    * as [[graft.functions.VectorExpressions]]' NearestCentroid /
    * CentroidDistances kernels — operand-order-identical, so the
    * doubles (and therefore every argmin) match bit-for-bit. */
  private def distSql(v: String, c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       list_transform(list_zip($v, $c),
         p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
              (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
       (acc, x) -> acc + x)"""

  /** Unrolled Lloyd's k-means CTE chain replaying
    * [[graft.vector.Cluster.fitCentroids]] exactly: Knuth-hash seed
    * order (the engine's seedHash), per-iteration centroid `avg`
    * rounded to 6 decimals in both engines (the sole sum-order-
    * sensitive step — see fitCentroids' determinism note), empty
    * clusters keep their previous centroid, distance/argmin ties →
    * lowest cluster. Exposes `ivf_e(vec_id, v)` and the final
    * centroid relation `c$iters(cluster, cent)`. */
  private def ivfLloydCte(k: Int, iters: Int): String = {
    // overflow-safe reduced form, congruent to (vec_id*2654435761)%p —
    // mirrors Cluster.seedHash exactly (see its scaladoc)
    val seedH = "((vec_id % 1000000007) * 654435747) % 1000000007"
    val base =
      s"""ivf_e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE embedding IS NOT NULL),
          seeds AS (SELECT vec_id,
              row_number() OVER (ORDER BY $seedH, vec_id) - 1 AS cluster
            FROM ivf_e QUALIFY row_number() OVER (ORDER BY $seedH, vec_id) <= $k),
          c0 AS (SELECT s.cluster, list_transform(e.v, x -> CAST(x AS DOUBLE)) AS cent
            FROM seeds s JOIN ivf_e e USING (vec_id))"""
    val steps = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT cluster, v FROM (
            SELECT e.vec_id, e.v, c.cluster, ${distSql("e.v", "c.cent")} AS d
            FROM ivf_e e CROSS JOIN $prev c)
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
          u$i AS (SELECT cluster, list(m ORDER BY dim) AS cent FROM (
            SELECT cluster, dim, round(avg(CAST(x AS DOUBLE)), 6) AS m
            FROM (SELECT cluster, unnest(v) AS x, unnest(range(len(v))) AS dim FROM a$i)
            GROUP BY 1, 2) GROUP BY 1),
          c$i AS (SELECT p.cluster, coalesce(u.cent, p.cent) AS cent
            FROM $prev p LEFT JOIN u$i u USING (cluster))"""
    }
    (base +: steps).mkString(",\n")
  }

  /** LSH CTEs with the e22 gate's self-tuning banding: bits per band
    * re-derived from `count(*)` with the identical integer rule as
    * [[graft.vector.Similarity.autoPlanes]] (smallest b ≥ 2 with
    * targetBucket·2^b ≥ n), so Spark and the oracle agree at every
    * scale factor without editing the SQL.
    *
    * Band keys are aggregated DIRECTLY (band = p div per, bit =
    * p mod per) rather than folding one 64-bit signature and slicing
    * it — mirroring the engine's per-band [[graft.vector.Similarity
    * .cosineDupPairsLsh]] signatures (bit i of band b = plane
    * b·per+i, identical keys) and keeping every DuckDB shift off the
    * BIGINT sign bit (the fold would already evaluate `1::BIGINT <<
    * 63`, a signed overflow, at 64 active planes).
    *
    * ORACLE REPLAY BOUND: planes for up to `oracleMaxPer` = 12
    * bits/band are embedded, so this SQL mirror is exact while
    * n < TargetBucket·2^12 (2.05M vectors at TargetBucket = 500) — every
    * SF the oracle is ever replayed at (sf10 = 200k). The ENGINE's
    * bound is 62 bits/band; past 2M vectors either raise this
    * constant (mechanical) or audit via the sampled-exactness harness
    * (tools/e22_scale_check.py). */
  private def lshBandCteAuto(bands: Int): String = {
    val oracleMaxPer = 12
    val targetBucket = graft.vector.Similarity.TargetBucket
    s"""planes(p, vec) AS (VALUES ${planesValuesSql(bands * oracleMaxPer, 64)}),
        cfg AS (SELECT coalesce(
            (SELECT min(bb.b) FROM (SELECT unnest(range(2, ${oracleMaxPer + 1})) AS b) bb
             WHERE $targetBucket * (CAST(1 AS BIGINT) << bb.b) >= (SELECT count(*) FROM embeddings)),
            $oracleMaxPer) AS per),
        bnd AS (SELECT e.vec_id, CAST(p.p // cfg.per AS BIGINT) AS band,
            CAST(sum(CASE WHEN ${dotSql("e.embedding", "p.vec")} >= 0
              THEN (CAST(1 AS BIGINT) << (p.p % cfg.per)) ELSE 0 END) AS BIGINT) AS key
          FROM embeddings e CROSS JOIN planes p CROSS JOIN cfg
          WHERE p.p < $bands * cfg.per GROUP BY 1, 2)"""
  }

  /** Shared LSH CTEs (fixed plane count): per-vector sign signature
    * over the embedded planes, then per-band sub-keys. Slicing the
    * folded signature here equals the engine's per-band
    * PlaneSignature keys — bit i of band b is plane b·per+i on both
    * paths (spec-pinned) — and the fold stays safe because the fixed
    * numPlanes ≤ 16 never nears bit 63. */
  private def lshBandCte(numPlanes: Int, bands: Int): String = {
    val per = numPlanes / bands
    s"""planes(p, vec) AS (VALUES ${planesValuesSql(numPlanes, 64)}),
        sigs AS (SELECT e.vec_id,
            CAST(sum(CASE WHEN ${dotSql("e.embedding", "p.vec")} >= 0
              THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS BIGINT) AS sig
          FROM embeddings e CROSS JOIN planes p GROUP BY 1),
        bnd AS (SELECT vec_id, band, (sig >> (band * $per)) & ${(1L << per) - 1} AS key
          FROM sigs, (SELECT unnest(range($bands)) AS band) b)"""
  }

  def oracleSql: Map[String, String] = Map(
    "a1_ingest_typed" ->
      """SELECT event_id AS record_id, date_trunc('second', ts) AS period,
         CAST(user_id AS VARCHAR) AS respondent, event_type AS type,
         CAST(value AS DOUBLE) AS value FROM events""",
    "a2_time_range_filter" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "a3_dedup_keep_latest" ->
      """SELECT event_id, user_id, event_type, date_trunc('second', ts) AS period, value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
           ORDER BY date_trunc('second', ts) DESC, event_id DESC) = 1""",
    // the maintained upsert table's contents ARE keep-latest-per-user —
    // the streaming sink must land exactly this, however the feed was
    // micro-batched (and across restarts; see StreamRecoverySpec)
    "f8_stream_upsert" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id,
         CAST(event_type AS VARCHAR) AS event_type, value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY date_trunc('second', ts) DESC, event_id DESC) = 1""",
    "a4_retention_keep_last_n" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC) <= 5""",
    "a5_incremental_ingest" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    "a7_incremental_agg_merge" ->
      """SELECT user_id, count(value) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value,
         min(value) AS min_value, max(value) AS max_value,
         floor((sum(round(value * 100, 0)) * 200 + count(value)) / (count(value) * 2)) / 10000.0 AS mean_value
         FROM events GROUP BY 1""",
    "e28_pack_materialize" ->
      """WITH toks AS (SELECT doc_id, source, text,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS tokens
         FROM documents),
         off AS (SELECT *, coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
           FROM toks),
         b AS (SELECT *, start_offset // 1024 AS bin FROM off WHERE tokens > 0)
         SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS n_tokens,
           string_agg(text, ' ' ORDER BY doc_id) AS packed_text
         FROM b GROUP BY 1, 2""",
    // null array SLOTS coalesce to 0.0 before abs/quantize — the
    // engine's native expressions read null slots as 0.0 (documented
    // contract on ArrayDot/ArrayAbsMax/QuantizeInt8), so the oracle
    // must not propagate them to NULL codes
    "e27_embedding_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
           list_max(list_transform(embedding,
             x -> abs(coalesce(CAST(x AS DOUBLE), 0.0)))) AS scale
         FROM embeddings WHERE embedding IS NOT NULL),
         e AS (SELECT vec_id, scale, embedding,
           unnest(range(len(embedding))) AS pos FROM s)
         SELECT vec_id, CAST(pos AS BIGINT) AS pos,
           CAST(CASE WHEN scale > 0
             THEN floor(coalesce(CAST(embedding[CAST(pos AS INT) + 1] AS DOUBLE), 0.0)
               / scale * 127.0 + 0.5)
             ELSE 0 END AS INT) AS code,
           scale
         FROM e""",
    // page = offset // pageSize in id order, with pageSize re-derived
    // from count(*) under the identical integer rule as
    // PagedFeed.autoPageSize(total, 7) — crash + resume must leave
    // exactly the clean one-shot snapshot
    "a8_paginated_fetch" ->
      """WITH ps AS (SELECT CAST(greatest(1, (count(*) + 6) // 7) AS BIGINT) AS ps FROM events),
         f AS (SELECT event_id AS record_id, date_trunc('second', ts) AS period,
             CAST(user_id AS VARCHAR) AS respondent, event_type AS type,
             CAST(value AS DOUBLE) AS value,
             row_number() OVER (ORDER BY event_id) - 1 AS i FROM events)
         SELECT record_id, period, respondent, type, value,
           CAST(i // ps AS INT) AS page
         FROM f CROSS JOIN ps""",
    // SCD2: a record opens a version iff first-per-key or attr changed
    // (null-safe IS DISTINCT FROM = Spark's <=> negation); valid_to =
    // next SURVIVING version's start, computed after the change filter
    "a9_scd2_history" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period,
             event_type, event_id FROM events),
         m AS (SELECT user_id, period, event_type, event_id,
             row_number() OVER w AS rn, lag(event_type) OVER w AS prev_attr
           FROM t WINDOW w AS (PARTITION BY user_id
             ORDER BY period NULLS FIRST, event_id NULLS FIRST)),
         s AS (SELECT user_id, period, event_type, event_id FROM m
           WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr)
         SELECT user_id, event_type, period AS valid_from,
           lead(period) OVER w2 AS valid_to,
           lead(period) OVER w2 IS NULL AS is_current
         FROM s WINDOW w2 AS (PARTITION BY user_id
           ORDER BY period NULLS FIRST, event_id NULLS FIRST)""",
    // same modular digest, HUGEINT accumulation (the engine sums in
    // decimal(38,0)); status CASE order mirrors the engine's priority
    "a10_snapshot_reconcile" ->
      """WITH ev AS (SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep, value
           FROM events),
         sn0 AS (SELECT user_id,
             ((event_id % 1000003) * 2654435761 +
              (COALESCE(CAST(floor(value * 100) AS BIGINT), -1) % 1000003) * 40503 +
              (COALESCE(ep, -1) % 1000003) * 2654435769) % 1000000007 AS digest
           FROM ev),
         st0 AS (SELECT user_id,
             ((event_id % 1000003) * 2654435761 +
              (COALESCE(CAST(floor(
                 (CASE WHEN event_id % 97 = 0 THEN value + 5 ELSE value END) * 100
               ) AS BIGINT), -1) % 1000003) * 40503 +
              (COALESCE(ep, -1) % 1000003) * 2654435769) % 1000000007 AS digest
           FROM ev WHERE event_id % 101 <> 0),
         sn AS (SELECT user_id, count(*) AS snapshot_rows,
             sum(CAST(digest AS HUGEINT)) AS snapshot_digest FROM sn0 GROUP BY 1),
         st AS (SELECT user_id, count(*) AS state_rows,
             sum(CAST(digest AS HUGEINT)) AS state_digest FROM st0 GROUP BY 1),
         j AS (SELECT COALESCE(st.user_id, sn.user_id) AS user_id,
             state_rows, snapshot_rows, state_digest, snapshot_digest,
             CASE WHEN state_rows IS NULL THEN 'missing_in_state'
                  WHEN snapshot_rows IS NULL THEN 'missing_in_snapshot'
                  WHEN state_rows <> snapshot_rows THEN 'count_mismatch'
                  WHEN state_digest IS DISTINCT FROM snapshot_digest
                    THEN 'digest_mismatch' END AS status
           FROM st FULL OUTER JOIN sn ON st.user_id = sn.user_id)
         SELECT user_id, state_rows, snapshot_rows,
           CAST(state_digest AS VARCHAR) AS state_digest,
           CAST(snapshot_digest AS VARCHAR) AS snapshot_digest, status
         FROM j WHERE status IS NOT NULL""",
    "a12_backfill_plan" ->
      """WITH feed AS (SELECT ts, event_id FROM events
           WHERE ts IS NOT NULL AND day(ts) <> 11
             AND (day(ts) <> 7 OR event_id % 3 = 0)),
         daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n_rows
           FROM feed GROUP BY 1),
         b AS (SELECT min(day) AS d0, max(day) AS d1,
             CAST(quantile_cont(n_rows, 0.5) AS DOUBLE) AS median_rows
           FROM daily),
         cal AS (SELECT median_rows,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
           FROM b),
         j AS (SELECT cal.day, daily.n_rows, cal.median_rows,
             CASE WHEN daily.n_rows IS NULL THEN 'missing'
                  WHEN daily.n_rows < cal.median_rows * 0.6 THEN 'short'
             END AS status
           FROM cal LEFT JOIN daily ON cal.day = daily.day)
         SELECT day, coalesce(n_rows, 0) AS n_rows, median_rows, status
         FROM j WHERE status IS NOT NULL""",
    "a11_snapshot_diff" ->
      """WITH base AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
         prev AS (SELECT * FROM base WHERE c_custkey % 17 <> 0),
         cur AS (SELECT c_custkey, c_name, c_mktsegment,
             CASE WHEN c_custkey % 11 = 0 THEN round(c_acctbal + 100, 2)
                  ELSE c_acctbal END AS c_acctbal
           FROM base WHERE c_custkey % 13 <> 0),
         j AS (SELECT coalesce(p.c_custkey, c.c_custkey) AS c_custkey,
             CASE WHEN p.c_custkey IS NULL THEN 'I'
                  WHEN c.c_custkey IS NULL THEN 'D'
                  WHEN p.c_name IS DISTINCT FROM c.c_name
                    OR p.c_mktsegment IS DISTINCT FROM c.c_mktsegment
                    OR p.c_acctbal IS DISTINCT FROM c.c_acctbal THEN 'U'
             END AS op,
             CASE WHEN c.c_custkey IS NULL THEN p.c_name ELSE c.c_name END AS c_name,
             CASE WHEN c.c_custkey IS NULL THEN p.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment,
             CASE WHEN c.c_custkey IS NULL THEN p.c_acctbal ELSE c.c_acctbal END AS c_acctbal
           FROM prev p FULL OUTER JOIN cur c ON p.c_custkey = c.c_custkey)
         SELECT c_custkey, op, c_name, c_mktsegment, c_acctbal
         FROM j WHERE op IS NOT NULL""",
    "a6_cdc_merge" ->
      """WITH ev AS (SELECT event_id, date_trunc('second', ts) AS period,
           user_id, event_type, value FROM events),
         ch AS (SELECT event_id, period, user_id, event_type,
             value + 10 AS value,
             CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
           FROM ev WHERE event_id >= 7000)
         SELECT event_id, period, user_id, event_type, value FROM ev
           WHERE event_id < 8000
             AND event_id NOT IN (SELECT event_id FROM ch)
         UNION ALL
         SELECT event_id, period, user_id, event_type, value FROM ch
           WHERE op <> 'D'""",
    "b1_schema_violations" -> {
      val domainSql = eventTypes.map(t => s"'$t'").mkString(",")
      s"""SELECT 'null_period' AS check_name, count(*) FILTER (WHERE ts IS NULL) AS violations FROM events
         UNION ALL SELECT 'null_respondent', count(*) FILTER (WHERE user_id IS NULL) FROM events
         UNION ALL SELECT 'bad_type', count(*) FILTER (WHERE event_type NOT IN ($domainSql)) FROM events
         UNION ALL SELECT 'null_value', count(*) FILTER (WHERE value IS NULL) FROM events
         UNION ALL SELECT 'negative_value', count(*) FILTER (WHERE value < 0) FROM events"""
    },
    // a13: per-record rejection ledger — the b1 rules row-wise; NOT IN
    // on a NULL type is three-valued null → excluded, matching the
    // Spark isin contract
    "a13_dead_letter" -> {
      val domainSql = eventTypes.map(t => s"'$t'").mkString(",")
      s"""SELECT event_id, 'null_period' AS reason FROM events WHERE ts IS NULL
         UNION ALL SELECT event_id, 'null_respondent' FROM events WHERE user_id IS NULL
         UNION ALL SELECT event_id, 'bad_type' FROM events WHERE event_type NOT IN ($domainSql)
         UNION ALL SELECT event_id, 'null_value' FROM events WHERE value IS NULL
         UNION ALL SELECT event_id, 'negative_value' FROM events WHERE value < 0"""
    },
    "b2_extreme_outliers" ->
      """WITH p AS (SELECT CAST(quantile_cont(value, 0.99) AS DOUBLE) AS p99 FROM events)
         SELECT event_id, value, round(p99, 4) AS p99 FROM events, p
         WHERE value >= p99 * 3""",
    "b3_gap_detection" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id FROM events),
         g AS (SELECT user_id,
           lag(period) OVER (PARTITION BY user_id ORDER BY period, event_id) AS prev_period,
           period FROM t)
         SELECT user_id, prev_period, period,
           CAST(epoch(period) - epoch(prev_period) AS BIGINT) AS gap_seconds
         FROM g WHERE CAST(epoch(period) - epoch(prev_period) AS BIGINT) > 3600 * 1.5""",
    "b4_duplicate_timestamps" ->
      """SELECT user_id, date_trunc('second', ts) AS period, count(*) AS n
         FROM events GROUP BY 1, 2 HAVING count(*) > 1""",
    "b5_value_stats" ->
      """SELECT count(value) AS n,
         floor((sum(round(value * 100, 0)) * 200 + count(value)) / (count(value) * 2)) / 10000.0 AS mean,
         round(stddev_samp(value), 4) AS std, round(min(value), 4) AS min,
         round(max(value), 4) AS max,
         round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS median FROM events""",
    "b6_region_stats" ->
      """SELECT user_id, count(*) AS records,
         floor((sum(round(value * 100, 0)) * 200 + count(*)) / (count(*) * 2)) / 10000.0 AS mean,
         round(min(value), 4) AS min, round(max(value), 4) AS max
         FROM events GROUP BY 1""",
    "b7_iqr_outliers" ->
      """WITH b AS (SELECT user_id,
           CAST(quantile_cont(value, 0.25) AS DOUBLE) AS q1,
           CAST(quantile_cont(value, 0.75) AS DOUBLE) AS q3
         FROM events GROUP BY 1)
         SELECT e.user_id,
           count(*) FILTER (WHERE e.value < b.q1 - (b.q3 - b.q1) * 3
                              OR e.value > b.q3 + (b.q3 - b.q1) * 3) AS outlier_count,
           round(any_value(b.q1 - (b.q3 - b.q1) * 3), 4) AS lower_bound,
           round(any_value(b.q3 + (b.q3 - b.q1) * 3), 4) AS upper_bound,
           round(count(*) FILTER (WHERE e.value < b.q1 - (b.q3 - b.q1) * 3
                              OR e.value > b.q3 + (b.q3 - b.q1) * 3) * 100.0 / count(*), 4) AS outlier_pct
         FROM events e JOIN b ON e.user_id = b.user_id GROUP BY 1""",
    "b8_missing_pct" ->
      """SELECT 'ts' AS column_name, round(count(*) FILTER (WHERE ts IS NULL) * 100.0 / count(*), 4) AS missing_pct FROM events
         UNION ALL SELECT 'user_id', round(count(*) FILTER (WHERE user_id IS NULL) * 100.0 / count(*), 4) FROM events
         UNION ALL SELECT 'event_type', round(count(*) FILTER (WHERE event_type IS NULL) * 100.0 / count(*), 4) FROM events
         UNION ALL SELECT 'value', round(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*), 4) FROM events""",
    "b9_quality_report" -> b9ReportOracle,
    "b10_validation_verdict" ->
      """WITH a AS (SELECT count(*) AS total_records,
           round(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*), 4) AS missing_value_pct,
           min(date_trunc('second', ts)) AS date_range_start,
           max(date_trunc('second', ts)) AS date_range_end,
           count(DISTINCT user_id) AS unique_regions,
           (SELECT string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id)
              FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL) du) AS regions
           FROM events),
         d AS (SELECT count(*) AS duplicate_groups FROM
           (SELECT user_id, date_trunc('second', ts) AS p FROM events
            GROUP BY 1, 2 HAVING count(*) > 1)),
         o AS (SELECT count(*) AS n_out
           FROM events, (SELECT CAST(quantile_cont(value, 0.99) AS DOUBLE) AS p99 FROM events)
           WHERE value >= p99 * 3)
         SELECT total_records, missing_value_pct, duplicate_groups,
           round(n_out * 100.0 / total_records, 4) AS extreme_outlier_pct,
           (CASE WHEN missing_value_pct > 5.0 THEN 1 ELSE 0 END +
            CASE WHEN duplicate_groups > 0 THEN 1 ELSE 0 END) AS error_count,
           CASE WHEN round(n_out * 100.0 / total_records, 4) > 2.0 THEN 1 ELSE 0 END AS warning_count,
           (CASE WHEN missing_value_pct > 5.0 THEN 1 ELSE 0 END +
            CASE WHEN duplicate_groups > 0 THEN 1 ELSE 0 END) = 0 AS is_valid,
           date_range_start, date_range_end, unique_regions, regions
         FROM a, d, o""",
    // b22: the two parity snapshots' per-column stats joined; flags in
    // exact integer arithmetic, the null-range guard mirrors coalesce
    "b22_stats_drift" ->
      """WITH a AS (
           SELECT 'event_id' AS column_name, count(*) AS n_rows_a,
             count(*) - count(event_id) AS n_nulls_a,
             min(event_id) AS min_a, max(event_id) AS max_a
           FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT 'user_id', count(*), count(*) - count(user_id),
             min(user_id), max(user_id) FROM events WHERE event_id % 2 = 0),
         b AS (
           SELECT 'event_id' AS column_name, count(*) AS n_rows_b,
             count(*) - count(event_id) AS n_nulls_b,
             min(event_id) AS min_b, max(event_id) AS max_b
           FROM events WHERE event_id % 2 <> 0
           UNION ALL
           SELECT 'user_id', count(*), count(*) - count(user_id),
             min(user_id), max(user_id) FROM events WHERE event_id % 2 <> 0)
         SELECT column_name, n_rows_a, n_nulls_a, min_a, max_a,
           n_rows_b, n_nulls_b, min_b, max_b,
           coalesce(min_b < min_a, false) OR coalesce(max_b > max_a, false)
             AS range_extended,
           n_nulls_b * n_rows_a > n_nulls_a * n_rows_b * 2 AS null_rate_up
         FROM a JOIN b USING (column_name)""",
    "b12_gap_summary" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id FROM events),
         g AS (SELECT user_id,
           CAST(epoch(period) - epoch(lag(period) OVER
             (PARTITION BY user_id ORDER BY period, event_id)) AS BIGINT) AS gap_seconds
           FROM t)
         SELECT user_id, count(*) AS gap_count, max(gap_seconds) AS max_gap_seconds
         FROM g WHERE gap_seconds > 3600 * 1.5 GROUP BY 1""",
    // Laplace-smoothed categorical PSI; per-term floor(·1e6) integer
    // quantization (the e34 micro-log pattern) makes key sums exact and
    // the drift flag an integer compare; windows mirror c9's. Domain
    // list and the K+1 smoothing denominator interpolate from the SAME
    // `eventTypes` Seq the Spark entry uses, so the two sides cannot
    // silently diverge if the domain ever changes. Cross-engine caveat
    // (shared with e34's micro-log pattern): the per-term ln() must
    // agree between JVM Math.log and DuckDB's libm to the point where
    // floor(term·1e6) lands on the same integer — neither is guaranteed
    // correctly rounded, so a 1-ulp divergence exactly at a micro-unit
    // boundary would flip one term by 1 on a different platform/libm.
    // Holds empirically on this host; if a platform-parity failure ever
    // shows a ±1 psi_micro delta, this is the place to look.
    // one scalar-aggregate row per rule, UNION ALL'd — the same counts
    // the engine's single-scan suite produces; domain interpolated from
    // the shared eventTypes like b14
    "b15_expectation_rules" -> {
      val domainSql = eventTypes.map(t => s"'$t'").mkString(",")
      s"""SELECT 'r1_value_not_null' AS rule_id, 'value' AS col_name, 'not_null' AS kind,
            count(*) AS n_rows,
            CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
            sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0 AS pass FROM events
          UNION ALL
          SELECT 'r2_value_bounds', 'value', 'between', count(*),
            CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
              THEN 1 ELSE 0 END) AS BIGINT),
            sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
              THEN 1 ELSE 0 END) = 0 FROM events
          UNION ALL
          SELECT 'r3_type_domain', 'event_type', 'in_set', count(*),
            CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN ($domainSql)
              THEN 1 ELSE 0 END) AS BIGINT),
            sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN ($domainSql)
              THEN 1 ELSE 0 END) = 0 FROM events
          UNION ALL
          SELECT 'r4_event_id_unique', 'event_id', 'unique', count(*),
            count(event_id) - count(DISTINCT event_id),
            count(event_id) - count(DISTINCT event_id) = 0 FROM events
          UNION ALL
          SELECT 'r5_type_shape', 'event_type', 'matches', count(*),
            CAST(sum(CASE WHEN event_type IS NOT NULL
              AND NOT regexp_matches(event_type, '^[a-z]+${"$"}')
              THEN 1 ELSE 0 END) AS BIGINT),
            sum(CASE WHEN event_type IS NOT NULL
              AND NOT regexp_matches(event_type, '^[a-z]+${"$"}')
              THEN 1 ELSE 0 END) = 0 FROM events
          UNION ALL
          SELECT 'r6_purchase_has_value', 'event_type', 'implies_not_null', count(*),
            CAST(sum(CASE WHEN event_type = 'purchase' AND value IS NULL
              THEN 1 ELSE 0 END) AS BIGINT),
            sum(CASE WHEN event_type = 'purchase' AND value IS NULL
              THEN 1 ELSE 0 END) = 0 FROM events"""
    },
    // the same rule counters grouped per key — one UNION ALL branch
    // per rule, each a per-user aggregate
    "b16_expectation_by_key" -> {
      """SELECT user_id, 'r1_value_not_null' AS rule_id, 'value' AS col_name,
            'not_null' AS kind, count(*) AS n_rows,
            CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
            sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0 AS pass
          FROM events GROUP BY 1
          UNION ALL
          SELECT user_id, 'r2_value_bounds', 'value', 'between', count(*),
            CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
              THEN 1 ELSE 0 END) AS BIGINT),
            sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
              THEN 1 ELSE 0 END) = 0
          FROM events GROUP BY 1
          UNION ALL
          SELECT user_id, 'r3_event_id_unique', 'event_id', 'unique', count(*),
            count(event_id) - count(DISTINCT event_id),
            count(event_id) - count(DISTINCT event_id) = 0
          FROM events GROUP BY 1"""
    },
    // b18: the corpus max anchors "now" in both engines
    "b18_freshness_check" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS p
            FROM events WHERE ts IS NOT NULL),
          mx AS (SELECT max(p) AS gmax FROM t),
          k AS (SELECT user_id, count(*) AS n, max(p) AS last_ts
            FROM t GROUP BY 1)
          SELECT k.user_id, k.n, k.last_ts,
            CAST(epoch(mx.gmax) AS BIGINT) - CAST(epoch(k.last_ts) AS BIGINT)
              AS lag_seconds,
            CAST(epoch(mx.gmax) AS BIGINT) - CAST(epoch(k.last_ts) AS BIGINT)
              > 86400 AS is_stale
          FROM k CROSS JOIN mx""",
    // b19: variance from the exact-integer identity n·Σx² − (Σx)² so
    // both engines divide/sqrt identical integers; CAST day to
    // TIMESTAMP (DuckDB date_trunc('day') yields DATE — the §6 dtype
    // rule)
    "b19_volume_anomaly" ->
      """WITH daily AS (SELECT user_id,
            CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
            count(*) AS n
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1, 2),
        w AS (SELECT user_id, day, n,
            count(n) OVER tw AS base_n,
            sum(n) OVER tw AS base_sum,
            sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) OVER tw AS base_sumsq
          FROM daily
          WINDOW tw AS (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        v AS (SELECT user_id, day, n, base_n, base_sum,
            CAST(base_sum AS DOUBLE) / base_n AS mean,
            sqrt(CAST(CAST(base_n AS DECIMAL(38,0)) * base_sumsq
                   - CAST(base_sum AS DECIMAL(38,0)) * CAST(base_sum AS DECIMAL(38,0))
                 AS DOUBLE)
               / CAST(base_n * (base_n - 1) AS DOUBLE)) AS std
          FROM w)
        SELECT user_id, day, n,
          CASE WHEN base_n = 7 THEN base_n END AS base_n,
          CASE WHEN base_n = 7 THEN
            floor((base_sum * 20000 + base_n) / (base_n * 2)) / 10000.0
          END AS base_mean,
          CASE WHEN base_n = 7 THEN round(std, 4) END AS base_std,
          CASE WHEN base_n = 7 AND std > 0.0
               THEN round((CAST(n AS DOUBLE) - mean) / std, 4) END AS z,
          CASE WHEN base_n <> 7 THEN FALSE
               WHEN std > 0.0 THEN abs((CAST(n AS DOUBLE) - mean) / std) > 3.0
               ELSE n * 7 <> base_sum END AS is_anomaly
        FROM v""",
    // b20: leading digit off the exact micro-unit integer (no float
    // formatting); chi-square via the exact identity (9Σc² − n²)/n,
    // half-up-e4; the flag compares exact integers against 15.507·n
    "b20_digit_profile" ->
      """WITH m AS (SELECT user_id, CAST(floor(abs(value) * 1e6) AS BIGINT) AS mu
            FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        g AS (SELECT user_id, CAST(substr(CAST(mu AS VARCHAR), 1, 1) AS INT) AS d,
            count(*) AS c
          FROM m WHERE mu > 0 GROUP BY 1, 2),
        t AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
            sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sq
          FROM g GROUP BY 1)
        SELECT user_id, n,
          floor(CAST((9 * sq - CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) * 20000 + n AS DOUBLE)
            / CAST(n * 2 AS DOUBLE)) / 10000.0 AS chi2_uniform,
          CAST(9 * sq - CAST(n AS HUGEINT) * CAST(n AS HUGEINT) AS DOUBLE)
            > 15.507 * CAST(n AS DOUBLE) AS is_nonuniform
        FROM t""",
    // one full-outer key join per declared relation, unioned — the
    // same (key, count) ⋈ distinct-parent-key shape as the Spark plan
    "b17_referential_integrity" -> {
      def rel(name: String, child: String, ck: String,
              parent: String, pk: String): String = {
        val nChild = s"sum(CASE WHEN c.k IS NOT NULL THEN c.cn ELSE 0 END)"
        val nOrph = s"sum(CASE WHEN c.k IS NOT NULL AND p.p IS NULL THEN c.cn ELSE 0 END)"
        s"""SELECT '$name' AS relation,
            CAST(coalesce($nChild, 0) AS BIGINT) AS n_child,
            CAST(coalesce(sum(CASE WHEN c.k IS NULL THEN c.cn END), 0) AS BIGINT) AS n_null_fk,
            CAST(coalesce($nOrph, 0) AS BIGINT) AS n_orphan,
            count(p.p) AS n_parent,
            count(CASE WHEN p.p IS NOT NULL AND c.cn IS NULL THEN 1 END) AS n_childless,
            CASE WHEN coalesce($nChild, 0) = 0 THEN 0.0
              ELSE floor(($nOrph * 20000 + $nChild) / ($nChild * 2)) / 10000.0
            END AS orphan_pct
          FROM (SELECT $ck AS k, count(*) AS cn FROM $child GROUP BY 1) c
          FULL OUTER JOIN (SELECT DISTINCT $pk AS k, 1 AS p FROM $parent) p
            ON c.k = p.k"""
      }
      Seq(
        rel("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        rel("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        rel("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
        .mkString("\nUNION ALL\n")
    },
    "b14_psi_drift" -> {
      val domainSql = eventTypes.map(t => s"'$t'").mkString(",")
      val kPlus1 = eventTypes.size + 1
      s"""WITH mx AS (SELECT max(date_trunc('second', ts)) AS max_ts FROM events),
         b AS (SELECT user_id,
             CASE WHEN event_type IN ($domainSql)
                  THEN event_type ELSE '__other__' END AS cat,
             CASE WHEN date_trunc('second', ts) >= max_ts - INTERVAL 7 DAY THEN 'current'
                  WHEN date_trunc('second', ts) >= max_ts - INTERVAL 21 DAY THEN 'reference'
             END AS bucket
           FROM events CROSS JOIN mx),
         cnt AS (SELECT user_id, cat,
             count(*) FILTER (WHERE bucket = 'reference') AS r,
             count(*) FILTER (WHERE bucket = 'current') AS c
           FROM b WHERE bucket IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT user_id, CAST(sum(r) AS BIGINT) AS n_ref,
             CAST(sum(c) AS BIGINT) AS n_cur
           FROM cnt GROUP BY 1 HAVING sum(r) > 0 AND sum(c) > 0),
         grid AS (SELECT user_id, n_ref, n_cur,
             unnest([$domainSql,'__other__']) AS cat
           FROM tot),
         t AS (SELECT g.user_id, g.n_ref, g.n_cur,
             CAST(floor(
               (CAST(COALESCE(c, 0) + 1 AS DOUBLE) / (g.n_cur + $kPlus1)
                 - CAST(COALESCE(r, 0) + 1 AS DOUBLE) / (g.n_ref + $kPlus1))
               * ln((CAST(COALESCE(c, 0) + 1 AS DOUBLE) / (g.n_cur + $kPlus1))
                 / (CAST(COALESCE(r, 0) + 1 AS DOUBLE) / (g.n_ref + $kPlus1)))
               * 1e6) AS BIGINT) AS micro
           FROM grid g LEFT JOIN cnt ON cnt.user_id = g.user_id AND cnt.cat = g.cat)
         SELECT user_id, n_ref, n_cur,
           CAST(sum(micro) AS DOUBLE) / 1000000 AS psi,
           sum(micro) > 100000 AS drifted
         FROM t GROUP BY 1, 2, 3"""
    },
    // f11: the oracle SQL is GENERATED from the same eventTypes +
    // f11RefCounts constants as the Spark expressions — identical
    // integer literals, identical double division/ln chain (b14's
    // libm caveat applies), exact-integer micro-PSI sum and flag
    "f11_windowed_drift" -> {
      val cats = eventTypes :+ "__other__"
      val k = cats.size
      val refMap = f11RefCounts.toMap
      val nRef = f11RefCounts.map(_._2).sum
      val inList = eventTypes.map(t => s"'$t'").mkString(", ")
      val countCols = (eventTypes.zipWithIndex.map { case (c, i) =>
        s"count(*) FILTER (WHERE event_type = '$c') AS c$i"
      } :+ s"count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN ($inList)) AS co" :+
        "count(*) AS n_cur").mkString(",\n             ")
      val terms = cats.zipWithIndex.map { case (c, i) =>
        val cnt = if (c == "__other__") "co" else s"c$i"
        val pr = s"(CAST(${refMap(c) + 1} AS DOUBLE) / CAST(${nRef + k} AS DOUBLE))"
        val pc = s"(CAST($cnt + 1 AS DOUBLE) / CAST(n_cur + $k AS DOUBLE))"
        s"CAST(floor(($pc - $pr) * ln($pc / $pr) * 1e6) AS BIGINT)"
      }.mkString("\n           + ")
      s"""WITH w AS (SELECT date_trunc('hour', ts) AS window_start,
             $countCols
           FROM events GROUP BY 1),
         p AS (SELECT window_start, n_cur, ($terms) AS psi_micro FROM w)
         SELECT window_start, n_cur,
           CAST(psi_micro AS DOUBLE) / 1000000.0 AS psi,
           psi_micro > 100000 AS drifted
         FROM p"""
    },
    // b21: the KS supremum decided on exact integers (HUGEINT ≙ the
    // Spark side's decimal(38,0)); the drifted flag evaluates the
    // identical IEEE double product chain from identical integers on
    // both engines — no rounded intermediate decides it
    "b21_ks_drift" ->
      """WITH mx AS (SELECT max(date_trunc('second', ts)) AS max_ts FROM events),
         base AS (SELECT event_type AS k, CAST(round(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN date_trunc('second', ts) >= max_ts - INTERVAL 7 DAY THEN 'current'
                  WHEN date_trunc('second', ts) >= max_ts - INTERVAL 21 DAY THEN 'reference'
             END AS bucket
           FROM events CROSS JOIN mx WHERE value IS NOT NULL),
         cnt AS (SELECT k, v,
             count(*) FILTER (WHERE bucket = 'reference') AS r,
             count(*) FILTER (WHERE bucket = 'current') AS c
           FROM base WHERE bucket IS NOT NULL GROUP BY 1, 2),
         cum AS (SELECT k, v,
             sum(r) OVER w AS cr, sum(c) OVER w AS cc,
             sum(r) OVER (PARTITION BY k) AS nr,
             sum(c) OVER (PARTITION BY k) AS nc
           FROM cnt WINDOW w AS (PARTITION BY k ORDER BY v ASC ROWS UNBOUNDED PRECEDING)),
         agg AS (SELECT k,
             max(abs(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr)) AS d,
             CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
           FROM cum GROUP BY 1)
         SELECT k AS event_type, n_ref, n_cur,
           CAST((d * 2000000 + CAST(n_ref AS HUGEINT) * n_cur)
             // (2 * CAST(n_ref AS HUGEINT) * n_cur) AS DOUBLE) / 1000000.0 AS ks,
           CAST(d AS DOUBLE) * CAST(d AS DOUBLE) >
             (CAST(1844164 AS DOUBLE) / 1000000.0)
             * (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
             * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) AS drifted
         FROM agg WHERE n_ref > 0 AND n_cur > 0""",
    // c28: the weight literals are the exact driver-computed Holt
    // coefficient vectors (Forecast.holtWeights — binary-exact α=0.5,
    // β=0.25); list_dot_product folds left-to-right exactly like the
    // Spark side's native ArrayDot, so no summation-order drift
    "c28_holt_forecast" -> {
      val (lw, bw) = graft.timeseries.Forecast.holtWeights(0.5, 0.25, 48)
      val lwSql = lw.mkString("[", ", ", "]")
      val bwSql = bw.mkString("[", ", ", "]")
      val dl = dotSql("vals", lwSql)
      val dt = dotSql("vals", bwSql)
      s"""WITH r AS (SELECT user_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rd
          FROM events WHERE value IS NOT NULL),
        k AS (SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY rd ASC) AS vals
          FROM r WHERE rd <= 48 GROUP BY 1 HAVING count(*) = 48)
        SELECT user_id, round($dl, 4) AS level, round($dt, 4) AS trend,
          round($dl + 1 * $dt, 4) AS f_h1,
          round($dl + 2 * $dt, 4) AS f_h2,
          round($dl + 3 * $dt, 4) AS f_h3
        FROM k"""
    },
    // c29: same generated-constant contract as c28 — the literals are
    // the exact driver-computed Holt-Winters coefficient vectors
    // (Forecast.holtWintersWeights; α=0.5, β=0.25, γ=0.5, m=24, n=48),
    // one vector per output column, so the two engines dot the SAME
    // doubles left-to-right and cannot drift
    "c29_holt_winters" -> {
      val (lw, bw, fws) = graft.timeseries.Forecast.holtWintersWeights(
        0.5, 0.25, 0.5, 24, 48, Seq(1, 2, 3))
      val dl = dotSql("vals", lw.mkString("[", ", ", "]"))
      val dt = dotSql("vals", bw.mkString("[", ", ", "]"))
      val fcols = Seq(1, 2, 3).zip(fws).map { case (h, fw) =>
        s"round(${dotSql("vals", fw.mkString("[", ", ", "]"))}, 4) AS f_h$h"
      }.mkString(",\n          ")
      s"""WITH r AS (SELECT user_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rd
          FROM events WHERE value IS NOT NULL),
        k AS (SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY rd ASC) AS vals
          FROM r WHERE rd <= 48 GROUP BY 1 HAVING count(*) = 48)
        SELECT user_id, round($dl, 4) AS level, round($dt, 4) AS trend,
          $fcols
        FROM k"""
    },
    // c30: the split is integer cross-multiplication; the trend fits
    // on exact int64 Gram sums over (hours since the key's first train
    // row, cents), so both engines derive bit-identical slope/icept
    // doubles; fitted values quantize to the 1e-6 grid (floor of an
    // identical double), residual sums are exact ints, and the final
    // round(·,4) divides identical doubles (the c11 parity argument).
    "c30_seasonal_ridge" ->
      s"""WITH $c30EvalCtes
         SELECT user_id, period, event_id, value,
           (CASE WHEN p6 < 0 THEN -1.0 ELSE 1.0 END) *
             ((abs(p6) + 50) // 100) / 10000.0 AS prediction
         FROM ev""",
    // c32: the c30 chain verbatim + the c6/c7 lag window; the blend
    // is one exact int64 sum divided once (no rounding step exists)
    "c32_forecast_blend" ->
      s"""WITH $c30EvalCtes,
         nv AS (SELECT user_id, event_id,
             lag(value, 24) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS pn
           FROM events)
         SELECT ev.user_id, ev.period, ev.event_id, ev.value,
           (CASE WHEN p6 < 0 THEN -1.0 ELSE 1.0 END) *
             ((abs(p6) + 50) // 100) / 10000.0 AS ridge_prediction,
           CAST(round(pn * 10000, 0) AS BIGINT) / 10000.0 AS naive_prediction,
           ((CASE WHEN p6 < 0 THEN -((abs(p6) + 50) // 100)
              ELSE (abs(p6) + 50) // 100 END)
             + CAST(round(pn * 10000, 0) AS BIGINT)) / 20000.0 AS prediction
         FROM ev JOIN nv ON ev.user_id = nv.user_id AND ev.event_id = nv.event_id
         WHERE pn IS NOT NULL""",
    // c31: the c29 generated-weights pattern with the damped (phi=0.9)
    // recursion — the oracle embeds the exact same driver-computed
    // coefficient vectors, so the dot products are bit-identical by
    // the c28 parity argument
    "c31_holt_winters_damped" -> {
      val (lw, bw, fws) = graft.timeseries.Forecast.holtWintersDampedWeights(
        0.5, 0.25, 0.5, 0.9, 24, 48, Seq(1, 2, 3))
      val dl = dotSql("vals", lw.mkString("[", ", ", "]"))
      val dt = dotSql("vals", bw.mkString("[", ", ", "]"))
      val fcols = Seq(1, 2, 3).zip(fws).map { case (h, fw) =>
        s"round(${dotSql("vals", fw.mkString("[", ", ", "]"))}, 4) AS f_h$h"
      }.mkString(",\n          ")
      s"""WITH r AS (SELECT user_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rd
          FROM events WHERE value IS NOT NULL),
        k AS (SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY rd ASC) AS vals
          FROM r WHERE rd <= 48 GROUP BY 1 HAVING count(*) = 48)
        SELECT user_id, round($dl, 4) AS level, round($dt, 4) AS trend,
          $fcols
        FROM k"""
    },
    "c14_multi_horizon_forecast" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value FROM events),
         r AS (SELECT user_id, period, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY period DESC, event_id DESC) AS rd,
             max(period) OVER (PARTITION BY user_id) AS max_p
           FROM t),
         tr AS (SELECT user_id,
             regr_slope(CAST(value AS DOUBLE), CAST(CAST(epoch(period) AS BIGINT) AS DOUBLE)) AS slope,
             regr_intercept(CAST(value AS DOUBLE), CAST(CAST(epoch(period) AS BIGINT) AS DOUBLE)) AS icept
           FROM t GROUP BY 1)
         SELECT r.user_id, CAST(25 - rd AS INT) AS horizon,
           max_p + to_seconds(CAST((25 - rd) * 3600 AS BIGINT)) AS period,
           value AS snaive_prediction,
           round(icept + slope * CAST(CAST(epoch(max_p + to_seconds(CAST((25 - rd) * 3600 AS BIGINT))) AS BIGINT) AS DOUBLE), 4) AS trend_prediction
         FROM r JOIN tr ON r.user_id = tr.user_id WHERE rd <= 24""",
    "c1_resample_hourly" ->
      """SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n,
         floor((sum(round(value * 100, 0)) * 200 + count(*)) / (count(*) * 2)) / 10000.0 AS avg_value,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "c2_scale_minmax" ->
      """SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
         round(CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.0
           ELSE (value - min(value) OVER w) / (max(value) OVER w - min(value) OVER w) END, 6) AS value_scaled
         FROM events WINDOW w AS (PARTITION BY user_id)""",
    "c3_scale_standard" ->
      """WITH t AS (SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
           round(value * 100, 0) AS cents FROM events),
         w AS (SELECT *, CAST(count(*) OVER win AS DOUBLE) AS n,
             sum(cents) OVER win AS s, sum(cents * cents) OVER win AS ss
           FROM t WINDOW win AS (PARTITION BY user_id))
         SELECT event_id, user_id, period, value,
           round(CASE WHEN sqrt(greatest((ss - s * s / n) / n, 0)) = 0 THEN 0.0
             ELSE (cents - s / n) / sqrt(greatest((ss - s * s / n) / n, 0)) END, 4) AS value_scaled
         FROM w""",
    "c12_scaler_params" ->
      """WITH t AS (SELECT user_id, value, round(value * 100, 0) AS c FROM events)
         SELECT user_id, count(*) AS n,
           round(min(value), 4) AS min, round(max(value), 4) AS max,
           floor((sum(c) * 200 + count(*)) / (count(*) * 2)) / 10000.0 AS mean,
           round(sqrt(greatest((sum(c * c) - sum(c) * sum(c) / count(*)) / count(*), 0))
             / 100.0, 4) AS std
         FROM t GROUP BY 1""",
    "c4_train_val_test_split" ->
      """WITH t AS (SELECT event_id, user_id, date_trunc('second', ts) AS period,
           row_number() OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
         FROM events)
         SELECT event_id, user_id, period,
           CASE WHEN rn <= floor(n * 0.7) THEN 'train'
                WHEN rn <= floor(n * 0.7) + floor(n * 0.15) THEN 'val'
                ELSE 'test' END AS split
         FROM t""",
    "c5_lag_features" ->
      """SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
         lag(value, 1) OVER w AS lag_1, lag(value, 24) OVER w AS lag_24,
         lag(value, 168) OVER w AS lag_168,
         floor((sum(round(value * 100, 0)) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) * 200 +
           count(*) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) /
           (count(*) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) * 2)) / 10000.0 AS roll_mean_24
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)""",
    "c6_seasonal_naive_forecast" ->
      """SELECT * FROM (
           SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
             lag(value, 24) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prediction
           FROM events) t WHERE prediction IS NOT NULL""",
    // c6's lag + exact-cents residual quantiles per key; lo/hi are
    // (pred_cents + q)/100 with no round() — boundary-free
    "c24_forecast_intervals" ->
      """WITH fc AS (SELECT * FROM (
           SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
             lag(value, 24) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prediction
           FROM events) t WHERE prediction IS NOT NULL),
         r AS (SELECT *, CAST(round(prediction * 100, 0) AS BIGINT) AS pc,
             CAST(round(value * 100, 0) AS BIGINT)
               - CAST(round(prediction * 100, 0) AS BIGINT) AS rc
           FROM fc),
         q AS (SELECT user_id,
             CAST(quantile_cont(rc, 0.1) AS DOUBLE) AS qlo,
             CAST(quantile_cont(rc, 0.9) AS DOUBLE) AS qhi
           FROM r GROUP BY 1)
         SELECT r.user_id, r.period, r.event_id, r.value, r.prediction,
           (r.pc + q.qlo) / 100.0 AS lo,
           (r.pc + q.qhi) / 100.0 AS hi
         FROM r JOIN q ON r.user_id = q.user_id""",
    // c25: the e46 histogram arithmetic replicated verbatim — integer
    // micro-unit cumulative counts, ceil targets in integer division,
    // thresholds re-emitted as exact long/1e6 doubles
    "c25_winsorize" ->
      """WITH t AS (SELECT event_id, user_id, date_trunc('second', ts) AS period,
            value, CAST(floor(value * 1e6) AS BIGINT) AS vu FROM events),
          h AS (SELECT user_id, vu, count(*) AS c FROM t
            WHERE value IS NOT NULL GROUP BY 1, 2),
          cw AS (SELECT user_id, vu,
              sum(c) OVER (PARTITION BY user_id ORDER BY vu
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              sum(c) OVER (PARTITION BY user_id) AS n
            FROM h),
          thr AS (SELECT user_id,
              min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN vu END) AS lo,
              min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN vu END) AS hi
            FROM cw GROUP BY 1)
          SELECT t.event_id, t.user_id, t.period, t.value,
            CASE WHEN t.vu < thr.lo THEN thr.lo / 1e6
                 WHEN t.vu > thr.hi THEN thr.hi / 1e6
                 ELSE t.value END AS value_winsorized
          FROM t LEFT JOIN thr ON t.user_id = thr.user_id""",
    // c26: every candidate mean derives from the same exact
    // micro-unit prefix sums in both engines, so the argmax ordering
    // (diff desc, idx asc) cannot drift cross-engine
    "c26_changepoint" ->
      """WITH b AS (SELECT user_id, date_trunc('second', ts) AS ts2, event_id,
            CAST(CAST(floor(value * 1e6) AS BIGINT) AS DECIMAL(38,0)) AS v
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        w AS (SELECT user_id, ts2, v,
            row_number() OVER ok AS idx,
            sum(v) OVER (ok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
            sum(v) OVER (PARTITION BY user_id) AS t,
            count(*) OVER (PARTITION BY user_id) AS n
          FROM b
          WINDOW ok AS (PARTITION BY user_id ORDER BY ts2, event_id)),
        c AS (SELECT user_id, ts2, idx, n, s, t,
            CAST(s AS DOUBLE) / CAST(idx AS DOUBLE) AS lft,
            CAST(t - s AS DOUBLE) / CAST(n - idx AS DOUBLE) AS rgt
          FROM w WHERE idx >= 24 AND idx <= n - 24),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY abs(lft - rgt) DESC, idx) AS rn FROM c),
        -- half-up-e4 from exact integers (the b6/b17 formula): round()
        -- on the double ratio diverges from Spark at x.00005 boundaries
        f AS (SELECT user_id, n, idx, ts2,
            floor(CAST(s * 2 + idx * 100 AS DOUBLE)
              / CAST(idx * 200 AS DOUBLE)) / 10000.0 AS mean_before,
            floor(CAST((t - s) * 2 + (n - idx) * 100 AS DOUBLE)
              / CAST((n - idx) * 200 AS DOUBLE)) / 10000.0 AS mean_after
          FROM r WHERE rn = 1)
        SELECT user_id, n, CAST(idx AS BIGINT) AS split_idx, ts2 AS split_ts,
          mean_before, mean_after, mean_after - mean_before AS shift
        FROM f""",
    // c27: all five moments exact in HUGEINT (mirrors Spark's
    // decimal(38,0)); only sqrt + the final divide are floating point
    "c27_autocorrelation" ->
      """WITH b AS (SELECT user_id, date_trunc('second', ts) AS ts2, event_id,
            CAST(floor(value * 1e6) AS BIGINT) AS x
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        l AS (SELECT user_id, x,
            lag(x, 24) OVER (PARTITION BY user_id ORDER BY ts2, event_id) AS y
          FROM b),
        m AS (SELECT user_id, count(*) AS n,
            sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
            sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
            sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
            sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
          FROM l WHERE y IS NOT NULL GROUP BY 1)
        SELECT user_id, n AS n_pairs,
          CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
            round(CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
          END AS acf
        FROM m""",
    "c7_forecast_metrics" ->
      """WITH f AS (
           SELECT user_id, value,
             lag(value, 24) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prediction
           FROM events)
         SELECT user_id, count(*) AS n,
           round(sqrt(avg(pow(value - prediction, 2))), 4) AS rmse,
           round(avg(abs((value - prediction) / (value + 1e-8))) * 100, 4) AS mape
         FROM f WHERE prediction IS NOT NULL GROUP BY 1""",
    "c8_linear_forecast" ->
      """WITH t AS (SELECT user_id,
           CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS DOUBLE) AS x,
           CAST(value AS DOUBLE) AS y FROM events),
         r AS (SELECT user_id, regr_slope(y, x) AS slope,
                 regr_intercept(y, x) AS intercept, max(x) AS x_max
               FROM t GROUP BY 1)
         SELECT user_id, round(slope * 3600 * 24, 6) AS slope_per_day,
           round(intercept + slope * (x_max + 86400), 4) AS forecast FROM r""",
    "c9_drift_detection" ->
      """WITH m AS (SELECT max(date_trunc('second', ts)) AS max_ts FROM events),
         t AS (SELECT user_id, value, round(value * 100, 0) AS cents,
           CASE WHEN date_trunc('second', ts) >= max_ts - INTERVAL 7 DAY THEN 'current'
                WHEN date_trunc('second', ts) >= max_ts - INTERVAL 21 DAY THEN 'reference'
           END AS bucket
           FROM events, m),
         g AS (SELECT user_id,
           sum(cents) FILTER (WHERE bucket = 'reference') AS s_ref,
           count(cents) FILTER (WHERE bucket = 'reference') AS n_ref,
           sum(cents) FILTER (WHERE bucket = 'current') AS s_cur,
           count(cents) FILTER (WHERE bucket = 'current') AS n_cur
           FROM t WHERE bucket IS NOT NULL GROUP BY 1)
         SELECT user_id,
           floor((s_ref * 200 + n_ref) / (n_ref * 2)) / 10000.0 AS ref_mean,
           floor((s_cur * 200 + n_cur) / (n_cur * 2)) / 10000.0 AS cur_mean,
           round(abs(s_cur / n_cur - s_ref / n_ref) / (s_ref / n_ref), 6) AS shift,
           abs(s_cur / n_cur - s_ref / n_ref) / (s_ref / n_ref) > 0.1 AS drifted
         FROM g WHERE n_ref > 0 AND n_cur > 0""",
    "c10_rolling_stats" ->
      """WITH t AS (SELECT event_id, user_id, date_trunc('second', ts) AS period, value,
           round(value * 100, 0) AS cents FROM events),
         w AS (SELECT *, CAST(count(*) OVER win AS DOUBLE) AS n,
             sum(cents) OVER win AS s, sum(cents * cents) OVER win AS ss
           FROM t WINDOW win AS (PARTITION BY user_id ORDER BY period, event_id
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, period, value,
           floor((s * 200 + n) / (n * 2)) / 10000.0 AS roll_mean,
           round(CASE WHEN n = 1 THEN NULL
             ELSE sqrt(greatest((ss - s * s / n) / (n - 1), 0)) / 100.0 END, 4) AS roll_std
         FROM w""",
    "c13_backtest" ->
      """WITH f AS (
           SELECT user_id, value, event_id, date_trunc('second', ts) AS period,
             lag(value, 24) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prediction
           FROM events),
         t AS (SELECT user_id, value, prediction,
             row_number() OVER (PARTITION BY user_id ORDER BY period, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM f WHERE prediction IS NOT NULL)
         SELECT user_id,
           CAST(least(floor((rn - 1) * 3 / n), 2) AS INT) AS fold,
           count(*) AS n,
           round(sqrt(avg(pow(value - prediction, 2))), 4) AS rmse,
           round(avg(abs((value - prediction) / (value + 1e-8))) * 100, 4) AS mape
         FROM t GROUP BY 1, 2""",
    // c11/c15: the gram sums are exact integers (cents), so both engines
    // derive bit-identical doubles; the Cramer solve below mirrors
    // Forecast.det3's operand order term by term.
    "c11_ridge_lag_forecast" ->
      """WITH f AS (
           SELECT user_id, value,
             lag(value, 1) OVER w AS x1, lag(value, 24) OVER w AS x2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)),
         c AS (SELECT user_id, round(value * 100, 0) AS cy,
             round(x1 * 100, 0) AS c1, round(x2 * 100, 0) AS c2
           FROM f WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
         g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS s00,
             sum(c1) / 100.0 AS s01, sum(c2) / 100.0 AS s02,
             sum(c1 * c1) / 10000.0 AS s11, sum(c1 * c2) / 10000.0 AS s12,
             sum(c2 * c2) / 10000.0 AS s22,
             sum(cy) / 100.0 AS b0, sum(c1 * cy) / 10000.0 AS b1,
             sum(c2 * cy) / 10000.0 AS b2
           FROM c GROUP BY 1),
         m AS (SELECT user_id, s00 + 1.0 AS a00, s01 AS a01, s02 AS a02,
             s11 + 1.0 AS a11, s12 AS a12, s22 + 1.0 AS a22, b0, b1, b2 FROM g),
         d AS (SELECT *,
             a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det
           FROM m)
         SELECT user_id,
           round(CASE WHEN abs(det) > 1e-12 THEN (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det ELSE 0.0 END, 4) AS intercept,
           round(CASE WHEN abs(det) > 1e-12 THEN (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det ELSE 0.0 END, 6) AS coef_lag1,
           round(CASE WHEN abs(det) > 1e-12 THEN (a00 * (a11 * b2 - b1 * a12) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det ELSE 0.0 END, 6) AS coef_lag_season
         FROM d""",
    // c22: c11's coefficient table (rounded exactly as persisted —
    // inference consumes the artifact, not the raw solve) applied back
    // to the lag-feature rows
    "c22_coeff_apply" ->
      """WITH f AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS period, value,
             lag(value, 1) OVER w AS x1, lag(value, 24) OVER w AS x2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)),
         ff AS (SELECT * FROM f WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
         c AS (SELECT user_id, round(value * 100, 0) AS cy,
             round(x1 * 100, 0) AS c1, round(x2 * 100, 0) AS c2 FROM ff),
         g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS s00,
             sum(c1) / 100.0 AS s01, sum(c2) / 100.0 AS s02,
             sum(c1 * c1) / 10000.0 AS s11, sum(c1 * c2) / 10000.0 AS s12,
             sum(c2 * c2) / 10000.0 AS s22,
             sum(cy) / 100.0 AS b0, sum(c1 * cy) / 10000.0 AS b1,
             sum(c2 * cy) / 10000.0 AS b2
           FROM c GROUP BY 1),
         m AS (SELECT user_id, s00 + 1.0 AS a00, s01 AS a01, s02 AS a02,
             s11 + 1.0 AS a11, s12 AS a12, s22 + 1.0 AS a22, b0, b1, b2 FROM g),
         d AS (SELECT *,
             a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det
           FROM m),
         co AS (SELECT user_id,
             round(CASE WHEN abs(det) > 1e-12 THEN (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det ELSE 0.0 END, 4) AS intercept,
             round(CASE WHEN abs(det) > 1e-12 THEN (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det ELSE 0.0 END, 6) AS coef_lag1,
             round(CASE WHEN abs(det) > 1e-12 THEN (a00 * (a11 * b2 - b1 * a12) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det ELSE 0.0 END, 6) AS coef_lag_season
           FROM d),
         ci AS (SELECT user_id,
             CAST(round(intercept * 10000, 0) AS BIGINT) AS i4,
             CAST(round(coef_lag1 * 1000000, 0) AS BIGINT) AS c1i,
             CAST(round(coef_lag_season * 1000000, 0) AS BIGINT) AS c2i
           FROM co),
         p AS (SELECT ff.event_id, ff.user_id, ff.period, ff.value,
             ci.i4 * 10000 + ci.c1i * CAST(round(ff.x1 * 100, 0) AS BIGINT)
               + ci.c2i * CAST(round(ff.x2 * 100, 0) AS BIGINT) AS p8
           FROM ff JOIN ci ON ff.user_id = ci.user_id)
         SELECT event_id, user_id, period, value,
           (CASE WHEN p8 < 0 THEN -1.0 ELSE 1.0 END)
             * ((abs(p8) + 5000) // 10000) / 10000.0 AS prediction
         FROM p""",
    "c15_model_selection" ->
      """WITH f AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS period, value,
             lag(value, 1) OVER w AS x1, lag(value, 24) OVER w AS x2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)),
         ff AS (SELECT user_id, value, x1, x2,
             row_number() OVER (PARTITION BY user_id ORDER BY period, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM f WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
         s AS (SELECT *, CASE WHEN rn <= floor(n * 0.7) THEN 'train'
             WHEN rn <= floor(n * 0.7) + floor(n * 0.15) THEN 'val'
             ELSE 'test' END AS split FROM ff),
         g AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS s00,
             sum(c1) / 100.0 AS s01, sum(c2) / 100.0 AS s02,
             sum(c1 * c1) / 10000.0 AS s11, sum(c1 * c2) / 10000.0 AS s12,
             sum(c2 * c2) / 10000.0 AS s22,
             sum(cy) / 100.0 AS b0, sum(c1 * cy) / 10000.0 AS b1,
             sum(c2 * cy) / 10000.0 AS b2
           FROM (SELECT user_id, round(value * 100, 0) AS cy,
               round(x1 * 100, 0) AS c1, round(x2 * 100, 0) AS c2
             FROM s WHERE split = 'train')
           GROUP BY 1),
         l AS (SELECT g.*, lam.lambda FROM g,
           (SELECT unnest(CAST([0.01, 0.1, 1.0, 10.0, 100.0] AS DOUBLE[])) AS lambda) lam),
         m AS (SELECT user_id, lambda, s00 + lambda AS a00, s01 AS a01, s02 AS a02,
             s11 + lambda AS a11, s12 AS a12, s22 + lambda AS a22, b0, b1, b2 FROM l),
         d AS (SELECT *,
             a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02) AS det
           FROM m),
         co AS (SELECT user_id, lambda,
             CASE WHEN abs(det) > 1e-12 THEN (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det ELSE 0.0 END AS c0,
             CASE WHEN abs(det) > 1e-12 THEN (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det ELSE 0.0 END AS c1,
             CASE WHEN abs(det) > 1e-12 THEN (a00 * (a11 * b2 - b1 * a12) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det ELSE 0.0 END AS c2
           FROM d),
         sc AS (SELECT s.user_id, co.lambda,
             sqrt(avg(CASE WHEN split = 'val' THEN pow(value - (c0 + c1 * x1 + c2 * x2), 2) END)) AS val_raw,
             sqrt(avg(CASE WHEN split = 'test' THEN pow(value - (c0 + c1 * x1 + c2 * x2), 2) END)) AS test_raw
           FROM s JOIN co ON s.user_id = co.user_id WHERE split <> 'train'
           GROUP BY 1, 2)
         SELECT user_id, lambda AS best_lambda,
           round(val_raw, 4) AS val_rmse, round(test_raw, 4) AS test_rmse
         FROM sc
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY val_raw, lambda) = 1""",
    // exact-integer value masses (the d2/d8 discipline) — the plain
    // double sums drifted by summation order at sf30 where the price
    // sum's magnitude (1e12) puts a double ULP at ~1e-4; HUGEINT keeps
    // the 6-decimal charge mass exact where BIGINT would overflow
    "d1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS HUGEINT)) / 1000000.0 AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         floor((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) * 200 + count(*))
           / (count(*) * 2)) / 10000.0 AS avg_price,
         floor((sum(CAST(round(l_discount * 100, 0) AS BIGINT)) * 200 + count(*))
           / (count(*) * 2)) / 10000.0 AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01' GROUP BY 1, 2""",
    "d2_revenue_by_nation" ->
      """SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""",
    "d8_revenue_rollup" ->
      """SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "d11_pricing_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         count(*) AS n_lines,
         sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "c19_scaler_apply" ->
      """WITH t AS (SELECT user_id, value, round(value * 100, 0) AS c FROM events),
         p AS (SELECT user_id,
             floor((sum(c) * 200 + count(*)) / (count(*) * 2)) / 10000.0 AS mu,
             round(sqrt(greatest((sum(c * c) - sum(c) * sum(c) / count(*)) / count(*), 0))
               / 100.0, 4) AS sd
           FROM t GROUP BY 1)
         SELECT e.event_id, e.user_id, date_trunc('second', e.ts) AS period, e.value AS value,
           round(CASE WHEN p.sd = 0 THEN 0.0 ELSE (e.value - p.mu) / p.sd END, 4) AS value_scaled
         FROM events e JOIN p ON e.user_id = p.user_id""",
    "c20_scaler_inverse" ->
      """WITH p AS (SELECT user_id, round(min(value), 4) AS mn, round(max(value), 4) AS mx
           FROM events GROUP BY 1),
         s AS (SELECT e.event_id, e.user_id, date_trunc('second', e.ts) AS period,
             e.value AS value,
             round(CASE WHEN p.mx = p.mn THEN 0.0
               ELSE (e.value - p.mn) / (p.mx - p.mn) END, 6) AS value_scaled
           FROM events e JOIN p ON e.user_id = p.user_id),
         t AS (SELECT s.*,
             CAST(round(s.value_scaled * 1000000, 0) AS BIGINT)
               * CAST(round((p.mx - p.mn) * 10000, 0) AS BIGINT)
               + CAST(round(p.mn * 10000, 0) AS BIGINT) * 1000000 AS tt
           FROM s JOIN p ON s.user_id = p.user_id)
         SELECT event_id, user_id, period, value, value_scaled,
           (CASE WHEN tt < 0 THEN -((-tt + 500000) // 1000000)
                 ELSE (tt + 500000) // 1000000 END) / 10000.0 AS value_restored
         FROM t""",
    "c16_window_samples" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value,
           row_number() OVER w AS rn,
           count(value) OVER (w ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS c_in,
           count(value) OVER (w ROWS BETWEEN 1 FOLLOWING AND 6 FOLLOWING) AS c_tg
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)),
         a AS (SELECT user_id, period AS anchor_period, rn FROM t
           WHERE c_in = 24 AND c_tg = 6 AND (rn - 24) % 4 = 0)
         SELECT a.user_id, a.anchor_period, 'input' AS seq,
           CAST(b.rn - a.rn + 23 AS INT) AS pos, b.value
         FROM a JOIN t b ON b.user_id IS NOT DISTINCT FROM a.user_id
           AND b.rn BETWEEN a.rn - 23 AND a.rn
         UNION ALL
         SELECT a.user_id, a.anchor_period, 'target',
           CAST(b.rn - a.rn - 1 AS INT), b.value
         FROM a JOIN t b ON b.user_id IS NOT DISTINCT FROM a.user_id
           AND b.rn BETWEEN a.rn + 1 AND a.rn + 6""",
    "c21_seasonal_decompose" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
         FROM events WHERE ts IS NOT NULL),
         w AS (SELECT *, count(cents) OVER win AS n, sum(cents) OVER win AS s FROM t
           WINDOW win AS (PARTITION BY user_id ORDER BY period, event_id
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         d AS (SELECT *, CASE WHEN n = 25 THEN
             CASE WHEN s * 100 < 0 THEN -(((-(s * 100)) + n // 2) // n)
                  ELSE (s * 100 + n // 2) // n END END AS trend_e4 FROM w),
         d2 AS (SELECT *, cents * 100 - trend_e4 AS det_e4, hour(period) AS hod FROM d),
         s2 AS (SELECT *, count(det_e4) OVER hw AS m, sum(det_e4) OVER hw AS ssum,
           CASE WHEN count(det_e4) OVER hw > 0 THEN
             CASE WHEN sum(det_e4) OVER hw < 0
               THEN -(((-(sum(det_e4) OVER hw)) + (count(det_e4) OVER hw) // 2) // (count(det_e4) OVER hw))
               ELSE (sum(det_e4) OVER hw + (count(det_e4) OVER hw) // 2) // (count(det_e4) OVER hw) END
           END AS season_e4
           FROM d2 WINDOW hw AS (PARTITION BY user_id, hod))
         SELECT user_id, period, event_id, value,
           trend_e4 / 10000.0 AS trend,
           season_e4 / 10000.0 AS seasonal,
           (det_e4 - season_e4) / 10000.0 AS remainder
         FROM s2""",
    // c21's CTE chain + per-key exact median/MAD of the integer-e4
    // remainders (quantile_cont on longs — the b5 parity argument);
    // only rows beyond k·MAD survive
    "c23_residual_anomalies" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
         FROM events WHERE ts IS NOT NULL),
         w AS (SELECT *, count(cents) OVER win AS n, sum(cents) OVER win AS s FROM t
           WINDOW win AS (PARTITION BY user_id ORDER BY period, event_id
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         d AS (SELECT *, CASE WHEN n = 25 THEN
             CASE WHEN s * 100 < 0 THEN -(((-(s * 100)) + n // 2) // n)
                  ELSE (s * 100 + n // 2) // n END END AS trend_e4 FROM w),
         d2 AS (SELECT *, cents * 100 - trend_e4 AS det_e4, hour(period) AS hod FROM d),
         s2 AS (SELECT *, count(det_e4) OVER hw AS m, sum(det_e4) OVER hw AS ssum,
           CASE WHEN count(det_e4) OVER hw > 0 THEN
             CASE WHEN sum(det_e4) OVER hw < 0
               THEN -(((-(sum(det_e4) OVER hw)) + (count(det_e4) OVER hw) // 2) // (count(det_e4) OVER hw))
               ELSE (sum(det_e4) OVER hw + (count(det_e4) OVER hw) // 2) // (count(det_e4) OVER hw) END
           END AS season_e4
           FROM d2 WINDOW hw AS (PARTITION BY user_id, hod)),
         r AS (SELECT user_id, period, event_id, value,
             (det_e4 - season_e4) / 10000.0 AS remainder,
             det_e4 - season_e4 AS r_e4
           FROM s2 WHERE det_e4 - season_e4 IS NOT NULL),
         med AS (SELECT user_id, CAST(quantile_cont(r_e4, 0.5) AS DOUBLE) AS med
           FROM r GROUP BY 1),
         ad AS (SELECT r.*, abs(r.r_e4 - med.med) AS deviation_e4
           FROM r JOIN med ON r.user_id = med.user_id),
         mad AS (SELECT user_id, CAST(quantile_cont(deviation_e4, 0.5) AS DOUBLE) AS mad
           FROM ad GROUP BY 1)
         SELECT ad.user_id, ad.period, ad.event_id, ad.value, ad.remainder,
           ad.deviation_e4, mad.mad AS mad_e4
         FROM ad JOIN mad ON ad.user_id = mad.user_id
         WHERE ad.deviation_e4 > 3 * mad.mad""",
    "c17_ema_smooth" -> {
      val weights = graft.timeseries.TimeSeries.emaWeights(0.2, 24)
      val wvals = weights.zipWithIndex.map { case (w, j) => s"($j, $w)" }.mkString(", ")
      s"""WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY date_trunc('second', ts), event_id) AS rn
          FROM events WHERE value IS NOT NULL),
          w(age, wt) AS (VALUES $wvals)
          SELECT a.user_id, a.period, a.event_id, a.value,
            round(sum(b.value * w.wt) / sum(w.wt), 4) AS ema
          FROM t a JOIN t b ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 23 AND a.rn
          JOIN w ON w.age = a.rn - b.rn
          GROUP BY 1, 2, 3, 4""" },
    "c18_asof_join" ->
      """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
           floor((sum(round(value * 100, 0)) * 200 + count(*)) / (count(*) * 2)) / 10000.0 AS bucket_avg
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, date_trunc('second', e.ts) AS period, e.value,
           h.bucket, h.bucket_avg
         FROM events e ASOF LEFT JOIN h
           ON e.user_id = h.user_id AND date_trunc('second', e.ts) >= h.bucket""",
    "d3_top_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment,
         ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) + 50) // 100) / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 10""",
    "d10_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
           sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS total_qty
         FROM lineitem GROUP BY 1
         HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 > 200)
         SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, total_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey""",
    "d9_grouped_topn" ->
      """WITH r AS (SELECT c_nationkey, c_custkey,
           sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
         SELECT c_nationkey, c_custkey, cents / 100.0 AS revenue, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY c_nationkey
             ORDER BY cents DESC, c_custkey) AS rank FROM r) q
         WHERE rank <= 3""",
    "d4_order_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1""",
    "d5_promo_share" ->
      """SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
           THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0 /
           sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "d6_events_user_funnel" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'view') AS views,
         count(*) FILTER (WHERE event_type = 'click') AS clicks,
         count(*) FILTER (WHERE event_type = 'signup') AS signups,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
         round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4) AS purchase_value
         FROM events GROUP BY 1""",
    "d7_salted_agg" ->
      """SELECT user_id,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value,
         count(*) AS n
         FROM events GROUP BY 1""",
    "e1_exact_dedup" ->
      s"""SELECT md5($normSql) AS text_hash, min(doc_id) AS keep_doc_id,
          count(*) AS dup_count FROM documents GROUP BY 1""",
    "e2_minhash_lsh_pairs" -> {
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                  FROM w WHERE len(words) >= 3)),
          h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
          mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
          bnd AS ($minhashBandsSql),
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000)
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM pruned a JOIN pruned b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"""
    },
    // e51: the e2 candidate CTE verbatim, then signature agreement
    // counted against the same mh table the bands folded from
    "e51_minhash_estimate" -> {
      val agree = (0 until 16)
        .map(i => s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                  FROM w WHERE len(words) >= 3)),
          h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
          mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
          bnd AS ($minhashBandsSql),
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000),
          pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
          SELECT p.doc_a, p.doc_b, CAST($agree AS BIGINT) AS n_agree,
            floor((($agree) * 20000 + 16) / 32) / 10000.0 AS est_jaccard
          FROM pairs p JOIN mh a ON a.doc_id = p.doc_a
            JOIN mh b ON b.doc_id = p.doc_b"""
    },
    // e52: the e2 candidate CTEs verbatim (restricted to the eval
    // set), ground truth by exact Jaccard over the SAME shingle poly
    // hashes (mirrored-hash contract, like e30/e44)
    "e52_lsh_recall" -> {
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                  FROM w WHERE len(words) >= 3)),
          h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
          mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
          bnd AS ($minhashBandsSql),
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            WHERE a.doc_id < 200 AND b.doc_id < 200),
          sg AS (SELECT DISTINCT doc_id, h0 FROM h WHERE doc_id < 200),
          cnt AS (SELECT doc_id, count(*) AS n FROM sg GROUP BY 1),
          itr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sg a JOIN sg b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          ex AS (SELECT doc_a, doc_b FROM itr
            JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
            WHERE i * 10000 >= 5000 * (ca.n + cb.n - i))
          SELECT ne.n_exact, nc.n_candidates, nh.n_hit,
            CASE WHEN ne.n_exact > 0
              THEN floor((nh.n_hit * 20000 + ne.n_exact) / (ne.n_exact * 2)) / 10000.0
            END AS recall
          FROM (SELECT count(*) AS n_exact FROM ex) ne,
               (SELECT count(*) AS n_candidates FROM cand) nc,
               (SELECT count(*) AS n_hit
                FROM ex JOIN cand USING (doc_a, doc_b)) nh"""
    },
    // e53: the e8 lang CASE + e9 quality expression + e1 md5 key,
    // composed into cumulative funnel counts
    "e53_curation_funnel" ->
      s"""WITH f AS (SELECT doc_id, text,
            length(text) AS nc,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
            length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS np,
            len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it|for|on|with)\\b')) AS ns,
            CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|zu)\\b')) AS DOUBLE) AS s_de,
            CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|in|that|it)\\b')) AS DOUBLE) AS s_en,
            CAST(len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los|las|una|es)\\b')) AS DOUBLE) AS s_es,
            CAST(len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des|est|une|dans)\\b')) AS DOUBLE) AS s_fr,
            CAST(len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) * 2 AS s_zh,
            md5($normSql) AS h
          FROM documents WHERE doc_id IS NOT NULL),
        g0 AS (SELECT *,
            CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                 WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
                 WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                 WHEN s_es > greatest(s_de, s_en) THEN 'es'
                 WHEN s_en > s_de THEN 'en'
                 ELSE 'de' END AS lang2,
            round(CASE WHEN w < 5 THEN 0.0 ELSE 1.0
              * (CASE WHEN round(CAST(nc AS DOUBLE) / greatest(w, 1), 4) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN round(CAST(np AS DOUBLE) / greatest(nc, 1), 6) < 0.2 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN round(CAST(ns AS DOUBLE) / greatest(w, 1), 6) > 0.01 THEN 1.0 ELSE 0.7 END)
            END, 4) AS q
          FROM f),
        g AS (SELECT count(*) AS n0,
            count(CASE WHEN lang2 = 'en' THEN 1 END) AS n1,
            count(CASE WHEN lang2 = 'en' AND q >= 0.5 THEN 1 END) AS n2,
            count(CASE WHEN lang2 = 'en' AND q >= 0.5 AND w BETWEEN 10 AND 5000 THEN 1 END) AS n3,
            count(DISTINCT CASE WHEN lang2 = 'en' AND q >= 0.5 AND w BETWEEN 10 AND 5000 THEN h END) AS n4
          FROM g0)
        SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
          n0 AS n_docs, CAST(0 AS BIGINT) AS n_dropped FROM g
        UNION ALL SELECT CAST(1 AS BIGINT), 'lang_en', n1, n0 - n1 FROM g
        UNION ALL SELECT CAST(2 AS BIGINT), 'quality', n2, n1 - n2 FROM g
        UNION ALL SELECT CAST(3 AS BIGINT), 'length', n3, n2 - n3 FROM g
        UNION ALL SELECT CAST(4 AS BIGINT), 'exact_dedup', n4, n3 - n4 FROM g""",
    // e54: the e1 md5 key, attributed per source; null texts group
    // per source, a null source is its own row (GROUP BY null
    // semantics agree across engines)
    "e54_dup_rate_by_source" ->
      s"""WITH h AS (SELECT source, md5($normSql) AS h FROM documents
            WHERE doc_id IS NOT NULL),
          g AS (SELECT source, h, count(*) AS c FROM h GROUP BY 1, 2)
          SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
            count(*) AS n_distinct,
            CAST(sum(c - 1) AS BIGINT) AS n_dup_docs,
            floor((sum(c - 1) * 20000 + sum(c)) / (sum(c) * 2)) / 10000.0 AS dup_rate
          FROM g GROUP BY 1""",
    // the e2 band construction restricted to an asymmetric join: hot
    // buckets prune on the SEEN side only (the engine's broadcast
    // anti-join), candidates are batch×seen
    "e35_incremental_minhash" -> incrementalMinhashOracle,
    // e39 = e35's semantics with the seen side fed from a maintained
    // signature TABLE instead of recomputed — same parameters produce
    // signature-identical tables (the composition spec proves it), so
    // the oracle is e35's verbatim
    "e39_maintained_minhash" -> incrementalMinhashOracle,
    // e35's candidate construction + the e4 char-3-gram Jaccard verify;
    // a batch doc is admitted iff no candidate scores >= 0.6
    "e36_neardup_admit" -> {
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                  FROM w WHERE len(words) >= 3)),
          h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
          mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
          bnd AS ($minhashBandsSql),
          seenb AS (SELECT * FROM bnd WHERE doc_id >= 250
            QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000),
          batchb AS (SELECT * FROM bnd WHERE doc_id < 250),
          cand AS (SELECT DISTINCT b.doc_id AS batch_doc, s.doc_id AS seen_doc
            FROM seenb s JOIN batchb b ON s.band = b.band AND s.sig = b.sig),
          nrm AS (SELECT doc_id, $normSql AS t FROM documents),
          pos AS (SELECT doc_id, t,
              unnest(range(1, greatest(length(t) - 1, 1))) AS g FROM nrm),
          grams AS (SELECT DISTINCT doc_id, substr(t, CAST(g AS INT), 3) AS gram
            FROM pos),
          gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
          iv AS (SELECT c.batch_doc, c.seen_doc, count(*) AS i
            FROM cand c JOIN grams ga ON ga.doc_id = c.batch_doc
              JOIN grams gb ON gb.doc_id = c.seen_doc AND gb.gram = ga.gram
            GROUP BY 1, 2),
          dup AS (SELECT DISTINCT batch_doc FROM iv
            JOIN gc ca ON ca.doc_id = iv.batch_doc
            JOIN gc cb ON cb.doc_id = iv.seen_doc
            WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.6)
          SELECT doc_id, lang, source FROM documents
          WHERE doc_id < 250
            AND doc_id NOT IN (SELECT batch_doc FROM dup)"""
    },
    "e3_simhash" -> {
      val voteAggs = (0 until 64).map(b =>
        s"CAST(sum(((${affineHashSql("h0", "sim", b)}) & 1) * 2 - 1) AS BIGINT) AS v_$b")
        .mkString(", ")
      val chunkCols = (0 until 4).map { c =>
        val bits = (0 until 16).map(j =>
          s"(CASE WHEN v_${c * 16 + j} > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        s"CAST($bits AS BIGINT) AS c$c"
      }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
            FROM documents),
          h AS (SELECT doc_id, ${polyHashSql("token")} AS h0 FROM tok),
          v AS (SELECT doc_id, $voteAggs FROM h GROUP BY 1),
          ch AS (SELECT doc_id, $chunkCols FROM v),
          e AS (SELECT doc_id, c0, c1, c2, c3,
              unnest([0, 1, 2, 3]) AS chunk, unnest([c0, c1, c2, c3]) AS key FROM ch),
          pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
              bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS hamming
            FROM e a JOIN e b
              ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 3"""
    },
    "e29_simhash128" -> {
      // Same generative construction as e3 with a 128-vote family; the
      // 4 pigeonhole chunks are 32-bit (chunk c = votes c*32+j at local
      // bit j — identical to the engine's per-word key slicing), so
      // summing the 4 chunk XOR popcounts is the full 128-bit Hamming
      // and no CASE ever builds bit 63 of a BIGINT (the `1<<63` signed
      // overflow DuckDB rejects, found by the sf10 LSH oracle run).
      val voteAggs = (0 until 128).map(b =>
        s"CAST(sum(((${affineHashSql("h0", "sim", b)}) & 1) * 2 - 1) AS BIGINT) AS v_$b")
        .mkString(", ")
      val chunkCols = (0 until 4).map { c =>
        val bits = (0 until 32).map(j =>
          s"(CASE WHEN v_${c * 32 + j} > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        s"CAST($bits AS BIGINT) AS c$c"
      }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
            FROM documents),
          h AS (SELECT doc_id, ${polyHashSql("token")} AS h0 FROM tok),
          v AS (SELECT doc_id, $voteAggs FROM h GROUP BY 1),
          ch AS (SELECT doc_id, $chunkCols FROM v),
          e AS (SELECT doc_id, c0, c1, c2, c3,
              unnest([0, 1, 2, 3]) AS chunk, unnest([c0, c1, c2, c3]) AS key FROM ch),
          pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
              bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS hamming
            FROM e a JOIN e b
              ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 3"""
    },
    // 8-token rolling windows as poly hashes (same construction the e2
    // oracle proves equivalent to the native ShingleHashes kernel);
    // dup_fraction's division runs on exact integers identically in
    // both engines, so the 4-decimal round cannot diverge.
    "e30_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS win
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
                  FROM w WHERE len(words) >= 8)),
          pd AS (SELECT doc_id, ${polyHashSql("win")} AS h0, count(*) AS k
            FROM sh GROUP BY 1, 2),
          dh AS (SELECT h0 FROM pd GROUP BY h0 HAVING count(*) >= 2),
          m AS (SELECT pd.doc_id, pd.k, dh.h0 IS NOT NULL AS isdup
            FROM pd LEFT JOIN dh ON pd.h0 = dh.h0)
          SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_windows,
            CAST(sum(CASE WHEN isdup THEN k ELSE 0 END) AS BIGINT) AS dup_windows,
            round(CAST(sum(CASE WHEN isdup THEN k ELSE 0 END) AS BIGINT)
              / CAST(sum(k) AS BIGINT), 4) AS dup_fraction
          FROM m GROUP BY 1""",
    // e44: same window machinery as e30 with POSITIONS carried through;
    // covered = union of [start, start+7] over duplicated-window starts,
    // survivors re-joined in position order.
    "e44_dup_span_scrub" ->
      s"""WITH w AS (SELECT doc_id,
              CASE WHEN $normSql IS NULL OR $normSql = ''
                   THEN CAST([] AS VARCHAR[])
                   ELSE string_split($normSql, ' ') END AS words
            FROM documents),
          sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS win
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
                  FROM w WHERE len(words) >= 8)),
          ph AS (SELECT doc_id, pos, ${polyHashSql("win")} AS h FROM sh),
          dh AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM ph)
            GROUP BY h HAVING count(*) >= 2),
          cov AS (SELECT DISTINCT p.doc_id, p.pos + u.u AS pos
            FROM ph p JOIN dh USING (h)
            CROSS JOIN (SELECT unnest(range(0, 8)) AS u) u),
          tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              words[CAST(i AS INT)] AS token
            FROM (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
                  FROM w)),
          kept AS (SELECT t.doc_id, t.pos, t.token FROM tok t
            LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.doc_id IS NULL),
          agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
              count(*) AS kept FROM kept GROUP BY 1)
          SELECT w.doc_id, coalesce(a.clean_text, '') AS clean_text,
            CAST(len(w.words) AS BIGINT) AS n_tokens,
            CAST(len(w.words) - coalesce(a.kept, 0) AS BIGINT) AS removed_tokens
          FROM w LEFT JOIN agg a USING (doc_id)""",
    "e7_ann_lsh" ->
      s"""WITH ${lshBandCte(16, 4)},
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bnd c JOIN bnd q ON c.band = q.band AND c.key = q.key
            WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
          scored AS (SELECT query_id, neighbor_id,
              round(${dotSql("qe.embedding", "ce.embedding")} /
                (${normVecSql("qe.embedding")} * ${normVecSql("ce.embedding")}), 6) AS cos6
            FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
          SELECT query_id, neighbor_id, round(cos6, 4) AS cosine,
            row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
          FROM scored QUALIFY rank <= 5""",
    // e59: the e7 CTEs + label join; the label-differ filter sits in
    // the candidate CTE exactly where the Spark side applies it
    "e59_hard_negatives" ->
      s"""WITH ${lshBandCte(16, 4)},
          lab AS (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL),
          cand AS (SELECT DISTINCT q.vec_id AS query_id, ql.label AS query_label,
              c.vec_id AS neighbor_id, cl.label AS neighbor_label
            FROM bnd c JOIN bnd q ON c.band = q.band AND c.key = q.key
            JOIN lab ql ON ql.vec_id = q.vec_id
            JOIN lab cl ON cl.vec_id = c.vec_id
            WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
              AND cl.label <> ql.label),
          scored AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
              round(${dotSql("qe.embedding", "ce.embedding")} /
                (${normVecSql("qe.embedding")} * ${normVecSql("ce.embedding")}), 6) AS cos6
            FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
          SELECT query_id, query_label, neighbor_id, neighbor_label,
            round(cos6, 4) AS cosine,
            row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
          FROM scored QUALIFY rank <= 5""",
    // recall@k: the e6 exact ranking left-joined to the e7 LSH ranking
    // (identical CTEs, identical tie-breaks), counted per query
    "e41_ann_recall" ->
      s"""WITH ${lshBandCte(16, 4)},
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bnd c JOIN bnd q ON c.band = q.band AND c.key = q.key
            WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
          lsh_scored AS (SELECT query_id, neighbor_id,
              round(${dotSql("qe.embedding", "ce.embedding")} /
                (${normVecSql("qe.embedding")} * ${normVecSql("ce.embedding")}), 6) AS cos6
            FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
          approx AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
              FROM lsh_scored) WHERE rank <= 5),
          q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          bf_scored AS (SELECT query_id, c.vec_id AS neighbor_id,
              round(${cosSql("qv", "c.embedding")}, 6) AS cosine
            FROM embeddings c, q WHERE query_id <> c.vec_id),
          exact AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
              FROM bf_scored) WHERE rank <= 5)
          SELECT e.query_id, count(*) AS n_exact,
            count(a.neighbor_id) AS n_matched,
            round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
          FROM exact e LEFT JOIN approx a
            ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
          GROUP BY 1""",
    // Full Lloyd replay (2 unrolled iterations, k=8), then the
    // deterministic probe/score path: 3 nearest cells per query,
    // nearest-cell corpus assignment, exact cosine inside probed
    // cells — the engine's annIvfTopK(…, 8, 2, 3, 5) bit-for-bit
    // (see ivfLloydCte for why the doubles agree exactly).
    "e13_ann_ivf" ->
      s"""WITH ${ivfLloydCte(8, 2)},
          probes AS (SELECT vec_id AS query_id, v AS qv, cluster FROM (
              SELECT e.vec_id, e.v, c.cluster, ${distSql("e.v", "c.cent")} AS d
              FROM ivf_e e CROSS JOIN c2 c WHERE e.vec_id < 10)
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) <= 3),
          asg AS (SELECT vec_id AS neighbor_id, v AS cv, cluster FROM (
              SELECT e.vec_id, e.v, c.cluster, ${distSql("e.v", "c.cent")} AS d
              FROM ivf_e e CROSS JOIN c2 c)
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
          scored AS (SELECT p.query_id, a.neighbor_id,
              round(${dotSql("p.qv", "a.cv")} /
                (${normVecSql("p.qv")} * ${normVecSql("a.cv")}), 6) AS cos6
            FROM asg a JOIN probes p ON a.cluster = p.cluster
            WHERE p.query_id <> a.neighbor_id)
          SELECT query_id, neighbor_id, round(cos6, 4) AS cosine,
            row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
          FROM scored QUALIFY rank <= 5""",
    "e22_cosine_dup_lsh" ->
      s"""WITH ${lshBandCteAuto(8)},
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, key) <= 10000),
          pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
          scored AS (SELECT id_a, id_b,
              round(${dotSql("ea.embedding", "eb.embedding")} /
                (${normVecSql("ea.embedding")} * ${normVecSql("eb.embedding")}), 4) AS cosine
            FROM pairs JOIN embeddings ea ON ea.vec_id = pairs.id_a
              JOIN embeddings eb ON eb.vec_id = pairs.id_b)
          SELECT DISTINCT id_a, id_b, cosine FROM scored WHERE cosine >= 0.25""",
    // the e22 pair construction + the e17 recursive-CTE closure
    "e37_semantic_dup_clusters" ->
      s"""WITH RECURSIVE ${lshBandCteAuto(8)},
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, key) <= 10000),
          pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
          scored AS (SELECT id_a, id_b,
              round(${dotSql("ea.embedding", "eb.embedding")} /
                (${normVecSql("ea.embedding")} * ${normVecSql("eb.embedding")}), 4) AS cosine
            FROM pairs JOIN embeddings ea ON ea.vec_id = pairs.id_a
              JOIN embeddings eb ON eb.vec_id = pairs.id_b),
          jp AS (SELECT DISTINCT id_a, id_b FROM scored WHERE cosine >= 0.45),
          edges AS (SELECT id_a AS a, id_b AS b FROM jp
            UNION SELECT id_b, id_a FROM jp),
          reach AS (SELECT a AS n, a AS m FROM edges
            UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
          SELECT n AS vec_id, min(m) AS component FROM reach GROUP BY n""",
    "e38_semantic_keep_canonical" ->
      s"""WITH RECURSIVE ${lshBandCteAuto(8)},
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, key) <= 10000),
          pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
          scored AS (SELECT id_a, id_b,
              round(${dotSql("ea.embedding", "eb.embedding")} /
                (${normVecSql("ea.embedding")} * ${normVecSql("eb.embedding")}), 4) AS cosine
            FROM pairs JOIN embeddings ea ON ea.vec_id = pairs.id_a
              JOIN embeddings eb ON eb.vec_id = pairs.id_b),
          jp AS (SELECT DISTINCT id_a, id_b FROM scored WHERE cosine >= 0.45),
          edges AS (SELECT id_a AS a, id_b AS b FROM jp
            UNION SELECT id_b, id_a FROM jp),
          reach AS (SELECT a AS n, a AS m FROM edges
            UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
          comp AS (SELECT n AS vec_id, min(m) AS component FROM reach GROUP BY n)
          SELECT e.vec_id, e.label FROM embeddings e
          LEFT JOIN comp c ON e.vec_id = c.vec_id
          WHERE c.component IS NULL OR c.component = e.vec_id""",
    "e4_ngram_jaccard" ->
      s"""WITH $ngramPairCte
          SELECT doc_a, doc_b, jaccard FROM jpairs""",
    // e4's gram CTEs, directed: containment = inter / |grams(a)|
    "e43_ngram_containment" ->
      s"""WITH norm AS (SELECT doc_id, concat_ws(chr(1), lang, source) AS block, $normSql AS t FROM documents),
          pos AS (SELECT doc_id, block, t, unnest(range(1, greatest(length(t) - 1, 1))) AS g FROM norm),
          grams AS (SELECT DISTINCT doc_id, block, substr(t, CAST(g AS INT), 3) AS gram FROM pos),
          counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
          dpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM grams a JOIN grams b ON a.block = b.block AND a.gram = b.gram
              AND a.doc_id <> b.doc_id GROUP BY 1, 2)
          SELECT doc_a, doc_b, round(inter * 1.0 / ca.n, 4) AS containment
          FROM dpairs JOIN counts ca ON ca.doc_id = doc_a
          WHERE round(inter * 1.0 / ca.n, 4) >= 0.8""",
    // e66: the e17 closure + two count-of-counts aggregates
    "e66_dup_cluster_stats" ->
      s"""WITH RECURSIVE $ngramPairCte,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION SELECT doc_b, doc_a FROM jpairs),
          reach AS (SELECT a AS n, a AS m FROM edges
            UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
          comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
          cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
          SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1""",
    "e17_dup_clusters" ->
      s"""WITH RECURSIVE $ngramPairCte,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION SELECT doc_b, doc_a FROM jpairs),
          reach AS (SELECT a AS n, a AS m FROM edges
            UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
          SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n""",
    "e18_dedup_keep_canonical" ->
      s"""WITH RECURSIVE $ngramPairCte,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION SELECT doc_b, doc_a FROM jpairs),
          reach AS (SELECT a AS n, a AS m FROM edges
            UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
          comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n)
          SELECT d.doc_id, d.lang, d.source FROM documents d
          LEFT JOIN comp c ON d.doc_id = c.doc_id
          WHERE c.component IS NULL OR c.component = d.doc_id""",
    "e19_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE ((doc_id % 10000) * 5761) % 10000 <
           (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'zh' THEN 0.8
                 ELSE 0.25 END) * 10000""",
    "e20_tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
            FROM documents),
          tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
            WHERE length(token) > 0 GROUP BY 1, 2),
          dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents)
          SELECT doc_id, token, tf, df,
            round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf, rank
          FROM (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, n.n,
              row_number() OVER (PARTITION BY tf.doc_id
                ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4) DESC,
                  tf.token) AS rank
            FROM tf JOIN dfreq USING (token) CROSS JOIN n) s
          WHERE rank <= 5""",
    "e21_redact" ->
      """SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
           '[0-9]{4,}', '<NUM>', 'g') AS redacted_text
         FROM documents""",
    "e5_cosine_dup_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(${cosSql("a.embedding", "b.embedding")}, 4) AS cosine
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(${cosSql("a.embedding", "b.embedding")}, 4) >= 0.25""",
    "e6_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          scored AS (SELECT query_id, c.vec_id AS neighbor_id,
            round(${cosSql("qv", "c.embedding")}, 6) AS cosine
            FROM embeddings c, q WHERE query_id <> c.vec_id),
          ranked AS (SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
          SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank
          FROM ranked WHERE rank <= 5""",
    "e8_lang_id" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS DOUBLE) AS s_de,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|that|it)\b')) AS DOUBLE) AS s_en,
           CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las|una|es)\b')) AS DOUBLE) AS s_es,
           CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|est|une|dans)\b')) AS DOUBLE) AS s_fr,
           CAST(len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS DOUBLE) * 2 AS s_zh
         FROM documents)
         SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
                WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                WHEN s_es > greatest(s_de, s_en) THEN 'es'
                WHEN s_en > s_de THEN 'en'
                ELSE 'de' END AS detected_lang,
           CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS marker_hits
         FROM s""",
    "e9_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
           length(text) AS n_chars_computed,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
           length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b')) AS n_stop
         FROM documents)
         SELECT doc_id, n_chars_computed, n_words,
           round(CAST(n_chars_computed AS DOUBLE) / greatest(n_words, 1), 4) AS avg_word_len,
           round(CAST(n_punct AS DOUBLE) / greatest(n_chars_computed, 1), 6) AS punct_ratio,
           round(CAST(n_digit AS DOUBLE) / greatest(n_chars_computed, 1), 6) AS digit_ratio,
           round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) AS stopword_ratio,
           round(CASE WHEN n_words < 5 THEN 0.0 ELSE
             1.0
             * (CASE WHEN round(CAST(n_chars_computed AS DOUBLE) / greatest(n_words, 1), 4) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN round(CAST(n_punct AS DOUBLE) / greatest(n_chars_computed, 1), 6) < 0.2 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) > 0.01 THEN 1.0 ELSE 0.7 END)
           END, 4) AS quality_score
         FROM t""",
    // e48: the oracle ranks each shard directly (PARTITION BY shard
    // ORDER BY r, id) — proving the engine's bucket-offset
    // decomposition equals the straight per-shard rank
    "e48_shuffle_shard" -> {
      val p = graft.text.Dedup.AffineP
      val a = graft.text.Dedup.hashConst("e48-a", 0)
      val b = graft.text.Dedup.hashConst("e48-b", 0)
      s"""WITH q AS (SELECT doc_id, source,
           ($a * (doc_id % $p) + $b) % $p AS r
         FROM documents WHERE doc_id IS NOT NULL)
         SELECT doc_id, source, r % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY r % 8 ORDER BY r ASC, doc_id ASC) - 1
             AS BIGINT) AS position
         FROM q"""
    },
    // e47: the affine hash constants are driver-derived literals (the
    // hashConst pattern) embedded in both plans; same bucket-histogram
    // arithmetic as the engine, rank window only inside the one
    // boundary bucket per source
    "e47_group_cap_sample" -> {
      val p = graft.text.Dedup.AffineP
      val a = graft.text.Dedup.hashConst("e47-a", 0)
      val b = graft.text.Dedup.hashConst("e47-b", 0)
      val q = (p + 4096 - 1) / 4096
      s"""WITH src AS (SELECT source, doc_id, lang,
           ($a * (doc_id % $p) + $b) % $p AS r,
           (($a * (doc_id % $p) + $b) % $p) // $q AS bk
         FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),
         hist AS (SELECT source, bk, CAST(count(*) AS BIGINT) AS c
           FROM src GROUP BY source, bk),
         cum AS (SELECT source, bk,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY bk ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY bk ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS prev
         FROM hist),
         j AS (SELECT src.source, src.doc_id, src.lang, src.r,
                 cum.cumc, cum.prev
           FROM src JOIN cum ON src.source = cum.source AND src.bk = cum.bk
           WHERE cum.prev < 15)
         SELECT source, doc_id, lang FROM j WHERE cumc <= 15
         UNION ALL
         SELECT source, doc_id, lang FROM (
           SELECT source, doc_id, lang, prev,
             row_number() OVER (PARTITION BY source ORDER BY r ASC, doc_id ASC) AS rk
           FROM j WHERE cumc > 15)
         WHERE rk <= 15 - prev"""
    },
    // e46: e9's scoring pass per doc (source carried), then the same
    // integer histogram arithmetic as the engine over the ranking value
    // (stopword_ratio) — micro-unit quantize, top-down cumulative count
    // per source, threshold = max value whose cumulative reaches
    // ceil(n/2), keep value >= threshold (boundary ties kept)
    "e46_quality_quantile_filter" ->
      """WITH t AS (SELECT doc_id, source, text,
           length(text) AS n_chars_computed,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
           length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b')) AS n_stop
         FROM documents),
         scored AS (SELECT doc_id, source,
           round(CASE WHEN n_words < 5 THEN 0.0 ELSE
             1.0
             * (CASE WHEN round(CAST(n_chars_computed AS DOUBLE) / greatest(n_words, 1), 4) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN round(CAST(n_punct AS DOUBLE) / greatest(n_chars_computed, 1), 6) < 0.2 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) > 0.01 THEN 1.0 ELSE 0.7 END)
           END, 4) AS quality_score,
           round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) AS stopword_ratio
         FROM t),
         q AS (SELECT doc_id, source, quality_score, stopword_ratio,
           CAST(floor(stopword_ratio * 1e6) AS BIGINT) AS vu
         FROM scored WHERE stopword_ratio IS NOT NULL),
         hist AS (SELECT source, vu, CAST(count(*) AS BIGINT) AS c
           FROM q GROUP BY source, vu),
         cum AS (SELECT source, vu,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY vu DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
           CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
         FROM hist),
         thr AS (SELECT source, max(vu) AS thr FROM cum
           WHERE cumc >= (n * 1 + 2 - 1) // 2 GROUP BY source)
         SELECT q.source, q.doc_id, q.quality_score, q.stopword_ratio
         FROM q JOIN thr ON q.source = thr.source
         WHERE q.vu >= thr.thr""",
    "e10_token_count" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS bpe_tokens,
         round(CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS DOUBLE) /
           greatest(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END, 1), 4) AS tokens_per_word
         FROM documents""",
    "e23_sequence_pack" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS tokens
         FROM documents),
         p AS (SELECT doc_id, source, tokens,
           CAST(coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
         FROM t)
         SELECT doc_id, source, tokens, start_offset,
           start_offset // 1024 AS bin, start_offset % 1024 AS bin_offset
         FROM p""",
    "e24_decontaminate" -> {
      def gramCte(name: String, pred: String, alias: String) =
        s"""${name}_w AS (SELECT doc_id, string_split($normSql, ' ') AS words
              FROM documents WHERE $pred),
            $name AS (SELECT DISTINCT doc_id AS $alias,
                ${polyHashSql("array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 4], ' ')")} AS g
              FROM (SELECT doc_id, words, unnest(range(1, len(words) - 3)) AS i
                    FROM ${name}_w WHERE len(words) >= 5))"""
      // count(DISTINCT) mirrors the Spark side's join-then-dedup order
      s"""WITH ${gramCte("bs", "doc_id < 50", "bench_id")},
          ${gramCte("ts", "doc_id >= 50", "train_id")}
          SELECT t.train_id AS doc_id, b.bench_id, count(DISTINCT t.g) AS shared_ngrams
          FROM ts t JOIN bs b ON t.g = b.g
          GROUP BY 1, 2 HAVING count(DISTINCT t.g) >= 3"""
    },
    "e11_fingerprint" ->
      s"""SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split($normSql, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
          FROM documents""",
    "e12_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
         sha256(text) AS sha256,
         lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
         FROM documents""",
    "g1_csv_roundtrip" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    "g4_jsonl_roundtrip" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    "g2_partitioned_sink_prune" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events WHERE event_type = 'purchase'""",
    // full land + dynamic re-land of the purchase partition (values
    // shifted so a clobbered sibling OR a surviving stale partition
    // would both hash-fail)
    "g7_partition_overwrite" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type,
         CASE WHEN event_type = 'purchase' THEN value + 10 ELSE value END AS value
         FROM events""",
    "g3_bucketed_join" ->
      """SELECT o_custkey AS c_custkey, count(*) AS n_orders,
         floor((sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) * 200 + count(*))
           / (count(*) * 2)) / 10000.0 AS avg_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "e14_sentiment" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '\b(good|great|excellent|love|happy|best|nice|amazing|wonderful|fantastic)\b')) AS DOUBLE) AS pos,
           CAST(len(regexp_extract_all(lower(text), '\b(bad|terrible|awful|hate|sad|worst|poor|horrible|wrong|broken)\b')) AS DOUBLE) AS neg
         FROM documents)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos_hits, CAST(neg AS BIGINT) AS neg_hits,
           round((pos - neg) / greatest(pos + neg, 1.0), 4) AS polarity,
           CASE WHEN round((pos - neg) / greatest(pos + neg, 1.0), 4) > 0.2 THEN 'positive'
                WHEN round((pos - neg) / greatest(pos + neg, 1.0), 4) < -0.2 THEN 'negative'
                ELSE 'neutral' END AS sentiment
         FROM s""",
    "e16_token_freq" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
            FROM documents)
          SELECT token, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
          FROM t WHERE length(token) > 0 GROUP BY 1 HAVING count(*) >= 5""",
    // the lift double is the identical expression shape both engines
    // evaluate on exact integer counts; ranking ties break on token
    "e42_source_token_lift" ->
      s"""WITH t AS (SELECT source, unnest(string_split($normSql, ' ')) AS token
            FROM documents WHERE source IS NOT NULL),
          st AS (SELECT source, token, count(*) AS c_s
            FROM t WHERE length(token) > 0 GROUP BY 1, 2),
          tot AS (SELECT token, CAST(sum(c_s) AS BIGINT) AS c_all FROM st GROUP BY 1),
          src AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM st GROUP BY 1),
          al AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_all FROM st),
          cand AS (SELECT st.source, st.token, st.c_s, tot.c_all,
              (CAST(st.c_s AS DOUBLE) * al.n_all) /
                (CAST(src.n_s AS DOUBLE) * tot.c_all) AS lift_raw
            FROM st JOIN tot ON st.token = tot.token
              JOIN src ON st.source = src.source
              CROSS JOIN al
            WHERE st.c_s >= 5),
          ranked AS (SELECT source, token, c_s, c_all,
              floor(lift_raw * 10000 + 0.5) / 10000.0 AS lift,
              row_number() OVER (PARTITION BY source
                ORDER BY lift_raw DESC, token) AS rank
            FROM cand)
          SELECT source, token, c_s, c_all, lift, rank
          FROM ranked WHERE rank <= 10""",
    // bigram strings via the e2-proven slice construction; the
    // doc_freq count mirrors e16's COUNT(DISTINCT doc_id) semantics
    "e31_ngram_freq" ->
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS ngram
            FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i
                  FROM w WHERE len(words) >= 2))
          SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
          FROM sh GROUP BY 1 HAVING count(*) >= 5""",
    // e49: word frequencies once (e16's count semantics), then pairs
    // over the vocab with the end-of-word sentinel appended; rank ties
    // break on the pair string
    "e49_bpe_pair_counts" ->
      s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS word
            FROM documents),
          wf AS (SELECT word, count(*) AS c FROM t
            WHERE length(word) > 0 GROUP BY 1),
          sym AS (SELECT word || '_' AS s, c FROM wf),
          pr AS (SELECT substr(s, CAST(i AS INT), 2) AS pair, c
            FROM (SELECT s, c, unnest(range(1, length(s))) AS i FROM sym)),
          pc AS (SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
            FROM pr GROUP BY 1 HAVING sum(c) >= 2)
          SELECT pair, pair_count,
            row_number() OVER (ORDER BY pair_count DESC, pair) AS rank
          FROM pc""",
    // e60: the 8-round merge loop UNROLLED — each round is (pair
    // count over the vocab state, top-1 with e49's tie order, greedy
    // rewrite via the doubled-space scheme: double every space so
    // adjacent merge sites share no boundary char, one literal
    // " x  y " → " xy " replace = Sennrich's left-to-right greedy
    // pass, halve the doubles back). The rewrite string ops are the
    // same three replace() calls the Spark side runs (single-pass,
    // non-overlapping, left-to-right in both engines), so the vocab
    // states — and therefore every round's winner — cannot drift.
    // A round whose best pair misses minCount yields an empty t-CTE,
    // every later round then repeats empty (vocab unchanged), and the
    // union simply carries fewer rows — the Spark early-stop exactly
    "e60_bpe_merge_loop" -> {
      val nRounds = 8
      val rounds = (1 to nRounds).map { r =>
        s"""p$r AS (SELECT s[i] || ' ' || s[i + 1] AS pair, c
            FROM (SELECT s, c, unnest(range(1, len(s))) AS i
                  FROM (SELECT string_split(trim(w, ' '), ' ') AS s, c FROM v${r - 1})
                  WHERE len(s) >= 2)),
          t$r AS (SELECT pair, CAST(sum(c) AS BIGINT) AS pc
            FROM p$r GROUP BY 1 HAVING sum(c) >= 2
            ORDER BY pc DESC, pair LIMIT 1),
          v$r AS (SELECT CASE WHEN t.pair IS NULL THEN v.w
              ELSE replace(replace(replace(v.w, ' ', '  '),
                     ' ' || replace(t.pair, ' ', '  ') || ' ',
                     ' ' || replace(t.pair, ' ', '') || ' '),
                     '  ', ' ')
            END AS w, v.c
            FROM v${r - 1} v LEFT JOIN t$r t ON true)"""
      }.mkString(",\n          ")
      val union = (1 to nRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, pair, pc AS pair_count FROM t$r")
        .mkString("\n          UNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split($normSql, ' ')) AS word
            FROM documents),
          wf AS (SELECT word, count(*) AS c FROM tok
            WHERE length(word) > 0 GROUP BY 1),
          v0 AS (SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' _ ' AS w, c
            FROM wf),
          $rounds
          $union"""
    },
    // e63: the e60 unrolled chain CARRYING `word` through every round
    // (rewrites only touch w, so vocab states are bit-identical to
    // e60's by the same argument), then the trained segmentation's
    // symbol count joins back onto the per-doc word instances
    "e63_bpe_encode_count" ->
      s"""WITH $bpeEncodeCtes
          SELECT doc_id, n_tokens, n_words FROM tc""",
    // e65: persist -> load -> apply must EQUAL direct train+encode
    // (the e32/e40 shared-oracle precedent: SQL has no notion of where
    // the merges came from)
    "e65_tokenizer_apply" ->
      s"""WITH $bpeEncodeCtes
          SELECT doc_id, n_tokens, n_words FROM tc""",
    // e64: the e63 chain verbatim + the e23 pack window over the
    // trained counts
    "e64_pack_by_bpe" ->
      s"""WITH $bpeEncodeCtes,
          dj AS (SELECT tc.doc_id, d.source, n_tokens AS tokens
            FROM tc JOIN documents d ON tc.doc_id = d.doc_id),
          p AS (SELECT doc_id, source, tokens,
            CAST(coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
            FROM dj)
          SELECT doc_id, source, tokens, start_offset,
            start_offset // 1024 AS bin, start_offset % 1024 AS bin_offset
          FROM p""",
    // seen side reduces to its DISTINCT md5 set; batch self-dedup keeps
    // the min-id row with arg_min-carried attrs (id unique → exact).
    // NOT EXISTS, not NOT IN: a null hash (null text) must behave like
    // the engine's anti-join — never matching, row kept — where NOT IN
    // against a set containing NULL would empty the whole result
    "e32_incremental_dedup" -> incrementalExactDedupOracle,
    // e40 = e32 with the seen side fed from the maintained hash table;
    // SQL has no notion of where the hash set came from (the e39
    // pattern), so the oracle is e32's verbatim
    "e40_maintained_exact_dedup" -> incrementalExactDedupOracle,
    // e45: the Bloom filter only PRUNES the exact path (no false
    // negatives, membership decided by the md5 check) — output is
    // e32's by construction, so the oracle is shared verbatim.
    "e45_bloom_dedup" -> incrementalExactDedupOracle,
    // thresholds in pure integer arithmetic (HUGEINT here, decimal(38,0)
    // in the engine): w = floor(sqrt(n)*1000) is exact cross-engine
    // because IEEE-754 requires sqrt correctly rounded; // on positive
    // hugeints = the engine's floor(decimal division)
    "e33_mixture_sample" ->
      """WITH st AS (SELECT source, count(*) AS n,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
          FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
            CAST(sum(w) AS BIGINT) AS ww FROM st),
         r AS (SELECT source, least(CAST(10000 AS HUGEINT),
             (CAST(10000 AS HUGEINT) * 3 * nn * w) // (CAST(10 AS HUGEINT) * ww * n)) AS t
           FROM st CROSS JOIN tot)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN r ON d.source = r.source
         WHERE ((d.doc_id % 10000) * 5761) % 10000 < r.t""",
    // integer micro-log quantization (floor(ln·1e6) as BIGINT) makes
    // each doc's sum exact — no float summation order — and the final
    // floor-average divides exact sub-2^53 integers (b5 pattern)
    "e34_unigram_logprob" ->
      s"""WITH $unigramScoreCtes
          SELECT doc_id, n_tokens, oov_tokens, logprob FROM u34""",
    // e58: the e34 score chain + the winsorize/e46 histogram
    // threshold discipline — value thresholds on the micro-log grid
    // (3·cum ≥ n in exact integers), ties share a bucket
    "e58_lm_buckets" ->
      s"""WITH $unigramScoreCtes,
          scored AS (SELECT u34.doc_id, d.lang, n_tokens, logprob,
              CAST(round(logprob * 10000, 0) AS BIGINT) AS lp
            FROM u34 JOIN documents d ON u34.doc_id = d.doc_id),
          hist AS (SELECT lang, lp, count(*) AS c FROM scored GROUP BY 1, 2),
          cum AS (SELECT lang, lp,
              sum(c) OVER (PARTITION BY lang ORDER BY lp DESC ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY lang) AS n
            FROM hist),
          thr AS (SELECT lang,
              max(CASE WHEN cum * 3 >= n THEN lp END) AS t_head,
              max(CASE WHEN cum * 3 >= n * 2 THEN lp END) AS t_mid
            FROM cum GROUP BY 1)
          SELECT s.doc_id, s.lang, s.n_tokens, s.logprob,
            CASE WHEN s.lp >= t.t_head THEN 'head'
                 WHEN s.lp >= t.t_mid THEN 'middle' ELSE 'tail' END AS bucket
          FROM scored s JOIN thr t ON s.lang = t.lang""",
    // e50: the e34 micro-log pattern one LM order up — pair counts,
    // context counts, and the context-vocab V all from the pair table;
    // the smoothing ratio is int/double in both engines (identical
    // IEEE division), quantized to exact integer micro-logs
    "e50_bigram_logprob" ->
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS pair
            FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i
                  FROM w WHERE len(words) >= 2)),
          tf2 AS (SELECT doc_id, pair, count(*) AS tf FROM sh GROUP BY 1, 2),
          pc AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS c2,
              string_split(pair, ' ')[1] AS prev FROM tf2 GROUP BY 1),
          ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS nctx FROM pc GROUP BY 1),
          vv AS (SELECT CAST(count(*) + 1 AS BIGINT) AS v FROM ctx WHERE nctx >= 5),
          kept AS (SELECT pair, c2 FROM pc WHERE c2 >= 5),
          sc AS (SELECT tf2.doc_id, tf2.tf,
              CASE WHEN k.c2 IS NULL THEN tf2.tf ELSE 0 END AS rare,
              CAST(floor(ln((coalesce(k.c2, 0) + 1) /
                CAST(ctx.nctx + vv.v AS DOUBLE)) * 1000000) AS BIGINT) AS lpq
            FROM tf2
            LEFT JOIN kept k USING (pair)
            LEFT JOIN ctx ON string_split(tf2.pair, ' ')[1] = ctx.prev
            CROSS JOIN vv)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
            CAST(sum(rare) AS BIGINT) AS rare_bigrams,
            floor(CAST(sum(lpq * tf) AS DOUBLE) / (100.0 * sum(tf))) / 10000.0 AS logprob
          FROM sc GROUP BY 1""",
    "e15_frame_sample" ->
      """WITH n AS (SELECT doc_id, text, CAST(floor(length(text) / 16) AS INT) AS nf
           FROM documents WHERE floor(length(text) / 16) > 0),
         i AS (SELECT doc_id, text, unnest(range(0, nf)) AS idx FROM n)
         SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           sha256(substring(text, CAST(idx AS INT) * 16 + 1, 16)) AS frame_sha
         FROM i WHERE idx % 4 = 0""",
    "f1_sessionize" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, event_id, value FROM events),
         g AS (SELECT *, CASE WHEN lag(period) OVER w IS NULL
             OR CAST(epoch(period) - epoch(lag(period) OVER w) AS BIGINT) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY period, event_id)),
         s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY period, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)
         SELECT user_id, session_id, min(period) AS session_start, max(period) AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY 1, 2""",
    // f10: the f1 gaps-and-islands CTE with the native operator's
    // contract — session_end = last event + gap, exact-cents mass,
    // null keys excluded (groupBy key semantics)
    "f10_session_window" ->
      """WITH t AS (SELECT user_id, date_trunc('second', ts) AS period, value
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         g AS (SELECT *, CASE WHEN lag(period) OVER w IS NULL
             OR CAST(epoch(period) - epoch(lag(period) OVER w) AS BIGINT) > 1800 THEN 1 ELSE 0 END AS brk
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY period)),
         s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY period
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
         SELECT user_id, min(period) AS session_start,
           max(period) + INTERVAL 1800 SECONDS AS session_end,
           count(*) AS n_events,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM s GROUP BY user_id, sid""",
    "f4_windowed_quality" ->
      """SELECT date_trunc('hour', ts) AS window_start, count(*) AS n,
         count(*) FILTER (WHERE value IS NULL) AS null_values,
         count(*) FILTER (WHERE value < 0) AS negative_values,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY 1""",
    "f2_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    "f3_stream_dedup" ->
      """SELECT event_id, user_id, event_type, date_trunc('second', ts) AS period, value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type, date_trunc('second', ts)
           ORDER BY event_id) = 1""",
    "f6_interval_join" ->
      """SELECT e.event_id, date_trunc('second', e.ts) AS period, e.user_id,
         count(p.event_id) AS n_matched,
         coalesce(sum(CAST(round(p.value * 100, 0) AS BIGINT)), 0) / 100.0 AS matched_value
         FROM events e LEFT JOIN events p
           ON p.user_id = e.user_id AND p.event_type = 'purchase'
           AND date_trunc('second', p.ts) >= date_trunc('second', e.ts) - INTERVAL 1800 SECOND
           AND date_trunc('second', p.ts) <= date_trunc('second', e.ts)
         GROUP BY 1, 2, 3""",
    // f9: explicit NULLS FIRST on the order keys — Spark windows sort
    // nulls first where DuckDB defaults to NULLS LAST
    "f9_rate_cap" ->
      """WITH t AS (SELECT user_id, date_trunc('hour', ts) AS window_start,
            date_trunc('second', ts) AS period, event_id
          FROM events WHERE ts IS NOT NULL)
         SELECT user_id, window_start, period, event_id,
           CAST(row_number() OVER (PARTITION BY user_id, window_start
             ORDER BY period NULLS FIRST, event_id NULLS FIRST) AS BIGINT) AS seq
         FROM t QUALIFY seq <= 5""",
    // inner join (events without a dimension row excluded); exact-cents
    // value mass like f5
    "f7_stream_static_join" ->
      """SELECT date_trunc('hour', e.ts) AS window_start, c.c_mktsegment,
         count(*) AS n,
         sum(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2""",
    "f5_hopping_window" ->
      """SELECT date_trunc('hour', ts) - to_hours(CAST(k AS BIGINT)) AS window_start,
         date_trunc('hour', ts) - to_hours(CAST(k AS BIGINT)) + to_hours(2) AS window_end,
         count(*) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events, (SELECT unnest([0, 1]) AS k) ks
         WHERE ts IS NOT NULL GROUP BY 1, 2""",
    "g5_orc_roundtrip" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    // compaction is layout-only: read-back must equal the plain feed
    "g8_compaction" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    // the pivot hand-lowered to FILTER aggregates, domain interpolated
    // from the shared eventTypes
    "d12_activity_pivot" -> {
      val cols = eventTypes.map(t =>
        s"""count(*) FILTER (WHERE event_type = '$t') AS n_$t""").mkString(",\n           ")
      s"""SELECT user_id,
           $cols,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY 1"""
    },
    // d13: the per-user (cohort, weeks-set) aggregate mirrors the Spark
    // plan's single user-key shuffle — unnesting the week list instead
    // of re-joining activity on user_id keeps null-user rows in play
    // (a USING(user_id) join would silently drop them)
    // CAST to TIMESTAMP: DuckDB's date_trunc('week') returns DATE,
    // the §6 dtype trap — the engine emits midnight timestamps
    "d13_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
            FROM events WHERE ts IS NOT NULL),
          pu AS (SELECT user_id, min(w) AS cohort_week,
              list(DISTINCT w) AS weeks FROM e GROUP BY 1),
          sizes AS (SELECT cohort_week, count(*) AS cohort_size
            FROM pu GROUP BY 1),
          act AS (SELECT cohort_week,
              CAST(date_diff('day', cohort_week, act_week) // 7 AS BIGINT) AS weeks_since,
              count(*) AS n_active
            FROM (SELECT cohort_week, unnest(weeks) AS act_week FROM pu)
            GROUP BY 1, 2)
          SELECT a.cohort_week, a.weeks_since, a.n_active, s.cohort_size,
            floor((a.n_active * 20000 + s.cohort_size) / (s.cohort_size * 2)) / 10000.0
              AS retention
          FROM act a JOIN sizes s USING (cohort_week)""",
    // d14: DuckDB dayofweek is 0=Sunday where Spark's is 1=Sunday —
    // the +1 aligns the conventions
    "d14_activity_heatmap" ->
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour_of_day, count(*) AS n,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""",
    // d16: exact-integer ten-thousandths revenue (the d2 discipline);
    // the LIMIT ranks on the exact integer |delta| with (nation, week)
    // tie-break; weeks CAST to TIMESTAMP (§6 dtype rule)
    "d16_weekly_movers" ->
      """WITH r AS (SELECT n_name,
            CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        w AS (SELECT *, lag(rev) OVER (PARTITION BY n_name ORDER BY week) AS prev FROM r)
        SELECT n_name, week, rev / 10000.0 AS revenue,
          prev / 10000.0 AS prev_revenue, (rev - prev) / 10000.0 AS delta
        FROM w WHERE prev IS NOT NULL
        ORDER BY abs(rev - prev) DESC, n_name, week LIMIT 25""",
    // d17: the 80% cut decided as cum·5 ≥ total·4 in exact integers;
    // per-order pre-aggregation per the d16 lesson
    "d17_revenue_concentration" ->
      """WITH po AS (SELECT l_orderkey,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS orev
          FROM lineitem GROUP BY 1),
        pc AS (SELECT n_name, c_custkey, CAST(sum(orev) AS BIGINT) AS rev
          FROM po JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER w AS rnk,
            sum(rev) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
            sum(rev) OVER (PARTITION BY n_name) AS total,
            count(*) OVER (PARTITION BY n_name) AS ncust,
            max(rev) OVER (PARTITION BY n_name) AS top
          FROM pc WINDOW w AS (PARTITION BY n_name ORDER BY rev DESC, c_custkey))
        SELECT n_name, CAST(min(ncust) AS BIGINT) AS n_customers,
          CAST(min(rnk) AS BIGINT) AS n_top80,
          min(floor((top * 20000 + total) / (total * 2)) / 10000.0) AS top1_share
        FROM r WHERE cum * 5 >= total * 4 GROUP BY 1""",
    // d18: lift through HUGEINT (N·n_ab·20000 passes int64 at corpus
    // scale — the Spark side routes the same product through
    // decimal(38,0)); one terminal CAST per metric
    "d18_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         nb AS (SELECT count(DISTINCT o) AS n_baskets FROM items),
         ic AS (SELECT p, count(*) AS n_part FROM items GROUP BY 1),
         tp AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
           FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2
           ORDER BY n_orders DESC, part_a, part_b LIMIT 100)
         SELECT part_a, part_b, n_orders, ia.n_part AS n_a, ib.n_part AS n_b,
           n_baskets,
           floor((n_orders * 20000 + ia.n_part) / (ia.n_part * 2)) / 10000.0
             AS confidence,
           CAST((CAST(n_baskets AS HUGEINT) * n_orders * 20000
                 + CAST(ia.n_part AS HUGEINT) * ib.n_part)
             // (2 * CAST(ia.n_part AS HUGEINT) * ib.n_part) AS DOUBLE) / 10000.0
             AS lift
         FROM tp JOIN ic ia ON tp.part_a = ia.p JOIN ic ib ON tp.part_b = ib.p
         CROSS JOIN nb
         ORDER BY n_orders DESC, part_a, part_b""",
    // d19: identical greedy running-max anchor chain (greatest/CASE
    // null semantics verified identical); epoch-second integers
    // everywhere, so no float exists in the whole funnel
    "d19_window_funnel" ->
      """WITH base AS (SELECT user_id, event_id,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, event_type
         FROM events WHERE ts IS NOT NULL
           AND event_type IN ('view', 'click', 'purchase')),
       a1 AS (SELECT *, CASE WHEN event_type = 'view' THEN t END AS a1 FROM base),
       a2 AS (SELECT *, CASE WHEN event_type = 'click'
             AND t <= max(a1) OVER w + 3600 THEN max(a1) OVER w END AS a2
         FROM a1 WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       a3 AS (SELECT *, CASE WHEN event_type = 'purchase'
             AND t <= max(a2) OVER w + 3600 THEN max(a2) OVER w END AS a3
         FROM a2 WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       d AS (SELECT user_id, greatest(
           max(CASE WHEN a1 IS NOT NULL THEN 1 END),
           max(CASE WHEN a2 IS NOT NULL THEN 2 END),
           max(CASE WHEN a3 IS NOT NULL THEN 3 END)) AS deepest
         FROM a3 GROUP BY 1),
       h AS (SELECT count(*) FILTER (WHERE deepest >= 1) AS n1,
           count(*) FILTER (WHERE deepest >= 2) AS n2,
           count(*) FILTER (WHERE deepest >= 3) AS n3 FROM d)
       SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, n1 AS n_users FROM h
       UNION ALL SELECT CAST(2 AS BIGINT), 'click', n2 FROM h
       UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3 FROM h""",
    // f12: the same anchor-chain shape GENERATED at k=4 from the very
    // steps/window constants the query passes (the c28/f11 discipline)
    "f12_stream_funnel" -> windowFunnelOracleSql(f12Steps, 7200L),
    // e55: the e2 candidate CTEs + exact shingle-Jaccard verify
    // (mirrored poly hashes, the e52 contract) + (least, greatest)
    // source attribution
    "e55_cross_source_neardup" -> {
      s"""WITH w AS (SELECT doc_id, source, string_split($normSql, ' ') AS words
            FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL),
          sh AS (SELECT doc_id,
              array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
            FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
                  FROM w WHERE len(words) >= 3)),
          h AS (SELECT doc_id, ${polyHashSql("shingle")} AS h0 FROM sh),
          mh AS (SELECT doc_id, $minhashAggsSql FROM h GROUP BY 1),
          bnd AS ($minhashBandsSql),
          pruned AS (SELECT * FROM bnd
            QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pruned a JOIN pruned b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          sg AS (SELECT DISTINCT doc_id, h0 FROM h),
          cnt AS (SELECT doc_id, count(*) AS n FROM sg GROUP BY 1),
          itr AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cand c
            JOIN sg a ON a.doc_id = c.doc_a
            JOIN sg b ON b.doc_id = c.doc_b AND b.h0 = a.h0
            GROUP BY 1, 2),
          ver AS (SELECT doc_a, doc_b FROM itr
            JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
            WHERE i * 10000 >= 5000 * (ca.n + cb.n - i))
          SELECT least(da.source, db.source) AS source_a,
            greatest(da.source, db.source) AS source_b, count(*) AS n_pairs
          FROM ver JOIN w da ON da.doc_id = ver.doc_a
          JOIN w db ON db.doc_id = ver.doc_b
          GROUP BY 1, 2"""
    },
    // e56: the stage operators' own oracle fragments composed into one
    // CTE chain — e53 survivors → e4 pairs (block = source) → e18
    // recursive closure → e44 scrub → e46 quantile (post-scrub
    // stopword ratio) → e47 cap → e33 mixture → e23 pack → e48 shard
    "e56_corpus_build" -> {
      val p = graft.text.Dedup.AffineP
      val a47 = graft.text.Dedup.hashConst("e47-a", 0)
      val b47 = graft.text.Dedup.hashConst("e47-b", 0)
      val a48 = graft.text.Dedup.hashConst("e48-a", 0)
      val b48 = graft.text.Dedup.hashConst("e48-b", 0)
      val qb = (p + 4096 - 1) / 4096
      val srCleanSql =
        """round(CAST(len(regexp_extract_all(lower(clean_text), '\b(the|a|an|and|of|to|in|is|it|for|on|with)\b')) AS DOUBLE)
           / greatest(CASE WHEN length(trim(clean_text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(clean_text), '\s+')) END, 1), 6)"""
      s"""WITH RECURSIVE
        feat AS (SELECT doc_id, source, text,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
            length(text) AS nc,
            length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS np,
            len(regexp_extract_all(lower(text), '\\b(the|a|an|and|of|to|in|is|it|for|on|with)\\b')) AS ns,
            CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|zu)\\b')) AS DOUBLE) AS s_de,
            CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|in|that|it)\\b')) AS DOUBLE) AS s_en,
            CAST(len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los|las|una|es)\\b')) AS DOUBLE) AS s_es,
            CAST(len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des|est|une|dans)\\b')) AS DOUBLE) AS s_fr,
            CAST(len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) * 2 AS s_zh
          FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL),
        sv AS (SELECT doc_id, source, text FROM (SELECT *,
            CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                 WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
                 WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                 WHEN s_es > greatest(s_de, s_en) THEN 'es'
                 WHEN s_en > s_de THEN 'en'
                 ELSE 'de' END AS lang2,
            round(CASE WHEN w < 5 THEN 0.0 ELSE 1.0
              * (CASE WHEN round(CAST(nc AS DOUBLE) / greatest(w, 1), 4) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN round(CAST(np AS DOUBLE) / greatest(nc, 1), 6) < 0.2 THEN 1.0 ELSE 0.5 END)
              * (CASE WHEN round(CAST(ns AS DOUBLE) / greatest(w, 1), 6) > 0.01 THEN 1.0 ELSE 0.7 END)
            END, 4) AS q
          FROM feat) x
          WHERE lang2 = 'en' AND q >= 0.5 AND w BETWEEN 10 AND 5000),
        nrm AS (SELECT doc_id, source AS block, $normSql AS t FROM sv),
        gpos AS (SELECT doc_id, block, t, unnest(range(1, greatest(length(t) - 1, 1))) AS g FROM nrm),
        grams AS (SELECT DISTINCT doc_id, block, substr(t, CAST(g AS INT), 3) AS gram FROM gpos),
        gcounts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        gpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM grams a JOIN grams b ON a.block = b.block AND a.gram = b.gram
            AND a.doc_id < b.doc_id GROUP BY 1, 2),
        jpairs AS (SELECT doc_a, doc_b
          FROM gpairs JOIN gcounts ca ON ca.doc_id = doc_a JOIN gcounts cb ON cb.doc_id = doc_b
          WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 4) >= 0.6),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
          UNION SELECT doc_b, doc_a FROM jpairs),
        reach AS (SELECT a AS n, a AS m FROM edges
          UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
        kept AS (SELECT s.doc_id, s.source, s.text FROM sv s
          LEFT JOIN comp c ON s.doc_id = c.doc_id
          WHERE c.component IS NULL OR c.component = s.doc_id),
        wt AS (SELECT doc_id,
            CASE WHEN $normSql IS NULL OR $normSql = ''
                 THEN CAST([] AS VARCHAR[])
                 ELSE string_split($normSql, ' ') END AS words
          FROM kept),
        swin AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS win
          FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
                FROM wt WHERE len(words) >= 8)),
        ph AS (SELECT doc_id, pos, ${polyHashSql("win")} AS h FROM swin),
        dh AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM ph)
          GROUP BY h HAVING count(*) >= 2),
        cov AS (SELECT DISTINCT p.doc_id, p.pos + u.u AS pos
          FROM ph p JOIN dh USING (h)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS u) u),
        tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            words[CAST(i AS INT)] AS token
          FROM (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
                FROM wt)),
        keptTok AS (SELECT t.doc_id, t.pos, t.token FROM tok t
          LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
          WHERE c.doc_id IS NULL),
        scrubAgg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text
          FROM keptTok GROUP BY 1),
        cdoc AS (SELECT k.doc_id, k.source, coalesce(a.clean_text, '') AS clean_text
          FROM kept k LEFT JOIN scrubAgg a USING (doc_id)),
        sc AS (SELECT doc_id, source, clean_text, $srCleanSql AS sr FROM cdoc),
        qv AS (SELECT doc_id, source, clean_text,
            CAST(floor(sr * 1e6) AS BIGINT) AS vu
          FROM sc WHERE sr IS NOT NULL),
        qh AS (SELECT source, vu, CAST(count(*) AS BIGINT) AS c FROM qv GROUP BY 1, 2),
        qc AS (SELECT source, vu,
            CAST(sum(c) OVER (PARTITION BY source ORDER BY vu DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
            CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM qh),
        thr AS (SELECT source, max(vu) AS thr FROM qc
          WHERE cumc >= (n * 1 + 2 - 1) // 2 GROUP BY 1),
        filt AS (SELECT qv.doc_id, qv.source, qv.clean_text FROM qv
          JOIN thr ON qv.source = thr.source WHERE qv.vu >= thr.thr),
        c47 AS (SELECT doc_id, source, clean_text,
            ($a47 * (doc_id % $p) + $b47) % $p AS r,
            (($a47 * (doc_id % $p) + $b47) % $p) // $qb AS bk
          FROM filt),
        h47 AS (SELECT source, bk, CAST(count(*) AS BIGINT) AS c FROM c47 GROUP BY 1, 2),
        m47 AS (SELECT source, bk,
            CAST(sum(c) OVER (PARTITION BY source ORDER BY bk ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
            CAST(sum(c) OVER (PARTITION BY source ORDER BY bk ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS prev
          FROM h47),
        j47 AS (SELECT c47.doc_id, c47.source, c47.clean_text, c47.r, m47.cumc, m47.prev
          FROM c47 JOIN m47 ON c47.source = m47.source AND c47.bk = m47.bk
          WHERE m47.prev < 15),
        capped AS (
          SELECT doc_id, source, clean_text FROM j47 WHERE cumc <= 15
          UNION ALL
          SELECT doc_id, source, clean_text FROM (
            SELECT doc_id, source, clean_text, prev,
              row_number() OVER (PARTITION BY source ORDER BY r ASC, doc_id ASC) AS rk
            FROM j47 WHERE cumc > 15) y
          WHERE rk <= 15 - prev),
        st AS (SELECT source, count(*) AS n,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS wgt
          FROM capped GROUP BY 1),
        tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(wgt) AS BIGINT) AS ww FROM st),
        rt AS (SELECT source, least(CAST(10000 AS HUGEINT),
            (CAST(10000 AS HUGEINT) * 3 * nn * wgt) // (CAST(10 AS HUGEINT) * ww * n)) AS t
          FROM st CROSS JOIN tt),
        mixed AS (SELECT c.doc_id, c.source, c.clean_text FROM capped c
          JOIN rt ON c.source = rt.source
          WHERE ((c.doc_id % 10000) * 5761) % 10000 < rt.t),
        tk AS (SELECT doc_id, source,
            CAST(CASE WHEN length(trim(clean_text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(clean_text), '\\s+')) END AS BIGINT) AS tokens
          FROM mixed),
        pk AS (SELECT doc_id, source, tokens,
            CAST(coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS so
          FROM tk),
        seqs AS (SELECT source, so // 256 AS bin,
            CAST(min(doc_id) AS BIGINT) AS seq_id,
            count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens
          FROM pk WHERE tokens > 0 GROUP BY 1, 2),
        sh48 AS (SELECT source, bin, seq_id, n_docs, n_tokens,
            ($a48 * (seq_id % $p) + $b48) % $p AS r
          FROM seqs)
        SELECT r % 4 AS shard,
          CAST(row_number() OVER (PARTITION BY r % 4 ORDER BY r ASC, seq_id ASC) - 1
            AS BIGINT) AS position,
          source, bin, seq_id, n_docs, n_tokens
        FROM sh48"""
    },
    // e57: every ratio rule decided by integer cross-multiplication —
    // no float forms on either engine; '…'/'...'-count division is
    // exact (diff is a multiple of 3) so the terminal BIGINT cast
    // cannot round
    "e57_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
           CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_word_chars,
           CAST(len(regexp_extract_all(text, '\S*[a-zA-Z]\S*')) AS BIGINT) AS n_alpha_words,
           CAST((length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '...', ''))) / 3
             + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS n_symbols,
           CAST(len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
             ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_kinds
         FROM documents)
         SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, n_stop_kinds,
           n_words BETWEEN 50 AND 100000 AS r_word_count,
           n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AS r_word_len,
           n_symbols * 10 <= n_words AS r_symbol,
           n_alpha_words * 5 >= n_words * 4 AS r_alpha,
           n_stop_kinds >= 2 AS r_stopwords,
           (n_words BETWEEN 50 AND 100000) AND n_word_chars >= n_words * 3
             AND n_word_chars <= n_words * 10 AND n_symbols * 10 <= n_words
             AND n_alpha_words * 5 >= n_words * 4 AND n_stop_kinds >= 2 AS keep
         FROM m""",
    // f13: batching-invariant by construction — the per-bucket sums
    // across ledgered batch partials equal one batch query over the
    // feed, whatever the micro-batch split was
    "f13_stream_quality_ledger" ->
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_nulls,
           CAST(sum(coalesce(CAST(round(value * 100, 0) AS BIGINT), 0)) AS BIGINT) / 100.0
             AS sum_value
         FROM events GROUP BY 1""",
    // d23: Q13's left-join count-of-counts; zero-order customers kept
    "d23_order_histogram" ->
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist FROM pc GROUP BY 1""",
    // d22: the correlated scalar subquery decorrelated; the 20%
    // threshold is qc*n*10 < 2*sum in exact integers, the output one
    // exact 1e-4 sum divided once
    "d22_small_qty_revenue" ->
      """WITH li AS (SELECT l.l_partkey,
           CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc,
           CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS p4
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_brand = 'Brand#13' AND l.l_partkey IS NOT NULL
           AND l.l_quantity IS NOT NULL),
        a AS (SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS sq,
            count(*) AS nq FROM li GROUP BY 1)
        SELECT CAST(sum(p4) AS BIGINT) / 70000.0 AS avg_yearly,
          count(*) AS n_lines
        FROM li JOIN a USING (l_partkey)
        WHERE qc * nq * 10 < sq * 2""",
    // d21: Q15's correlated-max as one supplier aggregate + a 1-row
    // max cross join; exact 1e-4 revenue so the winner set is stable
    "d21_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS r4
         FROM lineitem
         WHERE l_shipdate IS NOT NULL
           AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
         GROUP BY 1),
        m AS (SELECT max(r4) AS mx FROM r)
        SELECT s_suppkey, s_name, r4 / 10000.0 AS total_revenue
        FROM r CROSS JOIN m JOIN supplier ON l_suppkey = s_suppkey
        WHERE r4 = mx""",
    // d20: the two EXISTS quantifiers as one per-order aggregate —
    // n_supp >= 2 is "EXISTS another supplier", n_late = 1 is
    // "NOT EXISTS another late supplier" (and names the waiter);
    // LIMIT total-ordered by (numwait desc, s_name, s_suppkey)
    "d20_order_lifecycle" ->
      """WITH ps AS (SELECT l_orderkey, l_suppkey,
           max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             THEN 1 ELSE 0 END) AS late
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F' AND l_orderkey IS NOT NULL
           AND l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
         GROUP BY 1, 2),
        po AS (SELECT l_orderkey, count(*) AS n_supp,
           CAST(sum(late) AS BIGINT) AS n_late,
           max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
         FROM ps GROUP BY 1),
        w AS (SELECT late_supp AS s_suppkey, count(*) AS numwait
         FROM po WHERE n_supp >= 2 AND n_late = 1 GROUP BY 1)
        SELECT w.s_suppkey, s.s_name, numwait
        FROM w JOIN supplier s ON w.s_suppkey = s.s_suppkey
        ORDER BY numwait DESC, s_name, w.s_suppkey LIMIT 100""",
    // d15: the LIMIT cutoff is deterministic — (n_orders desc,
    // part_a, part_b) totally orders the unique pairs
    "d15_part_pair_counts" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
         SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
         FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2
         ORDER BY n_orders DESC, part_a, part_b LIMIT 100""",
    // g13: v1 = the modular slice, v2 = v1 plus its complement (i.e.
    // every non-null-id row); the planted orphan must change NOTHING
    // here — that invisibility IS the operator's publish contract
    "g13_versioned_read" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), count(*),
           sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0
         FROM events WHERE event_id IS NOT NULL""",
    // g14: v3 = the rewrite (full snapshot), v4 = v3 plus the %7
    // delta; the literal counts pin the post-GC contract — exactly
    // two versions expired, exactly two data directories reclaimed
    // (the rewrite cut the chain to v1/v2), the re-run reclaimed
    // nothing (idempotence), and two manifests + two data dirs remain
    "g14_version_retention" ->
      """WITH base AS (SELECT count(*) AS n,
           sum(CAST(round(value * 100, 0) AS BIGINT)) AS s
         FROM events),
        delta AS (SELECT count(*) AS n,
           coalesce(sum(CAST(round(value * 100, 0) AS BIGINT)), 0) AS s
         FROM events WHERE event_id % 7 = 0)
        SELECT CAST(3 AS BIGINT) AS version, base.n AS n_rows,
          base.s / 100.0 AS sum_value,
          CAST(2 AS BIGINT) AS n_expired, CAST(2 AS BIGINT) AS n_removed,
          CAST(2 AS BIGINT) AS live_manifests, CAST(2 AS BIGINT) AS live_dirs
        FROM base
        UNION ALL
        SELECT CAST(4 AS BIGINT), base.n + delta.n,
          (base.s + delta.s) / 100.0,
          CAST(2 AS BIGINT), CAST(2 AS BIGINT),
          CAST(2 AS BIGINT), CAST(2 AS BIGINT)
        FROM base, delta""",
    // g15: run 1 replays the factored b9 oracle verbatim; run 2's
    // scalars re-derive the c7/b10 aggregates — counts, a sum of
    // already-4-decimal rmses in exact 1e-4 units, and the verdict's
    // integer flags — under the literal run_ts stamps the entry uses
    "g15_run_ledger" ->
      s"""SELECT TIMESTAMP '2026-01-01 00:00:00' AS run_ts,
           'b9_quality_report' AS operator, metric, value FROM ($b9ReportOracle)
         UNION ALL
         SELECT TIMESTAMP '2026-01-02 00:00:00', 'c7_forecast_metrics', metric, value FROM (
           WITH f AS (SELECT user_id, value,
               lag(value, 24) OVER (PARTITION BY user_id
                 ORDER BY date_trunc('second', ts), event_id) AS prediction
             FROM events),
           m AS (SELECT user_id, round(sqrt(avg(pow(value - prediction, 2))), 4) AS rmse
             FROM f WHERE prediction IS NOT NULL GROUP BY 1)
           SELECT 'n_keys' AS metric, CAST(count(*) AS DOUBLE) AS value FROM m
           UNION ALL SELECT 'sum_rmse_e4',
             CAST(sum(CAST(round(rmse * 10000, 0) AS BIGINT)) AS DOUBLE) FROM m)
         UNION ALL
         SELECT TIMESTAMP '2026-01-02 00:00:00', 'b10_validation_verdict', metric, value FROM (
           WITH a AS (SELECT count(*) AS total_records,
               round(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*), 4)
                 AS missing_value_pct FROM events),
           dp AS (SELECT count(*) AS duplicate_groups FROM
             (SELECT user_id, date_trunc('second', ts) AS p FROM events
              GROUP BY 1, 2 HAVING count(*) > 1))
           SELECT 'total_records' AS metric, CAST(total_records AS DOUBLE) AS value FROM a
           UNION ALL SELECT 'missing_value_pct', missing_value_pct FROM a
           UNION ALL SELECT 'duplicate_groups', CAST(duplicate_groups AS DOUBLE) FROM dp
           UNION ALL SELECT 'error_count',
             CAST((CASE WHEN missing_value_pct > 5.0 THEN 1 ELSE 0 END +
               CASE WHEN duplicate_groups > 0 THEN 1 ELSE 0 END) AS DOUBLE) FROM a, dp
           UNION ALL SELECT 'is_valid',
             CAST(CASE WHEN (CASE WHEN missing_value_pct > 5.0 THEN 1 ELSE 0 END +
               CASE WHEN duplicate_groups > 0 THEN 1 ELSE 0 END) = 0
               THEN 1 ELSE 0 END AS DOUBLE) FROM a, dp)""",
    // g12: valid rows = the whole feed (empty CSV fields parse to
    // null, not corrupt — the g1-proven contract); quarantined lines
    // are the planted constants, interpolated from the SAME Seq the
    // query plants
    "g12_csv_rescue" -> {
      val lines = tornCsvLines
        .map(l => s"SELECT '${l.replace("'", "''")}', CAST(1 AS BIGINT)")
        .mkString("\nUNION ALL ")
      s"""SELECT '__valid__' AS record, count(*) AS n FROM events
          UNION ALL $lines"""
    },
    // layout-invariant like g8: only file boundaries/order move
    "g9_sorted_layout" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    // g11: the footer-only ANALYZE must equal a full scan's stats —
    // that equality IS the operator's correctness claim
    "g11_stats_catalog" ->
      """SELECT 'event_id' AS column_name, count(*) AS n_rows,
           count(*) - count(event_id) AS n_nulls,
           min(event_id) AS min_v, max(event_id) AS max_v FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
           min(user_id), max(user_id) FROM events""",
    // g10: content is layout-invariant like g9 — the z-order property
    // itself is footer-stats-asserted in SourcesSpec
    "g10_zorder_layout" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type, value
         FROM events""",
    "g6_schema_evolution" ->
      """SELECT event_id, date_trunc('second', ts) AS period, user_id, event_type,
         CASE WHEN event_id >= 5000 THEN value END AS value,
         CAST(CASE WHEN event_id >= 5000 THEN 2 ELSE 1 END AS BIGINT) AS batch
         FROM events""",
    "e25_repetition_stats" ->
      s"""WITH base AS (SELECT doc_id,
            list_filter(string_split($normSql, ' '), x -> x <> '') AS ws FROM documents),
          wt AS (SELECT doc_id, unnest(ws) AS word FROM base),
          wc AS (SELECT doc_id, word, count(*) AS c FROM wt GROUP BY 1, 2),
          wstats AS (SELECT doc_id, sum(c) AS total, count(*) AS dstnct, max(c) AS topw
            FROM wc GROUP BY 1),
          bg AS (SELECT doc_id,
              unnest(list_transform(list_zip(ws, ws[2:]), p -> p[1] || ' ' || p[2])) AS bigram
            FROM base WHERE len(ws) >= 2),
          bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg
            WHERE bigram IS NOT NULL GROUP BY 1, 2),
          bstats AS (SELECT doc_id, sum(c) AS btotal, max(c) AS topb FROM bc GROUP BY 1)
          SELECT doc_id,
            CAST(coalesce(total, 0) AS BIGINT) AS n_words,
            CAST(coalesce(dstnct, 0) AS BIGINT) AS n_distinct,
            CASE WHEN total > 0 THEN floor((topw * 20000 + total) / (total * 2)) / 10000.0
                 ELSE 0.0 END AS top_word_frac,
            CASE WHEN total > 0 THEN floor(((total - dstnct) * 20000 + total) / (total * 2)) / 10000.0
                 ELSE 0.0 END AS dup_word_frac,
            CASE WHEN btotal > 0 THEN floor((topb * 20000 + btotal) / (btotal * 2)) / 10000.0
                 ELSE 0.0 END AS top_bigram_frac
          FROM documents LEFT JOIN wstats USING (doc_id) LEFT JOIN bstats USING (doc_id)""",
    "e26_chunk_text" ->
      """WITH base AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '\s+') END AS ws
         FROM documents),
         st AS (SELECT doc_id, ws, len(ws) AS n,
             unnest(range(0, len(ws), 48)) AS chunk_start
           FROM base WHERE len(ws) > 0),
         f AS (SELECT doc_id, chunk_start,
             ws[CAST(chunk_start AS INT) + 1 : least(CAST(chunk_start AS INT) + 64, CAST(n AS INT))] AS chunk
           FROM st WHERE chunk_start = 0 OR chunk_start - 48 + 64 < n)
         SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
         FROM f"""
  )
}
