package graft.timeseries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cents, halfUpDiv, periodOf, seriesOrder}

/** Classical additive seasonal decomposition — value = trend + seasonal
  * + remainder — the time-series diagnostic the reference's forecasting
  * stack implies but never materializes (its LSTM consumes raw scaled
  * windows; an analyst debugging electricity load wants the decomposed
  * view: model.py's seq_len=168/horizon=24 choices *are* daily/weekly
  * seasonality assumptions).
  *
  * - trend: centered rolling mean over `2·halfWindow + 1` rows per key,
  *   defined only where the window is complete (classical moving-average
  *   trend; edges are NULL, not a shrunk-window estimate).
  * - seasonal: per (key, hour-of-day) mean of the detrended series —
  *   the fixed-period seasonal index for hourly data with daily cycle.
  * - remainder: detrended − seasonal.
  *
  * Engine-exact arithmetic: values become integer cents; the trend mean,
  * seasonal mean, and remainder are computed in exact 1e-4 integer units
  * with sign-aware half-up division (see c20's rationale — float `round`
  * disagrees across engines exactly at ...5 boundaries), so every output
  * is bit-identical in any engine.
  *
  * Scale shape: one shuffle on the series key for the trend window, one
  * on (key, hour) for the seasonal window — both partition by (a
  * superset of) the series key, the natural 100 TB layout of millions of
  * independent series. No driver work, no iteration.
  */
object Decompose {

  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valueCol: String,
                        halfWindow: Int): DataFrame = {
    require(halfWindow > 0, s"halfWindow must be positive, got $halfWindow")
    val windowSize = 2 * halfWindow + 1
    val base = df
      .filter(col(tsCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol),
        cents(col(valueCol)).cast("long").as("__cents"))
    val trendW = seriesOrder(keyCol, idCol)
      .rowsBetween(-halfWindow, halfWindow)
    // a NULL value inside the window leaves count < windowSize -> trend
    // NULL there too (classical decomposition needs the complete window)
    val withTrend = base
      .withColumn("__n", count(col("__cents")).over(trendW))
      .withColumn("__s", sum(col("__cents")).over(trendW))
      .withColumn("__trend_e4",
        when(col("__n") === windowSize, halfUpDiv(col("__s") * 100, col("__n"))))
      .withColumn("__det_e4", col("__cents") * 100 - col("__trend_e4"))
      .withColumn("__hod", hour(col("period")))
    val seasonW = Window.partitionBy(col(keyCol), col("__hod"))
    val withSeason = withTrend
      .withColumn("__m", count(col("__det_e4")).over(seasonW))
      .withColumn("__ssum", sum(col("__det_e4")).over(seasonW))
      .withColumn("__season_e4",
        when(col("__m") > 0, halfUpDiv(col("__ssum"), col("__m"))))
    withSeason.select(
      col(keyCol), col("period"), col(idCol), col(valueCol),
      (col("__trend_e4") / 10000.0).as("trend"),
      (col("__season_e4") / 10000.0).as("seasonal"),
      ((col("__det_e4") - col("__season_e4")) / 10000.0).as("remainder"))
  }

  /** The k of [[residualAnomalies]]' k·MAD flag. */
  private val MadMultiplier = 3

  /** Robust residual anomaly detection (round 8) — the alerting layer
    * on top of [[seasonalDecompose]]: a reading is anomalous when its
    * decomposition remainder deviates from the key's median remainder
    * by more than k·MAD (median absolute deviation). Median/MAD, not
    * mean/σ, because anomalies are exactly what corrupts mean/σ — the
    * estimator must be robust to the points it is hunting.
    *
    * Exactness: remainders are exact 1e-4 integers (the c21 integer-e4
    * path), so median and MAD are exact percentiles of integers —
    * interpolated midpoints are (a+b)/2 of longs, exact in doubles and
    * bit-identical across engines (the b5 median argument). The flag
    * compare runs on those doubles with k integer: no rounding rescue
    * needed. MAD = 0 (over half the key's remainders identical) makes
    * ANY nonzero deviation anomalous — the degenerate case is strict,
    * not silent.
    *
    * Scale shape: decompose windows are per-key (entity-bounded); the
    * two robust-stat passes are per-key exact percentiles (value
    * buffer bounded by the key's history) whose outputs are one row
    * per key — AQE broadcasts them back. Output is anomalous rows
    * ONLY, so downstream moves alerts, not the corpus. */
  def residualAnomalies(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valueCol: String,
                        halfWindow: Int): DataFrame = {
    val dec = seasonalDecompose(df, keyCol, tsCol, idCol, valueCol, halfWindow)
      .filter(col("remainder").isNotNull)
      .withColumn("__r", round(col("remainder") * 10000, 0).cast("long"))
    val med = dec.groupBy(col(keyCol))
      .agg(percentile(col("__r"), lit(0.5)).as("__med"))
    val withMed = dec.join(med, Seq(keyCol))
      .withColumn("__ad", abs(col("__r") - col("__med")))
    val mad = withMed.groupBy(col(keyCol))
      .agg(percentile(col("__ad"), lit(0.5)).as("__mad"))
    withMed.join(mad, Seq(keyCol))
      .filter(col("__ad") > lit(MadMultiplier) * col("__mad"))
      .select(col(keyCol), col("period"), col(idCol), col(valueCol),
        col("remainder"),
        col("__ad").as("deviation_e4"),
        col("__mad").as("mad_e4"))
  }
}
