package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoint._
import graft.functions.{cents, halfUpDiv, periodOf, seriesOrder}

/** Distributed forecasting operators.
  *
  * The reference trains LSTM/Transformer forecasters on a single node
  * (model.py:44-137); at 100 TB the engine's job is the data side:
  * per-series baselines, closed-form models, and evaluation — each one
  * scan + one shuffle on the series key. RMSE/MAPE match
  * model.py:251-279 (MAPE with the same 1e-8 guard).
  */
object Forecast {

  /** Seasonal-naive baseline: prediction = value `season` steps ago in
    * the per-key ordered series. The standard distributed baseline a
    * 1000-executor backtest runs per series. */
  def seasonalNaive(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    valueCol: String, season: Int): DataFrame = {
    df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol))
      .withColumn("prediction", lag(col(valueCol), season).over(seriesOrder(keyCol, idCol)))
      .filter(col("prediction").isNotNull)
  }

  /** Per-key forecast evaluation: RMSE + MAPE (model.py:270-279,
    * same epsilon guard on the denominator). */
  def metrics(df: DataFrame, keyCol: String, actualCol: String, predCol: String): DataFrame =
    errorStats(df.groupBy(col(keyCol)), col(actualCol), col(predCol))

  /** `n`, RMSE and MAPE per group — the error aggregates of [[metrics]]
    * and [[backtest]]. */
  private def errorStats(groups: RelationalGroupedDataset, actual: Column,
                         pred: Column): DataFrame =
    groups.agg(
      count(lit(1)).as("n"),
      round(sqrt(avg(pow(actual - pred, 2))), 4).as("rmse"),
      round(avg(abs((actual - pred) / (actual + lit(1e-8)))) * 100, 4).as("mape"))

  /** Per-key OLS trend via regr_slope/regr_intercept aggregates —
    * closed-form, fully distributed (map-side partials; no iteration).
    * x = epoch seconds of the second-truncated timestamp. Emits the
    * fitted line plus a point forecast `horizonSeconds` past each key's
    * last observation. */
  def linearTrend(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
                  horizonSeconds: Long): DataFrame = {
    df.select(col(keyCol),
        periodOf(tsCol).cast("long").cast("double").as("x"),
        col(valueCol).cast("double").as("y"))
      .groupBy(col(keyCol))
      .agg(
        expr("regr_slope(y, x)").as("slope"),
        expr("regr_intercept(y, x)").as("intercept"),
        max(col("x")).as("x_max"))
      .select(col(keyCol),
        round(col("slope") * 3600 * 24, 6).as("slope_per_day"),
        round(col("intercept") + col("slope") * (col("x_max") + horizonSeconds), 4)
          .as("forecast"))
  }

  /** Distribution-drift check (config.yaml:44-46): reference window
    * [max-37d, max-7d) vs current window [max-7d, max]; per-key relative
    * mean shift vs threshold. The global max-ts scalar is broadcast. */
  def drift(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
            referenceDays: Int, currentDays: Int, threshold: Double): DataFrame = {
    driftWindows(df, tsCol, referenceDays, currentDays,
        df.select(col(keyCol), periodOf(tsCol).as("period"), col(valueCol)))
      // means from exact integer cents: order-independent sums, so the
      // rounded output is reproducible across engines/partitionings; a
      // null reading enters neither sum nor count (pandas' mean skips it)
      .withColumn("cents", cents(col(valueCol)))
      .groupBy(col(keyCol))
      .agg(
        sum(when(col("bucket") === "reference", col("cents"))).as("s_ref"),
        count(when(col("bucket") === "reference", col("cents"))).as("n_ref"),
        sum(when(col("bucket") === "current", col("cents"))).as("s_cur"),
        count(when(col("bucket") === "current", col("cents"))).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      // displayed means use the exact-integer-cents rounding (see
      // roundMeanE4): round(s/n/100, 4) half-up-rounds a double that can
      // sit exactly on a ...5 boundary, where engines disagree. shift/
      // drifted stay on the raw double means (scale-invariant ratio).
      .select(col(keyCol),
        graft.functions.roundMeanE4(col("s_ref"), col("n_ref")).as("ref_mean"),
        graft.functions.roundMeanE4(col("s_cur"), col("n_cur")).as("cur_mean"),
        round(abs(col("s_cur") / col("n_cur") - col("s_ref") / col("n_ref")) /
          (col("s_ref") / col("n_ref")), 6).as("shift"),
        (abs(col("s_cur") / col("n_cur") - col("s_ref") / col("n_ref")) /
          (col("s_ref") / col("n_ref")) > threshold).as("drifted"))
  }

  /** The drift windows of [[drift]] and of
    * [[graft.validate.Quality.psiDrift]]/[[graft.validate.Quality.ksDrift]]:
    * `rows` (which carry the second-truncated `period`) gain the
    * anchor `max_ts` — the newest second-truncated `tsCol` over ALL of
    * `df`, a 1-row broadcast scalar — and a `bucket` label, "current"
    * for [max−cur days, max] and "reference" for
    * [max−(cur+ref) days, max−cur days); rows in neither window drop. */
  private[graft] def driftWindows(df: DataFrame, tsCol: String, referenceDays: Int,
                                  currentDays: Int, rows: DataFrame): DataFrame = {
    val maxTs = df.agg(max(periodOf(tsCol)).as("max_ts"))
    val curStart = col("max_ts") - expr(s"INTERVAL $currentDays DAYS")
    val refStart = col("max_ts") - expr(s"INTERVAL ${currentDays + referenceDays} DAYS")
    rows.crossJoin(broadcast(maxTs))
      .withColumn("bucket",
        when(col("period") >= curStart, "current")
          .when(col("period") >= refStart, "reference"))
      .filter(col("bucket").isNotNull)
  }

  /** Rolling-origin backtest: the per-key series is cut into `folds`
    * equal time slices and the (causal) seasonal-naive forecast is
    * scored per slice — RMSE/MAPE per (key, fold), the distributed form
    * of evaluating a forecaster across held-out windows rather than one
    * final split (model.py evaluate() generalized). One window pass +
    * one aggregation; no refitting needed because the baseline is
    * causal by construction. */
  def backtest(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
               valueCol: String, season: Int, folds: Int): DataFrame = {
    val fc = seasonalNaive(df, keyCol, tsCol, idCol, valueCol, season)
    val cw = Window.partitionBy(col(keyCol))
    val folded = fc.withColumn("__rn", row_number().over(seriesOrder(keyCol, idCol)))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("fold",
        least(floor((col("__rn") - 1) * folds / col("__n")), lit(folds - 1)).cast("int"))
    errorStats(folded.groupBy(col(keyCol), col("fold")), col(valueCol), col("prediction"))
  }

  /** Empirical prediction intervals (round 8) — the uncertainty bands
    * every operational forecast needs and the reference's point
    * forecasters never emit: per key, the [0.1, 0.9] quantiles of the
    * in-sample seasonal-naive residuals attach to each prediction as
    * `lo`/`hi` (split-conformal shape: the interval's coverage is the
    * residual distribution's, assuming exchangeable errors).
    *
    * Exactness: values are 2-decimal, the seasonal-naive prediction is
    * a lagged value, so residuals are EXACT integer cents; the per-key
    * quantiles are exact percentiles of longs (interpolated midpoints
    * exact in doubles — the b5 argument), and lo/hi are
    * (pred_cents + q)/100 evaluated with one expression shape — no
    * round() anywhere, so no half-even/half-up boundary to diverge on.
    *
    * Scale shape: one per-key window for the lag (entity-bounded), one
    * per-key exact percentile pass (value buffer bounded by the key's
    * history), quantile rows broadcast back by AQE. */
  def forecastIntervals(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valueCol: String, season: Int): DataFrame = {
    val fc = seasonalNaive(df, keyCol, tsCol, idCol, valueCol, season)
      .withColumn("__pc", cents(col("prediction")).cast("long"))
      .withColumn("__rc", cents(col(valueCol)).cast("long") - col("__pc"))
    val q = fc.groupBy(col(keyCol)).agg(
      percentile(col("__rc"), lit(0.1)).as("__qlo"),
      percentile(col("__rc"), lit(0.9)).as("__qhi"))
    fc.join(q, Seq(keyCol))
      .select(col(keyCol), col("period"), col(idCol), col(valueCol),
        col("prediction"),
        ((col("__pc") + col("__qlo")) / 100.0).as("lo"),
        ((col("__pc") + col("__qhi")) / 100.0).as("hi"))
  }

  /** Distributed ridge regression on lag features via normal equations.
    *
    * The scalable stand-in for the reference's lag-window → horizon
    * model: per key, accumulate the Gram matrix X'X and X'y with one
    * aggregation pass (map-side combinable sums), then solve the tiny
    * (p×p) system per key. The solve touches one row per key — the
    * 100 TB of observations never leave the executors.
    * Features: [1, lag1, lagSeason]; target: value.
    */
  def ridgeLagForecast(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                       valueCol: String, season: Int, lambda: Double): DataFrame = {
    val feats = lagFeats(df, keyCol, tsCol, idCol, valueCol, season)
    // Gram matrix sums for features [1, x1, x2] — 6 unique entries + 3
    // X'y — then a per-key closed-form Cramer solve as a codegen'd
    // column expression (no typed map, native key type preserved).
    val sums = gramSums(feats, keyCol, valueCol)
    appendCramerCoefs(sums, lit(lambda)).select(col(keyCol),
      round(col("__c0"), 4).as("intercept"),
      round(col("__c1"), 6).as("coef_lag1"),
      round(col("__c2"), 6).as("coef_lag_season"))
  }

  /** Calendar-feature seasonal ridge forecaster (round 11) — per key,
    * a linear trend plus ridge-shrunken hour-of-week effects, fit on
    * the per-key leading `trainNum/trainDen` fraction and scored on
    * the held-out tail: prediction = trend(t) + s_{slot(t)}. This is
    * the feature space the reference's LSTM/Transformer actually learn
    * (model.py:44-137: seq_len=168 to capture the daily AND weekly
    * cycle) — the 168 hour-of-week slots are exactly the
    * hour-of-day × day-of-week dummy interaction, and the model is
    * ridge regression on those dummies with the trend fixed first
    * (one backfit pass: OLS trend on the raw series, then each dummy's
    * coefficient is its residual sum shrunk by n/(n+λ) — the
    * closed-form ridge solution for orthogonal one-hot columns, so no
    * 169×169 matrix ever forms and every stage is SQL-expressible).
    * Completes the forecaster ladder c6 → c8 → c28 → c29 → c11 with
    * the strongest tier that is still exactly DuckDB-oracle-able.
    * Backfit caveat: a single pass fits the trend BEFORE the seasonal
    * effects, so seasonality that correlates with time within the
    * cycle leaks into the slope when the train window covers few
    * cycles (joint OLS would not); the leak decays as 1/T² with the
    * train span — at the multi-year windows a 100 TB corpus implies
    * it is noise, and keys needing a sharper fit can iterate
    * (re-subtract s_slot, refit trend) at one extra aggregate per
    * pass.
    *
    * Cross-engine exactness (the c11 discipline): the split is pure
    * integer cross-multiplication (rn·trainDen ≤ n·trainNum); the
    * trend fits on EXACT int64 Gram sums over (hours since the key's
    * first train observation, integer cents) — centering bounds t² so
    * the sums stay far inside int64 (decade-hourly keys: t ≤ 8.8e4,
    * Σt² ≤ 7.7e15; cents ≤ 1e7 keeps Σt·cents ≤ 1e17 at 1e5 rows) —
    * then slope/intercept are one fixed double formula from identical
    * exact ints, so both engines hold bit-identical coefficients. The
    * per-row fitted value quantizes to the 1e-6 grid
    * (floor((icept + slope·t)·1e4) of cents = micro-units), making
    * residuals exact int64 whose per-slot sums are order-independent;
    * the slot effect S_r/(n_slot+λ) and the final 4-decimal rounding
    * then divide/round identical doubles. Slot = (epoch_hour mod 168)
    * — pure integer arithmetic, no calendar functions to disagree on.
    *
    * Scale shape: one shuffle on the series key for the rank/min
    * window (entity-bounded partitions, the c13 shape), checkpointed
    * once for its three consumers (the tfidf lesson); the Gram and
    * residual aggregates are map-side-combinable partials; the per-key
    * coefficient row and the key×168 seasonal table broadcast back.
    * Keys whose train split cannot fit (< 2 train rows or zero time
    * spread) fall back to slope 0 / mean level via the c11 singularity
    * guard. */
  def seasonalRidgeForecast(df: DataFrame, keyCol: String, tsCol: String,
                            idCol: String, valueCol: String,
                            trainNum: Int, trainDen: Int,
                            lambda: Double): DataFrame = {
    require(trainNum > 0 && trainDen > 0 && trainNum < trainDen,
      s"train fraction $trainNum/$trainDen out of (0,1)")
    require(lambda >= 0, s"lambda $lambda must be >= 0")
    val kw = Window.partitionBy(col(keyCol))
    // null ts rows drop: they carry no calendar features, and the two
    // engines disagree on null ordering inside the rank window
    val ranked = df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol),
        cents(col(valueCol)).cast("long").as("__cents"), periodOf(tsCol).cast("long").as("__x"))
      .withColumn("__rn", row_number().over(seriesOrder(keyCol, idCol)))
      .withColumn("__n", count(lit(1)).over(kw))
      .withColumn("__train", col("__rn") * trainDen <= col("__n") * trainNum)
      .withColumn("__xmin", min(when(col("__train"), col("__x"))).over(kw))
      .withColumn("__t", expr("(__x - __xmin) div 3600"))
      .withColumn("__slot", expr("(__x div 3600) % 168"))
      .checkpointAs("Forecast.seasonalRidgeForecast.ranked")
    val train = ranked.filter(col("__train"))
    // exact int64 Gram sums -> one fixed double formula per key
    val coefs = train.groupBy(col(keyCol)).agg(
        count(lit(1)).as("__nt"),
        sum(col("__t")).as("__sx"),
        sum(col("__t") * col("__t")).as("__sxx"),
        sum(col("__cents")).as("__sy"),
        sum(col("__t") * col("__cents")).as("__sxy"))
      .withColumn("__nd", col("__nt").cast("double"))
      .withColumn("__den",
        col("__nd") * col("__sxx").cast("double") -
          col("__sx").cast("double") * col("__sx").cast("double"))
      .withColumn("__slope",
        when(abs(col("__den")) > 1e-9,
          (col("__nd") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) / col("__den"))
          .otherwise(0.0))
      .withColumn("__icept",
        (col("__sy").cast("double") - col("__slope") * col("__sx").cast("double")) /
          col("__nd"))
      .select(col(keyCol), col("__slope"), col("__icept"))
    // fitted value on the exact 1e-6 grid: cents·1e4 = micro-units
    def fitMicro = floor((col("__icept") + col("__slope") * col("__t")) * 10000.0)
      .cast("long")
    val seasonal = train.join(coefs, Seq(keyCol))
      .withColumn("__r", col("__cents") * 10000L - fitMicro)
      .groupBy(col(keyCol), col("__slot"))
      .agg(sum(col("__r")).as("__sr"), count(lit(1)).as("__ns"))
      .withColumn("__s",
        col("__sr").cast("double") / (col("__ns").cast("double") + lit(lambda)))
      .select(col(keyCol), col("__slot"), col("__s"))
    // final rounding in EXACT FIXED POINT (the c22 applyCoefficients
    // pattern): the fitted value and the floored slot effect are int64
    // micro-units, so the half-up 4-decimal step is integer arithmetic
    // — round(double, 4) half-boundaries diverge across engines (one
    // sf0.01 row flipped the 4th decimal on the first cut)
    ranked.filter(!col("__train"))
      .join(coefs, Seq(keyCol))
      .join(seasonal, Seq(keyCol, "__slot"), "left")
      .withColumn("__p6", fitMicro + floor(coalesce(col("__s"), lit(0.0))))
      .select(col(keyCol), col("period"), col(idCol), col(valueCol),
        (halfUpDiv(col("__p6"), lit(100L)) / 10000.0).as("prediction"))
  }

  /** Equal-weight forecast blend (round 11): the mean of the c30
    * seasonal-ridge prediction and the c6 seasonal-naive prediction on
    * the SAME held-out rows — the forecast-combination baseline that
    * the M-competitions repeatedly found beating its components
    * (Makridakis et al.; simple averages are robust to any one model's
    * regime failure: here naive carries level shifts the ridge's
    * global trend misses, and the ridge carries calendar structure the
    * lag cannot). Rows where either component is undefined (a key too
    * short to fit, the first `season` rows with no lag) drop — a blend
    * of one model is not a blend.
    *
    * Exactness: both component predictions are exact 4-decimal values
    * (c30's integer half-up; the naive lag is a raw 2-decimal value),
    * so the blend (p1·10⁴ + p2·10⁴)/2·10⁴ is one exact int64 sum and a
    * single correctly-rounded double division — no rounding step at
    * all, so no boundary to diverge on. Scale shape: c30's plan plus
    * one lag window (both per-key, entity-bounded) and an equi-join on
    * (key, id) that rides the same key partitioning. */
  def blendForecasts(df: DataFrame, keyCol: String, tsCol: String,
                     idCol: String, valueCol: String, season: Int,
                     trainNum: Int, trainDen: Int, lambda: Double): DataFrame = {
    val ridge = seasonalRidgeForecast(df, keyCol, tsCol, idCol, valueCol,
      trainNum, trainDen, lambda)
    val naive = seasonalNaive(df, keyCol, tsCol, idCol, valueCol, season)
      .select(col(keyCol), col(idCol),
        round(col("prediction") * 10000, 0).cast("long").as("__pn4"))
    ridge
      .withColumn("__pr4", round(col("prediction") * 10000, 0).cast("long"))
      .join(naive, Seq(keyCol, idCol))
      .select(col(keyCol), col("period"), col(idCol), col(valueCol),
        col("prediction").as("ridge_prediction"),
        (col("__pn4") / 10000.0).as("naive_prediction"),
        ((col("__pr4") + col("__pn4")) / 20000.0).as("prediction"))
  }

  /** Inference-time ridge apply — the load_model + predict half of the
    * reference's artifact persistence (model.py:337-380 save/load,
    * :318 predict): a persisted coefficient table from
    * [[ridgeLagForecast]] (or a [[modelSelection]] winner renamed to
    * the same columns) is applied to FRESH data. The model-side
    * counterpart of [[TimeSeries.applyScaler]] for c12 scalers.
    *
    * Scale shape: training scans the full history once to fit; daily
    * inference (airflow_dag.py's cadence) re-reads only the new data.
    * The coefficient table is one row per key, so it broadcasts — the
    * fresh 100 TB side shuffles once for its own lag window and never
    * for the join.
    *
    * Predictions are computed in EXACT FIXED POINT: the persisted
    * coefficients carry 4/6 decimals and inputs carry 2, so
    * intercept·1e8 + coef·1e6 · x·1e2 is an exact int64 in 1e-8 units
    * and the half-up 4-decimal rounding is pure integer arithmetic —
    * a binary-double sum can land a half-boundary ulp apart across
    * engines and flip the 4th decimal (sf1 exposed exactly one such
    * row). Magnitudes: |coef| < 1e3, |x| < 1e7 keeps |p8| under ~3e18,
    * exact in int64 (NOT in a double — 2^53 ≈ 9e15), which is why the
    * half-up step is `div`, an integer division: the first long→double
    * conversion happens on the quotient (< ~3e14 < 2^53, so exact).
    * Spark's `div` truncates toward zero and DuckDB's `//` floors, but
    * the dividend is non-negative so the engines agree. */
  def applyCoefficients(fresh: DataFrame, coefs: DataFrame, keyCol: String,
                        tsCol: String, idCol: String, valueCol: String,
                        season: Int): DataFrame = {
    val i4 = round(col("intercept") * 10000, 0).cast("long")
    val c1i = round(col("coef_lag1") * 1000000, 0).cast("long")
    val c2i = round(col("coef_lag_season") * 1000000, 0).cast("long")
    val x1i = cents(col("x1")).cast("long")
    val x2i = cents(col("x2")).cast("long")
    val p8 = i4 * 10000L + c1i * x1i + c2i * x2i
    lagFeats(fresh, keyCol, tsCol, idCol, valueCol, season)
      .join(broadcast(coefs), Seq(keyCol))
      .withColumn("__p8", p8)
      .select(col(idCol), col(keyCol), col("period"), col(valueCol),
        (halfUpDiv(col("__p8"), lit(10000L)) / 10000.0).as("prediction"))
  }

  /** Per-key lag features [x1 = lag 1, x2 = lag season] over the
    * second-truncated series; rows with either lag missing drop. */
  private def lagFeats(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                       valueCol: String, season: Int): DataFrame = {
    val ow = seriesOrder(keyCol, idCol)
    df.select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
      .withColumn("x1", lag(col(valueCol), 1).over(ow))
      .withColumn("x2", lag(col(valueCol), season).over(ow))
      .filter(col("x1").isNotNull && col("x2").isNotNull)
  }

  /** Gram-matrix sums accumulated over EXACT INTEGER CENTS (inputs
    * carry two decimals, so cents products are exact int64): partial
    * aggregation order cannot perturb a single ulp, so the derived
    * double sums — and everything the Cramer solve computes from them —
    * are bit-identical across engines and partitionings. */
  private def gramSums(feats: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val c1 = cents(col("x1")).cast("long")
    val c2 = cents(col("x2")).cast("long")
    val cy = cents(col(valueCol)).cast("long")
    feats.groupBy(col(keyCol)).agg(
      count(lit(1)).cast("double").as("s00"),
      (sum(c1).cast("double") / 100.0).as("s01"),
      (sum(c2).cast("double") / 100.0).as("s02"),
      (sum(c1 * c1).cast("double") / 10000.0).as("s11"),
      (sum(c1 * c2).cast("double") / 10000.0).as("s12"),
      (sum(c2 * c2).cast("double") / 10000.0).as("s22"),
      (sum(cy).cast("double") / 100.0).as("b0"),
      (sum(c1 * cy).cast("double") / 10000.0).as("b1"),
      (sum(c2 * cy).cast("double") / 10000.0).as("b2"))
  }

  /** Closed-form ridge coefficients (Cramer's rule) for
    * A = Gram + lambda*I, appended as columns __c0/__c1/__c2.
    *
    * The naive formulation inlined the 3×3 determinant subtrees into
    * every output column (det(A) alone appeared six times: inside the
    * singularity guard AND the division of each coefficient), so one
    * generated projection carried ~12 expanded determinant trees and
    * Janino compile time dominated the query (r3 bench: 0.39 s → 2.27 s).
    * Here the shared cofactors/minors of the SYMMETRIC matrix are staged
    * through intermediate projections; every alias below is referenced
    * more than once downstream, so CollapseProject keeps the stages
    * (it only re-inlines cheap or single-use aliases) and each subterm
    * is generated exactly once. The groupings mirror the naive
    * cofactor expansion term-for-term (negation is exact in IEEE
    * arithmetic), so results are bit-identical to the previous form. */
  private def appendCramerCoefs(sums: DataFrame, lambdaCol: Column): DataFrame =
    sums
      .withColumn("__a00", col("s00") + lambdaCol)
      .withColumn("__a11", col("s11") + lambdaCol)
      .withColumn("__a22", col("s22") + lambdaCol)
      // minors shared between det(A) and the Cramer numerators
      .withColumn("__m00", col("__a11") * col("__a22") - col("s12") * col("s12"))
      .withColumn("__m01", col("s01") * col("__a22") - col("s12") * col("s02"))
      .withColumn("__m02", col("s01") * col("s12") - col("__a11") * col("s02"))
      .withColumn("__u", col("b1") * col("__a22") - col("s12") * col("b2"))
      .withColumn("__v", col("s01") * col("b2") - col("b1") * col("s02"))
      .withColumn("__w", col("__a11") * col("b2") - col("b1") * col("s12"))
      .withColumn("__d",
        col("__a00") * col("__m00") - col("s01") * col("__m01") + col("s02") * col("__m02"))
      .withColumn("__n0",
        col("b0") * col("__m00") - col("s01") * col("__u") - col("s02") * col("__w"))
      .withColumn("__n1",
        col("__a00") * col("__u") - col("b0") * col("__m01") + col("s02") * col("__v"))
      .withColumn("__n2",
        col("__a00") * col("__w") - col("s01") * col("__v") + col("b0") * col("__m02"))
      .withColumn("__c0", when(abs(col("__d")) > 1e-12, col("__n0") / col("__d")).otherwise(0.0))
      .withColumn("__c1", when(abs(col("__d")) > 1e-12, col("__n1") / col("__d")).otherwise(0.0))
      .withColumn("__c2", when(abs(col("__d")) > 1e-12, col("__n2") / col("__d")).otherwise(0.0))
      .drop("__a00", "__a11", "__a22", "__m00", "__m01", "__m02",
        "__u", "__v", "__w", "__d", "__n0", "__n1", "__n2")

  /** Multi-horizon forecast table — the engine's headline output
    * (model.py:52 output_size=24; kubeflow_pipeline.py:112-124
    * prediction_horizon): per key, one row for each of the NEXT
    * `season` periods, carrying both baselines.
    *
    * Seasonal-naive: ŷ(T+h) = y(T+h−season), i.e. the last observed
    * season replayed in phase — produced WITHOUT generating future rows
    * and joining back: the last `season` rows per key (one window
    * rank) each become one horizon row, so the cost is a single
    * per-key window pass regardless of corpus size. Trend: the c8
    * closed-form OLS line evaluated at each future period; the
    * per-key (slope, intercept) table is one row per key and the join
    * back is AQE-broadcast at any realistic key count. */
  def multiHorizonForecast(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                           valueCol: String, season: Int, stepSeconds: Long): DataFrame = {
    val base = df.select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
    val wDesc = Window.partitionBy(col(keyCol)).orderBy(col("period").desc, col(idCol).desc)
    val snaive = base
      .withColumn("__rd", row_number().over(wDesc))
      .withColumn("__maxp", max(col("period")).over(Window.partitionBy(col(keyCol))))
      .filter(col("__rd") <= season)
      .withColumn("horizon", (lit(season + 1) - col("__rd")).cast("int"))
      .select(col(keyCol), col("horizon"),
        timestamp_seconds(col("__maxp").cast("long") + col("horizon") * stepSeconds.toInt)
          .as("period"),
        col(valueCol).as("snaive_prediction"))
    val trend = base
      .select(col(keyCol), col("period").cast("long").cast("double").as("x"),
        col(valueCol).cast("double").as("y"))
      .groupBy(col(keyCol))
      .agg(expr("regr_slope(y, x)").as("__slope"), expr("regr_intercept(y, x)").as("__icept"))
    snaive.join(trend, Seq(keyCol))
      .select(col(keyCol), col("horizon"), col("period"), col("snaive_prediction"),
        round(col("__icept") + col("__slope") * col("period").cast("long").cast("double"), 4)
          .as("trend_prediction"))
  }

  /** Distributed hyperparameter sweep + model selection — the engine's
    * analog of the reference's Katib search (train_katib.py:60-160:
    * grid over model hyperparameters, best picked by validation RMSE).
    *
    * Per key: time-ordered train/val/test split on the lag-feature
    * rows, ONE Gram-matrix aggregation over the train slice (the Gram
    * sums are lambda-independent, so the 100 TB of observations are
    * touched once no matter how large the grid), then a per-(key,
    * lambda) closed-form ridge solve via Cramer's rule — a codegen'd
    * column expression over keys×lambdas rows, no driver loop. The
    * tiny coefficient table joins back to the held-out rows
    * (AQE-broadcast) and best-per-key is one min_by aggregation.
    * Emits (key, best_lambda, val_rmse, test_rmse). */
  def modelSelection(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                     valueCol: String, season: Int, lambdas: Seq[Double],
                     trainFrac: Double, valFrac: Double): DataFrame = {
    val feats = TimeSeries.splitLabels(lagFeats(df, keyCol, tsCol, idCol, valueCol, season),
      keyCol, idCol, trainFrac, valFrac)
    val sums = gramSums(feats.filter(col("split") === "train"), keyCol, valueCol)
    // keys × lambdas rows; solve A x = b with A = Gram + lambda*I
    val lam = sums.select(col(keyCol), explode(typedLit(lambdas)).as("lambda"),
      col("s00"), col("s01"), col("s02"), col("s11"), col("s12"), col("s22"),
      col("b0"), col("b1"), col("b2"))
    val coefs = appendCramerCoefs(lam, col("lambda"))
      .select(col(keyCol), col("lambda"), col("__c0"), col("__c1"), col("__c2"))
    val err = col(valueCol) - (col("__c0") + col("__c1") * col("x1") + col("__c2") * col("x2"))
    val scored = feats.filter(col("split") =!= "train")
      .join(coefs, Seq(keyCol))
      .groupBy(col(keyCol), col("lambda"))
      .agg(
        sqrt(avg(when(col("split") === "val", pow(err, 2)))).as("__val_rmse"),
        sqrt(avg(when(col("split") === "test", pow(err, 2)))).as("__test_rmse"))
    scored.groupBy(col(keyCol))
      .agg(min_by(
        struct(col("lambda"), col("__val_rmse"), col("__test_rmse")),
        struct(col("__val_rmse"), col("lambda"))).as("__b"))
      .select(col(keyCol), col("__b.lambda").as("best_lambda"),
        round(col("__b.__val_rmse"), 4).as("val_rmse"),
        round(col("__b.__test_rmse"), 4).as("test_rmse"))
  }

  /** Holt linear (double) exponential smoothing per key (round 9):
    * level + trend state over the last `window` observations, forecast
    * at `horizons` steps as level + h·trend — the trend-aware tier
    * between c6's seasonal-naive and c11's ridge fit (EMA smooths but
    * cannot extrapolate; a global linear fit cannot adapt its slope).
    *
    * Like c17's EMA, the bounded-window recursion is LINEAR in the
    * observations, so the operator's contract is two DRIVER-computed
    * weight vectors ([[holtWeights]]: the exact coefficient recursion
    * l₁=x₁, b₁=0, l_t=αx_t+(1−α)(l_{t−1}+b_{t−1}),
    * b_t=β(l_t−l_{t−1})+(1−β)b_{t−1}, published as literals) dotted
    * against the newest-first value array. The dot runs left-to-right
    * in BOTH engines (native ArrayDot here, list_dot_product in the
    * oracle, verified bit-identical on the e37 vectors), so no
    * summation-order drift exists; the terminal round(·,4) is the c17
    * rounding contract. Keys with fewer than `window` observations
    * emit nothing (their weights would be a different vector — route
    * short series to c6/c8).
    *
    * Scale shape: one per-key window pass (rank the newest `window`
    * rows) + one groupBy collecting the BOUNDED array — state is
    * `window` doubles per key, never the series; all keys fold in
    * parallel. */
  def holtForecast(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   valueCol: String, alpha: Double, beta: Double,
                   window: Int, horizons: Seq[Int]): DataFrame = {
    require(window >= 2 && horizons.nonEmpty, "window >= 2, horizons non-empty")
    val (lw, bw) = holtWeights(alpha, beta, window)
    newestWindowForecast(df, keyCol, tsCol, idCol, valueCol, window, lw, bw) { (level, trend) =>
      horizons.map(h => round(level + lit(h) * trend, 4).as(s"f_h$h"))
    }
  }

  /** Additive Holt-Winters per key (round 10): level + trend + a
    * `season`-slot seasonal state over the last `window` observations,
    * forecast at horizon h as l + h·b + s_{slot(T+h)} — the
    * seasonal-aware smoothing tier the reference's LSTM/Transformer
    * exist to learn (model.py:44-86: seq_len=168 to capture the
    * daily/weekly cycle) and that c28's trend-only Holt cannot emit.
    * Winters (1960) recursion with the standard detrended heuristic
    * init (Hyndman & Athanasopoulos, fpp ch. 7): b = mean per-step
    * change between the first two cycles, l = first-cycle mean shifted
    * to the cycle's END (mean + b·(m−1)/2), s_j = x_j − the fitted
    * trend line at j — on clean trend+season data the init is exact,
    * so every in-sample one-step error is zero and the state tracks
    * from the first update.
    *
    * Like c17/c28, the bounded-window recursion is LINEAR in the
    * observations, so the operator's contract is DRIVER-computed
    * weight vectors ([[holtWintersWeights]]: the coefficient form of
    * l_t=α(x_t−s_{t−m})+(1−α)(l_{t−1}+b_{t−1}),
    * b_t=β(l_t−l_{t−1})+(1−β)b_{t−1},
    * s_t=γ(x_t−l_t)+(1−γ)s_{t−m}, published as literals — one vector
    * per output column) dotted against the newest-first value array.
    * The dot runs left-to-right in BOTH engines (native ArrayDot here,
    * list_dot_product in the oracle — the c28 parity argument), so no
    * summation-order drift exists; terminal round(·,4) is the c17
    * rounding contract. Keys with fewer than `window` observations
    * emit nothing (their init would be a different weight vector —
    * route short series to c6/c28).
    *
    * Scale shape: identical to [[holtForecast]] — one per-key window
    * pass ranking the newest `window` rows + one groupBy collecting
    * the BOUNDED array; per-key state is `window` doubles, never the
    * series; the recursion itself runs ONCE on the driver over
    * coefficient vectors, not per key and not per row. */
  def holtWintersForecast(df: DataFrame, keyCol: String, tsCol: String,
                          idCol: String, valueCol: String, alpha: Double,
                          beta: Double, gamma: Double, season: Int,
                          window: Int, horizons: Seq[Int]): DataFrame =
    weightVectorForecast(df, keyCol, tsCol, idCol, valueCol, window, horizons,
      holtWintersWeights(alpha, beta, gamma, season, window, horizons))

  /** Damped-trend additive Holt-Winters per key (round 11) — c29 with
    * the [[holtWintersDampedWeights]] recursion: identical state
    * machinery, but the horizon-h trend contribution is the saturating
    * (φ+…+φ^h)·b instead of h·b, the standard long-horizon fix for
    * load curves whose trend is locally real but never extrapolates
    * linearly (Gardner & McKenzie 1985; fpp ch. 7 reports damped
    * variants winning most long-horizon energy backtests). Same
    * driver-computed weight-vector contract, same bounded-window scale
    * shape, same generated oracle pattern as c28/c29. */
  def holtWintersDampedForecast(df: DataFrame, keyCol: String, tsCol: String,
                                idCol: String, valueCol: String, alpha: Double,
                                beta: Double, gamma: Double, phi: Double,
                                season: Int, window: Int,
                                horizons: Seq[Int]): DataFrame =
    weightVectorForecast(df, keyCol, tsCol, idCol, valueCol, window, horizons,
      holtWintersDampedWeights(alpha, beta, gamma, phi, season, window, horizons))

  /** Shared c29/c31 execution: each horizon's forecast dots its
    * published weight vector with the newest-first value array (native
    * left-to-right ArrayDot — the c28 parity argument), round 4. */
  private def weightVectorForecast(df: DataFrame, keyCol: String, tsCol: String,
                                   idCol: String, valueCol: String, window: Int,
                                   horizons: Seq[Int],
                                   weights: (Seq[Double], Seq[Double], Seq[Seq[Double]])): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 1), "horizons >= 1")
    val (lw, bw, fws) = weights
    newestWindowForecast(df, keyCol, tsCol, idCol, valueCol, window, lw, bw) { (_, _) =>
      horizons.zip(fws).map { case (h, fw) =>
        round(graft.functions.VectorExpressions.arrayDot(col("__vals"), typedLit(fw)), 4).as(s"f_h$h")
      }
    }
  }

  /** The c28/c29/c31 per-key state: rank the newest `window` rows per
    * key, collect the BOUNDED newest-first value array `__vals` (keys
    * with fewer rows drop), dot the level and trend weight vectors and
    * emit (key, level, trend) plus the `forecasts` columns built from
    * the unrounded level and trend. */
  private def newestWindowForecast(df: DataFrame, keyCol: String, tsCol: String,
                                   idCol: String, valueCol: String, window: Int,
                                   lw: Seq[Double], bw: Seq[Double])(
                                   forecasts: (Column, Column) => Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("period").desc, col(idCol).desc)
    val arr = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("period"),
        col(idCol), col(valueCol).cast("double").as("__v"))
      .withColumn("__rd", row_number().over(w))
      .filter(col("__rd") <= window)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"),
        transform(array_sort(collect_list(struct(col("__rd"), col("__v")))),
          s => s.getField("__v")).as("__vals"))
      .filter(col("__n") === window)
    val level = graft.functions.VectorExpressions.arrayDot(col("__vals"), typedLit(lw))
    val trend = graft.functions.VectorExpressions.arrayDot(col("__vals"), typedLit(bw))
    arr.select(col(keyCol) +: round(level, 4).as("level") +: round(trend, 4).as("trend") +:
      forecasts(level, trend): _*)
  }

  /** The Holt-Winters coefficient weight vectors (newest-first):
    * (level, trend, one forecast vector per horizon), exposed so
    * oracles/tests embed the exact same constants. The recursion runs
    * oldest-first over basis-vector coefficients — m seasonal slots
    * each carry their own vector, updated every m steps — and the
    * horizon-h forecast vector is l + h·b + s_{slot(T+h)}. Requires
    * window ≥ 2·season (the trend init averages the first two
    * cycles — the statsmodels legacy-heuristic convention). */
  def holtWintersWeights(alpha: Double, beta: Double, gamma: Double,
                         season: Int, window: Int,
                         horizons: Seq[Int]): (Seq[Double], Seq[Double], Seq[Seq[Double]]) =
    // phi = 1.0 reproduces the undamped recursion BIT-FOR-BIT: every
    // phi-multiplication is ·1.0 (exact in IEEE) and the h-step phi
    // sum 1+1+…+1 is exactly h, so c29's published weight vectors are
    // unchanged by the round-11 generalization
    holtWintersDampedWeights(alpha, beta, gamma, 1.0, season, window, horizons)

  /** Damped-trend Holt-Winters coefficient weight vectors (round 11;
    * Gardner & McKenzie 1985, the fpp ch. 7 "damped methods" form):
    * l_t = α(x_t−s_{t−m}) + (1−α)(l_{t−1} + φ·b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)·φ·b_{t−1}, s_t unchanged, and the
    * horizon-h forecast is l + (φ+φ²+…+φ^h)·b + s_{slot(T+h)} — the
    * trend's contribution saturates at b·φ/(1−φ) instead of growing
    * without bound, the standard fix for long-horizon overshoot on
    * load curves. Linear in the observations for FIXED φ, so the
    * driver-computed weight-vector contract (and the whole c28/c29
    * oracle/parity argument) carries over verbatim. */
  def holtWintersDampedWeights(alpha: Double, beta: Double, gamma: Double,
                               phi: Double, season: Int, window: Int,
                               horizons: Seq[Int]): (Seq[Double], Seq[Double], Seq[Seq[Double]]) = {
    require(phi > 0 && phi <= 1.0, s"damping phi $phi out of (0, 1]")
    val m = season
    val n = window
    require(m >= 2, s"season $m must be >= 2")
    require(n >= 2 * m, s"window $n must be >= 2*season ${2 * m} for the heuristic init")
    // detrended heuristic init (0-based observation indices 0..m-1):
    // b = mean_{i<m}((x_{m+i} - x_i) / m)  — two-cycle trend estimate
    // l = mean(x_0..x_{m-1}) + b·(m-1)/2   — level at END of cycle 1
    // s_j = x_j - (mean + b·(j - (m-1)/2)) — seasonal offsets DETRENDED
    // On exact trend+season data this init reproduces the series, so
    // the recursion's one-step errors start at zero (the property the
    // spec's planted-cycle case pins).
    val bc0 = Array.tabulate(n)(i =>
      if (i < m) -1.0 / (m.toDouble * m) else if (i < 2 * m) 1.0 / (m.toDouble * m) else 0.0)
    val meanC = Array.tabulate(n)(i => if (i < m) 1.0 / m else 0.0)
    var lc = Array.tabulate(n)(i => meanC(i) + (m - 1) / 2.0 * bc0(i))
    var bc = bc0
    val sc = Array.tabulate(m)(j =>
      Array.tabulate(n)(i =>
        (if (i == j) 1.0 else 0.0) - (meanC(i) + (j - (m - 1) / 2.0) * bc0(i))))
    // recursion over x_{m}..x_{n-1} (0-based); slot(t) = t mod m
    for (t <- m until n) {
      val slot = t % m
      val st = sc(slot)
      val nl = Array.tabulate(n) { i =>
        alpha * ((if (i == t) 1.0 else 0.0) - st(i)) + (1 - alpha) * (lc(i) + phi * bc(i))
      }
      val nb = Array.tabulate(n)(i => beta * (nl(i) - lc(i)) + (1 - beta) * (phi * bc(i)))
      val ns = Array.tabulate(n) { i =>
        gamma * ((if (i == t) 1.0 else 0.0) - nl(i)) + (1 - gamma) * st(i)
      }
      lc = nl; bc = nb; sc(slot) = ns
    }
    // forecast at T+h (T = n, 0-based time index n-1): seasonal slot of
    // the forecast period, carrying its most recent update; the trend
    // multiplier is the damped phi-sum (== h exactly when phi = 1)
    val fws = horizons.map { h =>
      val slot = (n + h - 1) % m
      var ps = 0.0
      var pp = 1.0
      for (_ <- 1 to h) { pp = pp * phi; ps = ps + pp }
      Array.tabulate(n)(i => lc(i) + ps * bc(i) + sc(slot)(i)).reverse.toSeq
    }
    (lc.reverse.toSeq, bc.reverse.toSeq, fws)
  }

  /** The Holt coefficient weight vectors (newest-first), exposed so
    * oracles/tests embed the exact same constants — the coefficient
    * form of the l/b recursion in [[holtForecast]]. */
  def holtWeights(alpha: Double, beta: Double, window: Int): (Seq[Double], Seq[Double]) = {
    // oldest-first coefficient recursion over basis vectors
    var lc = Array.tabulate(window)(i => if (i == 0) 1.0 else 0.0)
    var bc = Array.fill(window)(0.0)
    for (t <- 1 until window) {
      val nl = Array.tabulate(window) { i =>
        (if (i == t) alpha else 0.0) + (1 - alpha) * (lc(i) + bc(i))
      }
      val nb = Array.tabulate(window) { i =>
        beta * (nl(i) - lc(i)) + (1 - beta) * bc(i)
      }
      lc = nl; bc = nb
    }
    // the value array is newest-first
    (lc.reverse.toSeq, bc.reverse.toSeq)
  }
}
