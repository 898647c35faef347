package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cents, fracE4, micros, periodOf, psiTermMicro, roundMeanE4, seriesOrder}
import graft.Checkpoint._
import graft.timeseries.Forecast.driftWindows

/** Data-quality / validation operators.
  *
  * Re-expresses the reference's Pandera schema + custom checks
  * (data_validation.py:25-226) as single-pass distributed aggregations:
  * no per-region driver loops — every per-region check is one groupBy.
  * At 100 TB each check is one scan + one (partial-aggregated) shuffle
  * on the region key.
  */
object Quality {

  /** Schema-rule violation counts in ONE aggregation pass
    * (data_validation.py:28-70): null checks, type-domain membership,
    * non-negative values. Output: (check_name, violations). */
  def schemaViolations(df: DataFrame, tsCol: String, keyCol: String,
                       typeCol: String, valueCol: String,
                       typeDomain: Seq[String]): DataFrame = {
    val agg = df.agg(
      sum(when(col(tsCol).isNull, 1L).otherwise(0L)).as("null_period"),
      sum(when(col(keyCol).isNull, 1L).otherwise(0L)).as("null_respondent"),
      sum(when(!col(typeCol).isin(typeDomain.map(lit): _*), 1L).otherwise(0L)).as("bad_type"),
      sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("null_value"),
      sum(when(col(valueCol) < 0, 1L).otherwise(0L)).as("negative_value"))
    agg.selectExpr(
      "stack(5, 'null_period', null_period, 'null_respondent', null_respondent, " +
        "'bad_type', bad_type, 'null_value', null_value, " +
        "'negative_value', negative_value) as (check_name, violations)")
  }

  /** Rows violating the extreme-outlier rule `value < 3 * p99`
    * (data_validation.py:61-62). Exact interpolated percentile to match
    * pandas quantile(); the p99 scalar is broadcast-joined, so this is
    * scan + tiny-agg + scan at scale (approx_percentile is the drop-in
    * for 100 TB when exactness isn't contractual). */
  def extremeOutliers(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val p99 = df.agg(expr(s"percentile($valueCol, 0.99)").as("p99"))
    df.select(col(idCol), col(valueCol))
      .crossJoin(broadcast(p99))
      .filter(col(valueCol) >= col("p99") * 3)
      .select(col(idCol), col(valueCol), round(col("p99"), 4).as("p99"))
  }

  /** Per-key time-continuity gaps: consecutive deltas above
    * toleranceFactor × expected cadence (data_validation.py:110-133).
    * Timestamps are second-truncated first so the gap arithmetic is
    * exact-integer on every engine. */
  def gapDetection(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   expectedSeconds: Long, toleranceFactor: Double): DataFrame = {
    df.select(col(keyCol), periodOf(tsCol).as("period"), col(idCol))
      .withColumn("prev_period", lag(col("period"), 1).over(seriesOrder(keyCol, idCol)))
      .withColumn("gap_seconds",
        col("period").cast("long") - col("prev_period").cast("long"))
      .filter(col("gap_seconds") > expectedSeconds * toleranceFactor)
      .select(col(keyCol), col("prev_period"), col("period"), col("gap_seconds"))
  }

  /** Per-key gap summary — the warning payload shape the reference
    * reports (data_validation.py:129-131): gap COUNT plus the largest
    * gap per key, folded from [[gapDetection]]'s row-per-gap output by
    * one more partial-aggregated groupBy on the same key. */
  def gapSummary(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 expectedSeconds: Long, toleranceFactor: Double): DataFrame =
    gapDetection(df, keyCol, tsCol, idCol, expectedSeconds, toleranceFactor)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("gap_count"),
        max(col("gap_seconds")).as("max_gap_seconds"))

  /** Duplicate (key, second-truncated ts) detection
    * (data_validation.py:149-154). */
  def duplicateTimestamps(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.groupBy(col(keyCol), periodOf(tsCol).as("period"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Global value statistics (data_validation.py:156-173): count, mean,
    * std, min, max, exact median. */
  def valueStats(df: DataFrame, valueCol: String): DataFrame =
    stats(df, valueCol, round(expr(s"percentile($valueCol, 0.5)"), 4).as("median"))

  /** The five aggregates [[valueStats]] and [[valueStatsApprox]] share
    * (n, mean, std, min, max), then `quantiles`, in one pass. */
  private def stats(df: DataFrame, valueCol: String, quantiles: Column*): DataFrame =
    df.agg(count(col(valueCol)).as("n"), Seq(
      roundMeanE4(sum(cents(col(valueCol))), count(col(valueCol))).as("mean"),
      round(stddev_samp(col(valueCol)), 4).as("std"),
      round(min(col(valueCol)), 4).as("min"),
      round(max(col(valueCol)), 4).as("max")) ++ quantiles: _*)

  /** Approximate value stats — the 100 TB twin of [[valueStats]]:
    * exact `percentile` keeps every value in the aggregation buffer
    * (ObjectHashAggregate, memory ∝ distinct values), which does not
    * survive a 100 TB column. `approx_percentile` aggregates a bounded
    * mergeable sketch (map-side partials, fixed memory set by
    * `accuracy`), so the quantiles cost one streaming pass like the
    * moments do. Error bound: rank error ≤ 1/accuracy. */
  def valueStatsApprox(df: DataFrame, valueCol: String, accuracy: Int): DataFrame =
    stats(df, valueCol,
      round(expr(s"approx_percentile($valueCol, 0.5, $accuracy)"), 4).as("p50_approx"),
      round(expr(s"approx_percentile($valueCol, 0.95, $accuracy)"), 4).as("p95_approx"),
      round(expr(s"approx_percentile($valueCol, 0.99, $accuracy)"), 4).as("p99_approx"))

  /** Approximate-distinct quality counts — the 100 TB twin of the
    * exact `count_distinct` fields in [[qualityReport]] /
    * [[validationVerdict]] (the b5→b11 pattern applied to
    * cardinalities). Exact distinct aggregation materializes the full
    * key set per partition and shuffles it; `approx_count_distinct`
    * (HyperLogLog++) aggregates a fixed-size mergeable sketch map-side
    * instead, so every cardinality here costs one streaming pass at
    * any scale. `rsd` is the sketch's relative standard deviation —
    * the differential spec bounds observed error at 3·rsd. The
    * composite (key, ts) cardinality is the duplicate-timestamp
    * signal's scale form: total − distinct(key, ts) ≈ duplicated
    * rows. */
  def distinctStatsApprox(df: DataFrame, keyCol: String, tsCol: String,
                          rsd: Double): DataFrame =
    df.agg(
      count(lit(1)).as("total_records"),
      approx_count_distinct(col(keyCol), rsd).as("unique_keys_approx"),
      approx_count_distinct(col(tsCol), rsd).as("unique_timestamps_approx"),
      approx_count_distinct(struct(col(keyCol), col(tsCol)), rsd)
        .as("unique_key_ts_approx"))

  /** Per-key statistics (data_validation.py:176-185). */
  def regionStats(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("records"),
        roundMeanE4(sum(cents(col(valueCol))), count(lit(1))).as("mean"),
        round(min(col(valueCol)), 4).as("min"),
        round(max(col(valueCol)), 4).as("max"))

  /** Per-key IQR outlier detection with [Q1-3·IQR, Q3+3·IQR] bounds
    * (data_validation.py:187-226). Two-phase: per-key exact quartiles,
    * join back, count violations. The bounds side is one row per key —
    * join strategy is left to AQE: broadcast while the key count is
    * small, shuffle-on-key once millions of series make a forced
    * broadcast a driver OOM. */
  def iqrOutliers(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val bounds = df.groupBy(col(keyCol)).agg(
      expr(s"percentile($valueCol, 0.25)").as("q1"),
      expr(s"percentile($valueCol, 0.75)").as("q3"),
      count(lit(1)).as("records"))
      .withColumn("lower_bound", col("q1") - (col("q3") - col("q1")) * 3)
      .withColumn("upper_bound", col("q3") + (col("q3") - col("q1")) * 3)
    df.join(bounds, Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(
        sum(when(col(valueCol) < col("lower_bound") || col(valueCol) > col("upper_bound"), 1L)
          .otherwise(0L)).as("outlier_count"),
        round(first(col("lower_bound")), 4).as("lower_bound"),
        round(first(col("upper_bound")), 4).as("upper_bound"),
        round(sum(when(col(valueCol) < col("lower_bound") || col(valueCol) > col("upper_bound"), 1L)
          .otherwise(0L)) * 100.0 / count(lit(1)), 4).as("outlier_pct"))
  }

  /** Composite quality report (the DAG's quality-summary step,
    * airflow_dag.py generate_quality_summary): one (metric, value) row
    * per headline check.
    *
    * Single-pass shape for 100 TB: total, null-pct, duplicate-group and
    * gap counts all come from ONE per-key-windowed scan — a duplicate
    * group's first extra row is `period == lag1 && period != lag2`
    * (ties sort adjacently), and a gap is `period - lag1 > tolerance`,
    * so both fold into the same aggregation as the global counters.
    * Only the p99-outlier check needs its own scalar-agg + scan pass
    * (the [[extremeOutliers]] semantics); events is scanned 3× total
    * instead of once per metric. Semantics identical to composing
    * the single-purpose operators (same oracle). */
  def qualityReport(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    valueCol: String, expectedSeconds: Long,
                    toleranceFactor: Double): DataFrame = {
    val ow = seriesOrder(keyCol, idCol)
    // Null-safe group detection: a (key, NULL-period) group with >= 2
    // rows is a duplicate group too (duplicateTimestamps and the DuckDB
    // GROUP BY ... HAVING oracle both count it). Plain === skips it, and
    // raw lag() is ambiguous at partition starts (a missing lag row and
    // a present NULL period both read as NULL) — so periods travel
    // wrapped in a struct: a missing row lags to a NULL STRUCT while a
    // null period is a non-null struct, and struct <=> compares the
    // inner period null-safely.
    val t = df
      .select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
      .withColumn("__ps", struct(col("period")))
      .withColumn("__s1", lag(col("__ps"), 1).over(ow))
      .withColumn("__s2", lag(col("__ps"), 2).over(ow))
    val agg1 = t.agg(
      count(lit(1)).as("__total"),
      sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("__miss"),
      sum(when((col("__ps") <=> col("__s1")) &&
        !(col("__ps") <=> col("__s2")), 1L).otherwise(0L))
        .as("__dups"),
      sum(when(col("period").cast("long") - col("__s1.period").cast("long") >
        expectedSeconds * toleranceFactor, 1L).otherwise(0L)).as("__gaps"),
      // reference report summary stats (data_validation.py:157-173):
      // date range + distinct-key count, folded into the same pass
      min(col("period")).cast("long").cast("double").as("__dstart"),
      max(col("period")).cast("long").cast("double").as("__dend"),
      count_distinct(col(keyCol)).cast("double").as("__ureg"))
    val p99 = df.agg(expr(s"percentile($valueCol, 0.99)").as("__p99"))
    val outliers = df.select(col(valueCol)).crossJoin(broadcast(p99))
      .agg(sum(when(col(valueCol) >= col("__p99") * 3, 1L).otherwise(0L)).as("__out"))
    agg1.crossJoin(broadcast(outliers))
      .select(lit("total_records").as("metric"), col("__total").cast("double").as("value"),
        round(col("__miss") * lit(100.0d) / col("__total"), 4).as("__npct"),
        col("__dups").cast("double").as("__d"), col("__gaps").cast("double").as("__g"),
        coalesce(col("__out"), lit(0L)).cast("double").as("__o"),
        col("__dstart"), col("__dend"), col("__ureg"))
      .selectExpr("stack(8, 'total_records', value, 'null_value_pct', __npct, " +
        "'duplicate_timestamp_groups', __d, 'gap_count', __g, " +
        "'extreme_outlier_count', __o, 'date_range_start_epoch', __dstart, " +
        "'date_range_end_epoch', __dend, 'unique_regions', __ureg) as (metric, value)")
  }

  /** Thresholded validation verdict — the gate a pipeline actually
    * branches on (data_validation.py:140-160, config.yaml thresholds):
    * metrics become errors (missing% above `missingPctError`, any
    * duplicate-timestamp group) or warnings (extreme-outlier% above
    * `outlierPctWarn`) plus an overall `is_valid` flag. One row out;
    * three bounded scans in (shared with the b-group semantics). */
  def validationVerdict(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                        valueCol: String, missingPctError: Double,
                        outlierPctWarn: Double): DataFrame = {
    val base = df.agg(
      count(lit(1)).as("total_records"),
      sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("__miss"),
      // reference report summary block (data_validation.py:157-173):
      // period range, distinct keys, and the sorted key list. The list
      // is bounded by the key cardinality (a dimension, not the data) —
      // same contract as the reference's `sorted(df.region.unique())`.
      min(periodOf(tsCol)).as("date_range_start"),
      max(periodOf(tsCol)).as("date_range_end"),
      count_distinct(col(keyCol)).as("unique_regions"),
      array_join(transform(array_sort(collect_set(col(keyCol))),
        _.cast("string")), ",").as("regions"))
    val dups = duplicateTimestamps(df, keyCol, tsCol).agg(count(lit(1)).as("duplicate_groups"))
    val outs = extremeOutliers(df, idCol, valueCol).agg(count(lit(1)).as("__out"))
    base.crossJoin(broadcast(dups)).crossJoin(broadcast(outs))
      .withColumn("missing_value_pct",
        round(col("__miss") * lit(100.0d) / col("total_records"), 4))
      .withColumn("extreme_outlier_pct",
        round(col("__out") * lit(100.0d) / col("total_records"), 4))
      .withColumn("error_count",
        when(col("missing_value_pct") > missingPctError, 1).otherwise(0) +
          when(col("duplicate_groups") > 0, 1).otherwise(0))
      .withColumn("warning_count",
        when(col("extreme_outlier_pct") > outlierPctWarn, 1).otherwise(0))
      .select(col("total_records"), col("missing_value_pct"), col("duplicate_groups"),
        col("extreme_outlier_pct"), col("error_count"), col("warning_count"),
        (col("error_count") === 0).as("is_valid"),
        col("date_range_start"), col("date_range_end"),
        col("unique_regions"), col("regions"))
  }

  /** Missing-value percentage per column (data_validation.py:138-147). */
  def missingPct(df: DataFrame, cols: Seq[String]): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("__total"),
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__m_$c")): _*)
    // 100.0 in SQL text parses as DECIMAL; keep the arithmetic DOUBLE so the
    // output type matches the reference's float percentages.
    val stackArgs = cols.map(c =>
      s"'$c', round(__m_$c * CAST(100.0 AS DOUBLE) / __total, 4)").mkString(", ")
    agg.selectExpr(s"stack(${cols.size}, $stackArgs) as (column_name, missing_pct)")
  }

  /** Population Stability Index drift per key: the categorical companion
    * to the mean-shift check (graft.timeseries.Forecast.drift /
    * config.yaml:44-46). The reference's drift detector compares window
    * MEANS; a category mix can invert completely with the mean
    * unchanged — PSI over the category distribution is the standard
    * monitor for that (banking model-risk practice; also the
    * "distribution shift" the reference's config gestures at).
    *
    * Windows are Forecast.drift's (`Forecast.driftWindows`): reference
    * [max−(cur+ref) days, max−cur days), current [max−cur days, max];
    * the 1-row max-ts scalar broadcasts. Categories are the caller's
    * closed domain plus an `__other__` bucket (nulls and out-of-domain
    * land there), Laplace-smoothed (+1 per cell, +K per window) so
    * empty cells are defined; keys must appear in both windows.
    *
    * PSI = Σ_cat (p_cur − p_ref)·ln(p_cur/p_ref). Each term quantizes
    * to integer micro-units (floor(term·1e6) — the e34 micro-log
    * pattern) so the per-key sum is an exact integer: no float
    * summation order, and the drift flag is an exact integer compare
    * against floor-rounded threshold·1e6. Shares come from exact
    * integer counts, so both engines evaluate ln on bit-identical
    * doubles. Residual libm caveat (same as e34's micro-log pattern):
    * the INPUTS to ln are bit-identical, but ln itself is JVM Math.log
    * here vs DuckDB's libm in the oracle, and neither guarantees
    * correct rounding — a 1-ulp divergence landing exactly on a
    * micro-unit boundary would flip floor(term·1e6) by one on another
    * platform. Empirically exact on the gate host; a future ±1
    * psi_micro parity failure means platform libm skew, not a bug.
    *
    * Scale shape: the only full-data pass is the (key, category)
    * count — partial-aggregated, category fan-out bounded by K+1.
    * Everything after (totals, the dense key×category grid, the term
    * join) operates on aggregates ≤ keys·(K+1) rows; AQE broadcasts
    * them at runtime. No windows, no skew exposure (SURVEY §8 rule 1:
    * the groupBy key includes the bounded category, never a Zipfian
    * token). */
  def psiDrift(df: DataFrame, keyCol: String, tsCol: String, catCol: String,
               domain: Seq[String], referenceDays: Int, currentDays: Int,
               threshold: Double): DataFrame = {
    val cats = domain :+ "__other__"
    val k = cats.size
    val counts = driftWindows(df, tsCol, referenceDays, currentDays,
        df.select(col(keyCol), periodOf(tsCol).as("period"),
          when(col(catCol).isin(domain: _*), col(catCol))
            .otherwise("__other__").as("cat")))
      .groupBy(col(keyCol), col("cat"))
      .agg(count(when(col("bucket") === "reference", lit(1))).as("r"),
        count(when(col("bucket") === "current", lit(1))).as("c"))
      // two consumers (window totals and the term join): without a
      // materialization each branch re-runs the full corpus scan +
      // aggregate (SURVEY §8 rule 3 — ReuseExchange does not dedupe
      // them once column pruning diverges the subtrees). The table is
      // keys×(K+1) rows — checkpoint cost is nil next to a corpus scan.
      .checkpointAs("Quality.psiDrift.counts")
    val totals = counts.groupBy(col(keyCol))
      .agg(sum(col("r")).as("n_ref"), sum(col("c")).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    val grid = totals.select(col(keyCol), col("n_ref"), col("n_cur"),
      explode(array(cats.map(lit(_)): _*)).as("cat"))
    val pr = (coalesce(col("r"), lit(0L)) + 1).cast("double") / (col("n_ref") + k)
    val pc = (coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("n_cur") + k)
    val thrMicro = math.floor(threshold * 1e6).toLong
    grid.join(counts, Seq(keyCol, "cat"), "left")
      .withColumn("micro", psiTermMicro(pc, pr))
      .groupBy(col(keyCol), col("n_ref"), col("n_cur"))
      .agg(sum(col("micro")).as("psi_micro"))
      .select(col(keyCol), col("n_ref"), col("n_cur"),
        (col("psi_micro").cast("double") / 1e6).as("psi"),
        (col("psi_micro") > thrMicro).as("drifted"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test per key (round 9):
    * the NUMERIC-distribution complement to [[psiDrift]]'s categorical
    * test — did the value distribution of the current window move
    * against the reference window, at any point of the CDF? PSI over
    * hand-picked bins misses shape changes inside a bin; KS is
    * bin-free.
    *
    * Exactness: values quantize to exact integer cents (the corpus is
    * 2-decimal), so the KS supremum is decided on integers:
    * D·n_ref·n_cur = max over distinct values of
    * |cum_ref·n_cur − cum_cur·n_ref| — an EXACT integer (through
    * decimal(38,0); the products pass int64 once both windows exceed
    * ~3e9 rows). The reported `ks` is one half-up-e6 terminal
    * division. The `drifted` flag (α=0.05, c²·1e6 = 1844164, i.e.
    * c = 1.358) compares D² against c²·(n₁+n₂)·n₁·n₂ — both sides
    * evaluate the identical IEEE double product chain from identical
    * integers, so the comparison is engine-deterministic (no rounded
    * intermediate decides it).
    *
    * Scale shape: ONE corpus pass partial-aggregates (key, cents)
    * counts — the shuffle carries one row per distinct (key, cents),
    * bounded by the value grid, not the row count. The cumulative
    * window and per-key totals run over THAT bounded histogram
    * (winsorize's discipline), then collapse to one row per key. */
  def ksDrift(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
              referenceDays: Int, currentDays: Int): DataFrame = {
    // the windows anchor on max_ts over ALL rows, null values included
    val counts = driftWindows(df, tsCol, referenceDays, currentDays,
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol), periodOf(tsCol).as("period"),
            cents(col(valueCol)).cast("long").as("__v")))
      .groupBy(col(keyCol), col("__v"))
      .agg(count(when(col("bucket") === "reference", lit(1))).as("__r"),
        count(when(col("bucket") === "current", lit(1))).as("__c"))
    val dec = "decimal(38,0)"
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col(keyCol))
    val agg = counts
      .withColumn("__cr", sum(col("__r")).over(ord))
      .withColumn("__cc", sum(col("__c")).over(ord))
      .withColumn("__nr", sum(col("__r")).over(whole))
      .withColumn("__nc", sum(col("__c")).over(whole))
      .groupBy(col(keyCol))
      .agg(max(abs(col("__cr").cast(dec) * col("__nc").cast(dec)
          - col("__cc").cast(dec) * col("__nr").cast(dec))).as("__d"),
        max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    val den = col("n_ref").cast(dec) * col("n_cur").cast(dec)
    val dD = col("__d").cast("double")
    agg.select(col(keyCol), col("n_ref"), col("n_cur"),
      (graft.functions.divLong(col("__d") * 2000000 + den, den * 2)
        .cast("double") / 1000000.0).as("ks"),
      (dD * dD > (lit(1844164L).cast("double") / lit(1000000.0))
        * (col("n_ref").cast("double") + col("n_cur").cast("double"))
        * col("n_ref").cast("double") * col("n_cur").cast("double"))
        .as("drifted"))
  }

  /** A declarative expectation rule for [[expectationReport]]. Rules are
    * CONFIG (tens, not millions): the suite compiles to column
    * expressions inside one aggregation, never to per-rule jobs. */
  sealed trait Expectation { def ruleId: String; def column: String; def kind: String }
  /** Column must have no nulls. */
  case class ExpectNotNull(ruleId: String, column: String) extends Expectation {
    val kind = "not_null" }
  /** Non-null values must lie in [min, max] (either bound optional).
    * Nulls do not violate bounds — pair with [[ExpectNotNull]]. */
  case class ExpectBetween(ruleId: String, column: String,
                           min: Option[Double], max: Option[Double]) extends Expectation {
    val kind = "between" }
  /** Non-null values must be members of the set. */
  case class ExpectInSet(ruleId: String, column: String,
                         values: Seq[String]) extends Expectation {
    val kind = "in_set" }
  /** Non-null values must be unique; violations = rows in excess of
    * the distinct count (0 when unique). */
  case class ExpectUnique(ruleId: String, column: String) extends Expectation {
    val kind = "unique" }
  /** Non-null values must match the (Java) regex. */
  case class ExpectMatches(ruleId: String, column: String,
                           pattern: String) extends Expectation {
    val kind = "matches" }
  /** Conditional rule: when `column` equals `ifValue`, the nested
    * row-local rule must hold (its own ruleId/kind are display-only —
    * the report row carries THIS rule's id). `thenRule` must be
    * row-local (not [[ExpectUnique]] — a conditional distinct is a
    * different aggregate shape). Rows where the condition is false or
    * the condition column is null cannot violate. */
  case class ExpectImplies(ruleId: String, column: String, ifValue: String,
                           thenRule: Expectation) extends Expectation {
    require(!thenRule.isInstanceOf[ExpectUnique] &&
      !thenRule.isInstanceOf[ExpectImplies],
      s"$ruleId: thenRule must be a row-local check")
    val kind = s"implies_${thenRule.kind}" }

  /** Expectation-suite validation — the reference's hand-written check
    * list (data_validation.py:25-226 runs one bespoke function per
    * check) generalized to a CONFIG-DRIVEN suite any table can declare:
    * pass rules, get one report row per rule with its violation count
    * and verdict.
    *
    * Scale shape: every rule compiles to an aggregate expression in a
    * SINGLE global aggregation over ONE scan — map-side partial
    * aggregation collapses each task to one row of counters, so the
    * suite costs one pass however many rules it carries. The only
    * rule needing more than a counter is `unique` (an exact distinct);
    * Spark plans the mixed distinct/non-distinct aggregate with one
    * Expand, still a single scan. The per-rule report explosion
    * happens on the 1-row aggregate — free. */
  def expectationReport(df: DataFrame, rules: Seq[Expectation]): DataFrame =
    expectations(df, Nil, rules)

  /** Per-key twin of [[expectationReport]] — the reference's per-region
    * checks generalized: the SAME rule algebra evaluated per key, one
    * report row per (key, rule). Identical single-scan shape; the only
    * difference is that the counters partial-aggregate per key instead
    * of globally (still map-side combinable — the key is the bounded
    * entity dimension, never a Zipfian token). The per-key verdict
    * drives per-partition quarantine the way b10's global verdict
    * gates a whole land. */
  def expectationReportByKey(df: DataFrame, keyCol: String,
                             rules: Seq[Expectation]): DataFrame =
    expectations(df, Seq(keyCol), rules)

  /** The one body of both reports: the rule counters aggregate per
    * `keys` (globally when there are none — `df.agg` is
    * `groupBy().agg`), then explode to one row per (keys, rule). */
  private def expectations(df: DataFrame, keys: Seq[String],
                           rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "empty expectation suite")
    require(rules.map(_.ruleId).distinct.size == rules.size, "duplicate ruleId")
    val aggs = count(lit(1)).as("__n") +:
      rules.zipWithIndex.map { case (r, i) => ruleViolations(r).as(s"__v$i") }
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      .select(keyCols :+ ruleExplode(rules).as("r"): _*)
      .select(keyCols ++ Seq(col("r.rule_id"), col("r.col_name"), col("r.kind"),
        col("r.n_rows"), col("r.n_violations"),
        (col("r.n_violations") === 0L).as("pass")): _*)
  }

  /** The row-local violation PREDICATE (unique is the one aggregate-
    * shaped rule and is handled in [[ruleViolations]] directly). */
  private def rowViolation(r: Expectation): Column = r match {
    case ExpectNotNull(_, c) => col(c).isNull
    case ExpectBetween(_, c, mn, mx) =>
      val bad = (mn.map(col(c) < _): Iterable[Column]) ++
        mx.map(col(c) > _)
      col(c).isNotNull && bad.reduce(_ || _)
    case ExpectInSet(_, c, vs) => col(c).isNotNull && !col(c).isin(vs: _*)
    case ExpectMatches(_, c, p) => col(c).isNotNull && !col(c).rlike(p)
    case ExpectImplies(_, c, v, then_) =>
      col(c) === v && rowViolation(then_)
    case _: ExpectUnique => sys.error("unique has no row-local predicate")
  }

  private def ruleViolations(r: Expectation) = r match {
    case ExpectUnique(_, c) => count(col(c)) - countDistinct(col(c))
    case other => sum(when(rowViolation(other), 1L).otherwise(0L))
  }

  /** Explode the 1-row-per-group counter layout into per-rule rows —
    * runs on the already-aggregated (tiny) side. */
  private def ruleExplode(rules: Seq[Expectation]) =
    explode(array(rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.ruleId).as("rule_id"), lit(r.column).as("col_name"),
        lit(r.kind).as("kind"), col("__n").as("n_rows"),
        coalesce(col(s"__v$i"), lit(0L)).as("n_violations"))
    }: _*))

  /** Per-key freshness audit (round 8) — the staleness monitor every
    * scheduled-ingest pipeline needs: for each key, the last event
    * time, its lag behind the CORPUS's newest event (the deterministic
    * stand-in for wall-clock "now", so the check is reproducible and
    * oracle-able), and a stale flag at `staleSeconds`. A key whose
    * feed died shows up here before any value-level check can notice.
    * Null timestamps carry no freshness signal and drop; a null key
    * forms its own audited group.
    *
    * Scale shape: one partial-aggregated groupBy on the key plus a
    * 1-row global-max scalar broadcast (the b2/c9 crossJoin pattern) —
    * the corpus never shuffles wider than (key, ts). */
  def freshnessCheck(df: DataFrame, keyCol: String, tsCol: String,
                     staleSeconds: Long): DataFrame = {
    require(staleSeconds > 0, "staleness threshold must be positive")
    val t = df.filter(col(tsCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("__p"))
    val gmax = t.agg(max(col("__p")).as("__gmax"))
    t.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), max(col("__p")).as("last_ts"))
      .crossJoin(broadcast(gmax))
      .select(col(keyCol), col("n"), col("last_ts"),
        (col("__gmax").cast("long") - col("last_ts").cast("long")).as("lag_seconds"),
        (col("__gmax").cast("long") - col("last_ts").cast("long") > staleSeconds)
          .as("is_stale"))
  }

  /** Ingest-volume anomaly detection (round 8) — the feed-health twin
    * of [[freshnessCheck]]: b18 catches a feed that STOPPED, this
    * catches one that quietly halved (or a replay that doubled it).
    * The reference's scheduled extraction (data_extraction.py:38-122
    * under airflow_dag.py's daily cadence) has exactly this failure
    * mode: the API returns 200 with a truncated page set and the DAG
    * "succeeds" on a fraction of the usual volume.
    *
    * Per (key, day): row count `n`, then a trailing baseline over the
    * `trailing` PRECEDING observed days (current day excluded — the
    * day under test must not contaminate its own baseline): mean, std
    * and the z-score of today's count. `is_anomaly` when the baseline
    * is complete and |z| > `zThreshold` — or, for a CONSTANT baseline
    * (std = 0, common for metered feeds), when the count moved at all.
    * Days with fewer than `trailing` prior observed days report null
    * baseline columns and never flag (warm-up contract, same as c10's
    * incomplete windows).
    *
    * Cross-engine exactness: the baseline moments accumulate as exact
    * integers — per-day counts are longs, their squares decimal(38,0)
    * (a single key-day can hold billions of rows at 100 TB; squaring
    * overflows a long) — and variance is formed from the exact
    * integer identity n·Σx² − (Σx)² before ONE terminal conversion to
    * double, so Spark and the oracle divide/sqrt identical integers
    * (§6 precision rule; same shape as b17's orphan_pct).
    *
    * Scale shape: one partial-aggregated groupBy to (key, day) — the
    * shuffle carries one row per distinct key-day, never per event —
    * then a bounded ROWS window (`trailing` rows) per key ordered by
    * day. No global sort, no unbounded frame, nothing wider than
    * (key, day, count) moves. */
  def volumeAnomaly(df: DataFrame, keyCol: String, tsCol: String,
                    trailing: Int, zThreshold: Double): DataFrame = {
    require(trailing >= 2, "trailing baseline needs >= 2 days")
    val daily = df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(-trailing, -1)
    val base = daily
      .withColumn("base_n", count(col("n")).over(w))
      .withColumn("base_sum", sum(col("n")).over(w))
      .withColumn("base_sumsq",
        sum(col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")).over(w))
    // exact-integer variance pieces: num = n·Σx² − (Σx)², den = n(n−1)
    val varNum = (col("base_n").cast("decimal(38,0)") * col("base_sumsq") -
      col("base_sum").cast("decimal(38,0)") * col("base_sum").cast("decimal(38,0)"))
    val varDen = col("base_n") * (col("base_n") - 1L)
    val full = col("base_n") === trailing.toLong
    val mean = col("base_sum").cast("double") / col("base_n").cast("double")
    val std = sqrt(varNum.cast("double") / varDen.cast("double"))
    // half-up-e4 via the exact-integer b6/b17 formula, not
    // round(double, 4): integer-count ratios land on x.00005
    // boundaries where Spark and DuckDB round() disagree (the c26
    // sf1 lesson; flags/z keep the unrounded mean)
    val meanE4 = fracE4(col("base_sum"), col("base_n"))
    base
      .withColumn("base_mean", when(full, meanE4))
      .withColumn("base_std", when(full, round(std, 4)))
      .withColumn("z", when(full && std > 0.0,
        round((col("n").cast("double") - mean) / std, 4)))
      .withColumn("is_anomaly", when(!full, lit(false))
        .otherwise(when(std > 0.0, abs((col("n").cast("double") - mean) / std) > zThreshold)
          .otherwise(col("n") * trailing.toLong =!= col("base_sum"))))
      .select(col(keyCol), col("day"), col("n"),
        when(full, col("base_n")).as("base_n"),
        col("base_mean"), col("base_std"), col("z"), col("is_anomaly"))
  }

  /** Leading-digit profile per key (round 8) — the Benford-family
    * fabrication/fault screen: per key, the chi-square distance of the
    * value column's leading significant digits from the uniform
    * 1..9 reference, flagged at the 95% cut for 8 degrees of freedom
    * (15.507). A meter that suddenly emits hand-typed or clipped
    * values shows up here while its mean and volume still look normal
    * — the check b2/b7's magnitude-based outliers cannot see.
    *
    * Cross-engine exactness: the leading digit comes from the exact
    * integer micro-unit (first character of floor(|v|·1e6) rendered as
    * an integer string — identical in both engines, no float
    * formatting), zero micro-values carry no significant digit and are
    * excluded, and the chi-square collapses algebraically to
    * (9·Σc² − n²)/n — missing digits contribute nothing to Σc², so the
    * whole statistic derives from the present-digit counts in EXACT
    * integers (decimal(38,0); squares of per-key counts overflow a
    * long at 100 TB) with one half-up-e4 terminal division. The flag
    * compares the exact integer numerator against 15.507·n (χ² = s2/n
    * with s2 = 9·Σc² − n², so s2 > cut·n ⇔ χ² > cut) — no rounded
    * value decides it.
    *
    * Scale shape: one partial-aggregated groupBy to (key, digit) — at
    * most 9 rows per key cross the shuffle — then a per-key rollup of
    * the 9-row groups. No windows, no joins. */
  def leadingDigitProfile(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val micro = micros(abs(col(valueCol)))
    val g = df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        micro > 0L)
      .groupBy(col(keyCol),
        substring(micro.cast("string"), 1, 1).cast("int").as("__d"))
      .agg(count(lit(1)).as("__c"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = g.groupBy(col(keyCol)).agg(
      sum(col("__c")).as("n"),
      sum(dec(col("__c")) * dec(col("__c"))).as("__sq"))
    val s2 = dec(lit(9)) * col("__sq") - dec(col("n")) * dec(col("n"))
    m.select(col(keyCol), col("n"),
      (floor((s2 * 20000 + dec(col("n"))).cast("double") /
        (col("n") * 2).cast("double")) / 10000.0).as("chi2_uniform"),
      (s2.cast("double") > lit(15.507) * col("n").cast("double"))
        .as("is_nonuniform"))
  }

  /** One foreign-key relation for [[referentialIntegrity]]: `child`
    * rows reference `parent` rows through `childKey` → `parentKey`. */
  final case class FkRelation(name: String, child: DataFrame, childKey: String,
                              parent: DataFrame, parentKey: String)

  /** Referential-integrity audit (round 8) — the cross-TABLE twin of
    * the per-table expectation suites (b15/b16): for each declared FK
    * relation, count child rows whose key names no parent (orphans),
    * child rows with a NULL key (no reference at all), and parent keys
    * no child row names (childless — expected for e.g. customers
    * without orders, load-bearing when a fact table SHOULD cover every
    * dimension row). One row per relation:
    * (relation, n_child, n_null_fk, n_orphan, n_parent, n_childless,
    * orphan_pct). `n_child` counts non-null-key child rows; the orphan
    * percentage is over those, half-up-e4 in exact integer arithmetic.
    *
    * Scale shape, per relation: the child side partial-aggregates to
    * (key, count) — key granularity, so the shuffle carries one row
    * per DISTINCT key, not per fact row — the parent side projects to
    * its distinct key, and ONE full-outer join on the key (AQE
    * broadcasts the dimension side when it fits) feeds a single-row
    * aggregate. Nothing wider than a key ever moves; relations are
    * independent single-row plans unioned at the end, so Spark runs
    * them as parallel jobs of one query. */
  def referentialIntegrity(relations: Seq[FkRelation]): DataFrame = {
    require(relations.nonEmpty, "at least one relation")
    relations.map { r =>
      val ck = r.child.groupBy(col(r.childKey).as("__k"))
        .agg(count(lit(1)).as("__cn"))
      val pk = r.parent.select(col(r.parentKey).as("__k"))
        .distinct().withColumn("__p", lit(1))
      val orphanRows = sum(when(col("__k").isNotNull && col("__p").isNull,
        col("__cn")).otherwise(lit(0L)))
      val childRows = sum(when(col("__k").isNotNull, col("__cn")).otherwise(lit(0L)))
      ck.join(pk, Seq("__k"), "full_outer")
        .agg(
          coalesce(childRows, lit(0L)).as("n_child"),
          coalesce(sum(when(col("__k").isNull, col("__cn")).otherwise(lit(0L))),
            lit(0L)).as("n_null_fk"),
          coalesce(orphanRows, lit(0L)).as("n_orphan"),
          count(when(col("__p").isNotNull, lit(1))).as("n_parent"),
          count(when(col("__p").isNotNull && col("__cn").isNull, lit(1)))
            .as("n_childless"),
          when(coalesce(childRows, lit(0L)) === 0L, lit(0.0))
            .otherwise(fracE4(coalesce(orphanRows, lit(0L)), childRows)).as("orphan_pct"))
        .select(lit(r.name).as("relation"), col("*"))
    }.reduce(_.unionByName(_))
  }
}
