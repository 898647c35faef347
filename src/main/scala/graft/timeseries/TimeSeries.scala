package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cents, halfUpDiv, micros, periodOf, roundMeanE4, seriesOrder,
  VectorExpressions}

/** Time-series preparation operators.
  *
  * Re-expresses the reference's per-region series prep
  * (model.py:187-226, kubeflow_pipeline.py:106-140): ordering, scaling,
  * ordered train/val/test split, and the sliding-window sample
  * generator re-cast as lag features. Everything partitions by the
  * series key — at 100 TB the workload is millions of independent
  * series, so per-key windows shuffle once and never need a global sort.
  */
object TimeSeries {

  /** Resample to fixed buckets (date_trunc) with per-bucket aggregates —
    * the hourly-feed normalization step. The per-bucket sum stays a
    * plain double: a (key, bucket) group is bounded by one series' feed
    * rate, never by corpus size (corpora add KEYS), so the addend count
    * keeps the sum in double-exact territory — unlike corpus-wide
    * groups (d1, f2/f4), which use exact integer cents. */
  def resample(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
               unit: String): DataFrame =
    df.groupBy(col(keyCol), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        roundMeanE4(sum(cents(col(valueCol))), count(lit(1))).as("avg_value"),
        round(sum(col(valueCol)), 4).as("sum_value"))

  /** Per-key MinMax scaling (kubeflow_pipeline.py:108-109 MinMaxScaler),
    * distributed via window min/max — one shuffle on the key. */
  def scaleMinMax(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                  valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    val mn = min(col(valueCol)).over(w)
    val mx = max(col(valueCol)).over(w)
    df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol),
      minMaxScaled(col(valueCol), mn, mx).as("value_scaled"))
  }

  /** The MinMax formula of [[scaleMinMax]] and [[applyScaler]]: 0 for
    * a constant series, 6 decimals. */
  private def minMaxScaled(v: Column, mn: Column, mx: Column): Column =
    round(when(mx === mn, 0.0).otherwise((v - mn) / (mx - mn)), 6)

  /** The z-score formula of [[scaleStandard]] and [[applyScaler]]: 0 for
    * a constant series, 4 decimals. */
  private def standardScaled(v: Column, mu: Column, sd: Column): Column =
    round(when(sd === 0.0, 0.0).otherwise((v - mu) / sd), 4)

  /** Per-key z-score standardization (model.py:182 StandardScaler).
    * Population std (ddof=0) to match sklearn's StandardScaler. */
  def scaleStandard(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    valueCol: String): DataFrame = {
    // Moments are accumulated over exact integer cents (inputs carry two
    // decimals) so the result is bit-identical regardless of partial-
    // aggregation order — float summation order otherwise shifts the
    // last ulp and flips rounding. z-scores are scale-invariant, so
    // cents-space standardization equals value-space.
    val w = Window.partitionBy(col(keyCol))
    val c = cents(col(valueCol))
    val n = count(lit(1)).over(w).cast("double")
    val s = sum(c).over(w)
    val ss = sum(c * c).over(w)
    val mu = s / n
    val sd = sqrt(greatest((ss - s * s / n) / n, lit(0.0)))
    df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol),
      standardScaled(c, mu, sd).as("value_scaled"))
  }

  /** Per-key scaler parameters as a reusable table — the distributed
    * re-expression of the reference persisting fitted scalers
    * (kubeflow_pipeline.py saves MinMax/Standard scalers for inference):
    * training computes this once; serving joins against it to apply the
    * identical transform. Mean uses exact-integer cents (roundMeanE4);
    * std is population (ddof=0) to match StandardScaler. */
  def scalerParams(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    df.select(col(keyCol), col(valueCol), cents(col(valueCol)).as("__c"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        round(min(col(valueCol)), 4).as("min"),
        round(max(col(valueCol)), 4).as("max"),
        roundMeanE4(sum(col("__c")), count(lit(1))).as("mean"),
        round(
          sqrt(greatest(
            (sum(col("__c") * col("__c")) - sum(col("__c")) * sum(col("__c")) / count(lit(1)))
              / count(lit(1)), lit(0.0))) / 100.0, 4).as("std"))
  }

  /** Apply PERSISTED scaler parameters to a feed — the serving-path
    * twin of [[scaleMinMax]]/[[scaleStandard]]: training computes
    * [[scalerParams]] once; inference joins the (tiny, AQE-broadcast)
    * params table back and applies the identical transform
    * (model.py:197 `scaler.fit_transform` at train vs
    * kubeflow_pipeline.py:108-109 `scaler.transform` at serve). Uses
    * the persisted (4-decimal-rounded) params, exactly like a scaler
    * deserialized from disk. `method`: "minmax" | "standard". Rows
    * whose key has no params row are dropped (inner join — an unseen
    * series has no fitted scaler). */
  def applyScaler(df: DataFrame, params: DataFrame, keyCol: String, tsCol: String,
                  idCol: String, valueCol: String, method: String): DataFrame = {
    val p = scalerCols(params, keyCol)
    val scaled = method match {
      case "minmax" => minMaxScaled(col(valueCol), col("__mn"), col("__mx"))
      case "standard" => standardScaled(col(valueCol), col("__mu"), col("__sd"))
      case other => throw new IllegalArgumentException(s"unknown scaler method $other")
    }
    df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol))
      .join(p, Seq(keyCol))
      .select(col(idCol), col(keyCol), col("period"), col(valueCol),
        scaled.as("value_scaled"))
  }

  /** Inverse-transform a scaled column back to original units via the
    * persisted params table (model.py:331-335 `scaler
    * .inverse_transform` — the reference inverse-transforms every
    * prediction it serves). Adds `value_restored`; all input columns
    * pass through.
    *
    * The restore arithmetic runs on EXACT DECIMAL INTEGERS: the scaled
    * value is a 6- (minmax) or 4- (standard) decimal and the params are
    * 4-decimal, so s·span + offset is an exact integer in 1e-10 (resp.
    * 1e-8) units, and the final half-up round to 4 decimals happens in
    * integer arithmetic. Evaluating the same formula in binary doubles
    * is engine-dependent exactly at ...5 rounding boundaries (a double
    * a hair under the boundary rounds down in engines that round the
    * binary value, up in engines that round the shortest decimal
    * representation) — a real sf1-scale mismatch this rewrite removes. */
  def inverseScaler(df: DataFrame, params: DataFrame, keyCol: String,
                    scaledCol: String, method: String): DataFrame = {
    val p = scalerCols(params, keyCol)
    // the restored value in 1e-4 units: the exact integer in 1e-10
    // (minmax) or 1e-8 (standard) units, half-up divided down
    val restoredE4 = method match {
      case "minmax" =>
        val s6 = round(col(scaledCol) * 1e6, 0).cast("long")
        val d4 = round((col("__mx") - col("__mn")) * 1e4, 0).cast("long")
        val m4 = round(col("__mn") * 1e4, 0).cast("long")
        halfUpDiv(s6 * d4 + m4 * lit(1000000L), lit(1000000L))
      case "standard" =>
        val s4 = round(col(scaledCol) * 1e4, 0).cast("long")
        val sd4 = round(col("__sd") * 1e4, 0).cast("long")
        val mu4 = round(col("__mu") * 1e4, 0).cast("long")
        halfUpDiv(s4 * sd4 + mu4 * lit(10000L), lit(10000L))
      case other => throw new IllegalArgumentException(s"unknown scaler method $other")
    }
    df.join(p, Seq(keyCol))
      .withColumn("value_restored", restoredE4 / 10000.0)
      .drop("__mn", "__mx", "__mu", "__sd")
  }

  private def scalerCols(params: DataFrame, keyCol: String): DataFrame =
    params.select(col(keyCol), col("min").as("__mn"), col("max").as("__mx"),
      col("mean").as("__mu"), col("std").as("__sd"))

  /** Ordered train/val/test split labels per key
    * (kubeflow_pipeline.py:127-132: 0.7/0.15/0.15 by time order). */
  def trainValTestSplit(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                        trainFrac: Double, valFrac: Double): DataFrame =
    splitLabels(df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period")),
      keyCol, idCol, trainFrac, valFrac)
      .drop("__rn", "__n")

  /** Adds the per-key time rank `__rn` (by `period`, then `idCol`), the
    * key's row count `__n` and the ordered `split` label: the first
    * floor(n·trainFrac) rows are "train", the next floor(n·valFrac)
    * "val", the rest "test". */
  private[graft] def splitLabels(df: DataFrame, keyCol: String, idCol: String,
                                 trainFrac: Double, valFrac: Double): DataFrame = {
    // Split boundaries in EXACT decimal arithmetic: floor(n * 0.7) in
    // doubles misplaces the boundary whenever n*frac is integral
    // (210 * 0.7 = 146.999... -> 146), so the boundary row's label would
    // depend on the engine's float handling. Decimal literals make
    // n * frac exact in Spark, matching SQL DECIMAL semantics.
    val trainBd = lit(java.math.BigDecimal.valueOf(trainFrac))
    val valBd = lit(java.math.BigDecimal.valueOf(valFrac))
    df.withColumn("__rn", row_number().over(seriesOrder(keyCol, idCol)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("split",
        when(col("__rn") <= floor(col("__n") * trainBd), "train")
          .when(col("__rn") <= floor(col("__n") * trainBd) + floor(col("__n") * valBd), "val")
          .otherwise("test"))
  }

  /** Supervised lag features — the TimeSeriesDataset sliding window
    * (model.py:19-41, seq_len=168 → horizon=24) re-expressed as lag
    * columns + rolling context, the layout a distributed trainer
    * actually consumes. */
  def lagFeatures(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                  valueCol: String, lags: Seq[Int], rollN: Int): DataFrame = {
    val base = df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol))
    val w = seriesOrder(keyCol, idCol)
    val withLags = lags.foldLeft(base) { (d, l) =>
      d.withColumn(s"lag_$l", lag(col(valueCol), l).over(w))
    }
    // rolling mean from exact integer cents: order-independent, so the
    // rounded result is reproducible across engines and partitionings
    val wr = w.rowsBetween(-(rollN - 1), 0)
    withLags.withColumn(s"roll_mean_$rollN",
      roundMeanE4(sum(cents(col(valueCol))).over(wr), count(lit(1)).over(wr)))
  }

  /** Contiguous (input, target) window samples — the hand-off format a
    * distributed trainer consumes (model.py:19-41 TimeSeriesDataset:
    * seq_len input array + horizon target array per sample). Per key,
    * each anchor row at stride `stride` emits the previous `seqLen`
    * values and the next `horizon` values as arrays; partial windows at
    * series boundaries are dropped (exactly the dataset's __len__).
    * One per-key window pass — row-frame collect_list keeps state
    * bounded at seqLen+horizon values per in-flight row, and samples
    * stay co-located with their series partition for the trainer.
    * Null values would shrink a frame below its nominal size and drop
    * that sample (callers should impute first — model.py assumes a
    * cleaned series too). */
  def windowSamples(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    valueCol: String, seqLen: Int, horizon: Int, stride: Int): DataFrame = {
    val ow = seriesOrder(keyCol, idCol)
    df.select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
      .withColumn("__rn", row_number().over(ow))
      .withColumn("input_seq", collect_list(col(valueCol)).over(ow.rowsBetween(-(seqLen - 1), 0)))
      .withColumn("target_seq", collect_list(col(valueCol)).over(ow.rowsBetween(1, horizon)))
      .filter(size(col("input_seq")) === seqLen && size(col("target_seq")) === horizon &&
        (col("__rn") - seqLen) % stride === 0)
      .select(col(keyCol), col("period").as("anchor_period"),
        col("input_seq"), col("target_seq"))
  }

  /** [[windowSamples]] in exploded (long) layout: one row per sample
    * element — (key, anchor_period, seq ∈ {input, target}, pos, value)
    * — the hand-off shape for sinks that cannot carry nested arrays
    * (CSV/JDBC exports, cross-engine verification). One extra narrow
    * explode over the sample table; each sample contributes
    * seqLen+horizon rows. The window pass runs once: both arrays are
    * tagged and concatenated BEFORE the single explode. */
  def windowSamplesFlat(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                        valueCol: String, seqLen: Int, horizon: Int, stride: Int): DataFrame = {
    val ws = windowSamples(df, keyCol, tsCol, idCol, valueCol, seqLen, horizon, stride)
    ws.select(col(keyCol), col("anchor_period"),
        explode(concat(
          transform(col("input_seq"),
            (v, i) => struct(lit("input").as("seq"), i.as("pos"), v.as("value"))),
          transform(col("target_seq"),
            (v, i) => struct(lit("target").as("seq"), i.as("pos"), v.as("value"))))).as("e"))
      .select(col(keyCol), col("anchor_period"),
        col("e.seq").as("seq"), col("e.pos").as("pos"), col("e.value").as("value"))
  }

  /** Exponentially-weighted moving average over the last `lookback`
    * rows per key (adjusted weights: newest row gets weight 1, the row
    * j steps back gets (1-alpha)^j, normalized by the weights present
    * — pandas ewm(adjust=True) truncated to a bounded window, so
    * per-row state is `lookback` values, never the whole series).
    * Null values are dropped up front so weights always align with
    * present rows. The weight vector is a DRIVER-computed literal
    * (repeated multiplication, no libm pow), so an oracle engine using
    * the same constants reproduces the result; callers can obtain it
    * from [[emaWeights]]. */
  def emaSmooth(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                valueCol: String, alpha: Double, lookback: Int): DataFrame = {
    val weights = emaWeights(alpha, lookback)
    // den for an s-element window = sum of the first s weights
    val prefix = weights.scanLeft(0.0)(_ + _).tail
    val ow = seriesOrder(keyCol, idCol)
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
      .withColumn("__arr",
        reverse(collect_list(col(valueCol)).over(ow.rowsBetween(-(lookback - 1), 0))))
      // native codegen'd dot (the zip_with/aggregate HOF chain it
      // replaces is CodegenFallback: interpreted, boxed). ArrayDot
      // truncates to the shorter input, so dotting the s-element window
      // against the full lookback-length weight literal multiplies
      // exactly the first s weights — same left-to-right sum order as
      // the old fold, so results are bit-identical.
      .withColumn("ema", round(
        VectorExpressions.arrayDot(col("__arr"), typedLit(weights)) /
          element_at(typedLit(prefix), size(col("__arr"))), 4))
      .drop("__arr")
  }

  /** The EMA weight vector (newest-first), exposed so oracles/tests can
    * embed the exact same constants. */
  def emaWeights(alpha: Double, lookback: Int): Seq[Double] =
    Seq.iterate(1.0, lookback)(_ * (1 - alpha))

  /** Rolling mean/std over the previous n rows per key. */
  def rollingStats(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   valueCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(periodOf(tsCol), col(idCol))
      .rowsBetween(-(n - 1), 0)
    // exact-integer-cents moments (see scaleStandard) for reproducible
    // rounding of mean/std across engines and aggregation orders
    val c = cents(col(valueCol))
    val cnt = count(lit(1)).over(w).cast("double")
    val s = sum(c).over(w)
    val ss = sum(c * c).over(w)
    val variance = greatest((ss - s * s / cnt) / (cnt - 1), lit(0.0))
    df.select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol),
      roundMeanE4(s, cnt).as("roll_mean"),
      round(when(cnt === 1.0, lit(null).cast("double"))
        .otherwise(sqrt(variance) / 100.0), 4).as("roll_std"))
  }

  /** Per-key winsorization at EXACT quantiles (round 8) — the robust
    * outlier-taming transform (clip, don't drop — b2/b7 only REPORT
    * outliers): each value is clamped into its key's
    * [loNum/loDen, hiNum/hiDen] quantile interval. Quantile semantics
    * are lower-bound on the integer micro-unit grid: a row clips iff
    * its ⌊value·10⁶⌋ falls strictly outside the thresholds, and the
    * clipped value is the threshold micro-unit itself (so the output
    * grid is engine-exact; sub-micro detail inside a boundary bucket
    * is deliberately kept).
    *
    * Same histogram discipline as e46 (Sampling.quantileTopFilter) —
    * the quantile never ranks the corpus: per-(key, micro-value)
    * counts partial-aggregate into a tiny histogram, ONE ascending
    * cumulative window over THAT yields both thresholds per key
    * (smallest value whose cumulative count reaches ⌈n·num/den⌉, pure
    * integer arithmetic), and the K-row threshold table broadcasts
    * back as a narrow clamp — two corpus scans, zero corpus shuffles.
    * Null values pass through unclipped (they carry no magnitude);
    * rows whose key has no threshold row (all-null series) likewise
    * pass through. */
  def winsorize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                valueCol: String, loNum: Long, loDen: Long,
                hiNum: Long, hiDen: Long): DataFrame = {
    require(loNum >= 0 && loDen > 0 && hiNum > 0 && hiDen > 0 &&
      loNum * hiDen <= hiNum * loDen, "quantile bounds must be ordered fractions")
    val vu = micros(col(valueCol))
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol), vu.as("__vu"))
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy(col(keyCol)).orderBy(col("__vu").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(keyCol))))
      .groupBy(col(keyCol))
      .agg(
        min(when(col("__cum") >= expr(s"(__n * $loNum + $loDen - 1) div $loDen"),
          col("__vu"))).as("__lo"),
        min(when(col("__cum") >= expr(s"(__n * $hiNum + $hiDen - 1) div $hiDen"),
          col("__vu"))).as("__hi"))
    df.join(broadcast(thr), Seq(keyCol), "left")
      .select(col(idCol), col(keyCol), periodOf(tsCol).as("period"), col(valueCol),
        when(vu < col("__lo"), col("__lo") / 1e6)
          .when(vu > col("__hi"), col("__hi") / 1e6)
          .otherwise(col(valueCol)).as("value_winsorized"))
  }

  /** Single change-point detection per key (round 8): the split point
    * that maximizes the mean shift between the segment before and
    * after it — the binary-segmentation primitive behind level-shift
    * alarms (c9 compares two FIXED windows; this finds WHERE the level
    * moved). The reference's drift config (config.yaml:44-46)
    * re-trains on drift; locating the shift tells it how much history
    * to drop.
    *
    * Exhaustive exact scan: for every admissible split index i
    * (`minSeg` ≤ i ≤ n−`minSeg`, both segments at least `minSeg`
    * rows), the candidate score is |mean(v₁..vᵢ) − mean(vᵢ₊₁..vₙ)|;
    * the emitted row per key is the argmax, earliest index on ties.
    * Values enter as exact micro-units (floor(v·1e6), the e34/b14
    * pattern) accumulated in decimal(38,0), so every candidate's means
    * derive from identical integers in both engines and the argmax
    * ordering cannot drift cross-engine. Keys shorter than 2·minSeg
    * emit nothing (no admissible split); null key/ts/value rows are
    * excluded.
    *
    * Scale shape: ONE shuffle on the key, one sort per partition —
    * the running prefix sum, the per-key totals, and the argmax rank
    * all ride the same (key, ts, id) sort order, so Spark plans one
    * Exchange + one Sort feeding three Window passes. The candidate
    * scan is O(n) per key on top of the sort, never a per-split
    * re-aggregation. */
  def changePoint(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                  valueCol: String, minSeg: Int): DataFrame = {
    require(minSeg >= 1, "minSeg must be at least 1")
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("__ts"), col(idCol),
        micros(col(valueCol)).cast("decimal(38,0)").as("__v"))
    val order = Window.partitionBy(col(keyCol)).orderBy(col("__ts"), col(idCol))
    val whole = Window.partitionBy(col(keyCol))
    val c = base
      .withColumn("__idx", row_number().over(order))
      .withColumn("__s", sum(col("__v")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__t", sum(col("__v")).over(whole))
      .withColumn("__n", count(lit(1)).over(whole))
      .filter(col("__idx") >= minSeg && col("__idx") <= col("__n") - minSeg)
      .withColumn("__left", col("__s").cast("double") / col("__idx").cast("double"))
      .withColumn("__right", (col("__t") - col("__s")).cast("double") /
        (col("__n") - col("__idx")).cast("double"))
      .withColumn("__diff", abs(col("__left") - col("__right")))
    // Output means half-up-e4 via the exact-integer formula (b6/b17
    // pattern), NOT round(double, 4): integer micro-sum ratios land
    // exactly on x.00005 boundaries where Spark's BigDecimal HALF_UP
    // and DuckDB's double round() disagree (caught live at sf1).
    // Both engines floor the same double quotient of identical
    // integers. `shift` is the difference of the two rounded means —
    // exact multiples of 1e-4 subtract identically in both engines.
    def e4(num: Column, den: Column): Column =
      floor(num.cast("double") / den.cast("double")) / 10000.0
    val meanBefore = e4(col("__s") * 2 + col("__idx") * 100, col("__idx") * 200)
    val meanAfter = e4((col("__t") - col("__s")) * 2 + (col("__n") - col("__idx")) * 100,
      (col("__n") - col("__idx")) * 200)
    c.withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__diff").desc, col("__idx"))))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__n").as("n"),
        col("__idx").cast("long").as("split_idx"), col("__ts").as("split_ts"),
        meanBefore.as("mean_before"),
        meanAfter.as("mean_after"),
        (meanAfter - meanBefore).as("shift"))
  }

  /** Per-key lag-L autocorrelation (round 8) — the seasonality-strength
    * score: Pearson r between the series and itself `lagN` steps back
    * (lag 24 on hourly data = "how daily-cyclic is this key").
    * Quantifies the assumption the seasonal forecasters (c6/c21) and
    * the lag features (c5/c11) take as given, so a pipeline can route
    * keys to seasonal vs trend models by measured cyclicity.
    *
    * Cross-engine exactness: all five moments (Σx, Σy, Σxy, Σx², Σy²)
    * accumulate micro-unit integers in decimal(38,0) (DuckDB mirrors
    * in HUGEINT), and Pearson's numerator/denominator pieces
    * n·Σxy−ΣxΣy etc. stay exact integers until ONE terminal double
    * conversion; only sqrt and the final divide run in floating point
    * (identical inputs ⇒ identical doubles; round(·,4) is safe on
    * sqrt-derived values — the §6 rule). Magnitude budget: micro
    * values ≤1e9 ⇒ the integer pieces stay under 1e38 up to ~1e9 rows
    * PER KEY; beyond that a deployment centers values first or
    * samples — documented boundedness, same style as d13's calendar
    * bound. Degenerate series (either side constant → zero variance)
    * emit a null acf, not a division blow-up; keys with ≤ lagN rows
    * emit nothing.
    *
    * Scale shape: one shuffle on the key, one per-partition sort
    * shared by the lag window, then ONE partial-aggregated groupBy —
    * the five moments combine map-side, so nothing wider than the
    * moment vector moves after the lag pass. */
  def autocorrelation(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                      valueCol: String, lagN: Int): DataFrame = {
    require(lagN >= 1, "lag must be at least 1")
    val order = Window.partitionBy(col(keyCol))
      .orderBy(periodOf(tsCol), col(idCol))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(idCol), micros(col(valueCol)).as("__x"))
      .withColumn("__y", lag(col("__x"), lagN).over(order))
      .filter(col("__y").isNotNull)
    val m = base.groupBy(col(keyCol)).agg(
      count(lit(1)).as("__n"),
      sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
      sum(dec(col("__y")) * dec(col("__y"))).as("__syy"))
    val vx = dec(col("__n")) * col("__sxx") - col("__sx") * col("__sx")
    val vy = dec(col("__n")) * col("__syy") - col("__sy") * col("__sy")
    val cov = dec(col("__n")) * col("__sxy") - col("__sx") * col("__sy")
    m.select(col(keyCol), col("__n").as("n_pairs"),
      when(vx > 0 && vy > 0,
        round(cov.cast("double") / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 4))
        .as("acf"))
  }
}
