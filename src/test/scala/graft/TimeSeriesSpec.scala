package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.timeseries.{Decompose, Forecast, TimeSeries}

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  /** 100-point hourly series per key with a strict linear trend. */
  lazy val series = {
    val rows = for {
      key <- Seq("A", "B")
      i <- 0 until 100
    } yield (key.hashCode.toLong * 1000 + i,
      Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
      key, 100.0 + i * 2.0)
    rows.toDF("event_id", "ts", "key", "value")
  }

  test("scaleMinMax maps extremes to [0,1]") {
    val out = TimeSeries.scaleMinMax(series, "key", "ts", "event_id", "value")
    val scaled = out.select("value_scaled").as[Double].collect()
    assert(scaled.min == 0.0 && scaled.max == 1.0)
    assert(scaled.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("scaleStandard produces ~zero-mean unit-variance per key") {
    val out = TimeSeries.scaleStandard(series, "key", "ts", "event_id", "value")
    val byKey = out.groupBy("key").agg(avg("value_scaled").as("m"), stddev_pop("value_scaled").as("s"))
      .collect()
    byKey.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-3)
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-3)
    }
  }

  test("trainValTestSplit honors 70/15/15 in time order") {
    val out = TimeSeries.trainValTestSplit(series, "key", "ts", "event_id", 0.7, 0.15)
    val counts = out.filter(col("key") === "A").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") == 70 && counts("val") == 15 && counts("test") == 15)
    // ordering: every train row precedes every test row
    val maxTrain = out.filter(col("key") === "A" && col("split") === "train")
      .agg(max("period")).head().getTimestamp(0)
    val minTest = out.filter(col("key") === "A" && col("split") === "test")
      .agg(min("period")).head().getTimestamp(0)
    assert(maxTrain.before(minTest))
  }

  test("lagFeatures produces correct lags on a linear series") {
    val out = TimeSeries.lagFeatures(series, "key", "ts", "event_id", "value", Seq(1, 24), 24)
    val row50 = out.filter(col("key") === "A" && col("value") === 100.0 + 50 * 2.0).head()
    assert(row50.getAs[Double]("lag_1") == 100.0 + 49 * 2.0)
    assert(row50.getAs[Double]("lag_24") == 100.0 + 26 * 2.0)
  }

  test("seasonalNaive prediction equals the value one season back") {
    val out = Forecast.seasonalNaive(series, "key", "ts", "event_id", "value", 24)
    assert(out.count() == 2 * (100 - 24))
    val bad = out.filter(col("prediction") =!= col("value") - 48.0).count()
    assert(bad == 0) // linear series: lag24 = value - 24*2
  }

  test("metrics are zero for a perfect forecast") {
    val perfect = series.withColumn("prediction", col("value"))
    val m = Forecast.metrics(perfect, "key", "value", "prediction").head()
    assert(m.getAs[Double]("rmse") == 0.0 && m.getAs[Double]("mape") == 0.0)
  }

  test("linearTrend recovers an exact linear slope") {
    val out = Forecast.linearTrend(series, "key", "ts", "value", 3600L)
    out.collect().foreach { r =>
      // slope = 2 per hour = 48 per day
      assert(math.abs(r.getAs[Double]("slope_per_day") - 48.0) < 1e-6)
    }
  }

  test("scalerParams round-trips the scaling transforms") {
    val ev = Tables.events(spark, sf)
    val params = graft.timeseries.TimeSeries.scalerParams(ev, "user_id", "value")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // applying (v - min)/(max - min) with the stored params reproduces scaleMinMax
    val joined = graft.timeseries.TimeSeries.scaleMinMax(ev, "user_id", "ts", "event_id", "value")
      .collect().take(200)
    joined.foreach { r =>
      val (mn, mx) = params(r.getAs[Long]("user_id"))
      val expect = if (mx == mn) 0.0
        else BigDecimal((r.getAs[Double]("value") - mn) / (mx - mn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("value_scaled") - expect) < 1e-6)
    }
  }

  test("ridgeLagForecast on AR(1)-exact series recovers lag weight") {
    // value(t) = value(t-1) + 2 exactly -> ridge with tiny lambda should
    // put weight ~1 on lag1 (plus intercept ~2 within regularization slack)
    val out = Forecast.ridgeLagForecast(series, "key", "ts", "event_id", "value", 24, 1e-6)
    out.collect().foreach { r =>
      val pred = r.getAs[Double]("intercept") +
        r.getAs[Double]("coef_lag1") * 200.0 + r.getAs[Double]("coef_lag_season") * 154.0
      // prediction for value=202 given lag1=200, lag24=154 should be close
      assert(math.abs(pred - 202.0) < 1.0)
    }
  }

  test("applyCoefficients round-trips through a persisted artifact and matches the fit") {
    // train -> persist to parquet -> reload -> apply must equal applying
    // the in-memory coefficient table (the model.py save/load contract),
    // and on the AR(1)-exact series the predictions track the truth
    val coefs = Forecast.ridgeLagForecast(series, "key", "ts", "event_id", "value", 24, 1e-6)
    val dir = java.nio.file.Files.createTempDirectory("graft-coeffs").toString
    coefs.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val applied = Forecast.applyCoefficients(series, reloaded, "key", "ts", "event_id", "value", 24)
    val inline = Forecast.applyCoefficients(series, coefs, "key", "ts", "event_id", "value", 24)
    assert(applied.exceptAll(inline).isEmpty && inline.exceptAll(applied).isEmpty)
    // series is value(t) = value(t-1) + 2 exactly: predictions within
    // regularization slack of the actuals, for every row and both keys
    assert(applied.count() == 2 * (100 - 24))
    applied.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("prediction") - r.getAs[Double]("value")) < 1.0)
    }
  }

  test("applyCoefficients emits no predictions for keys absent from the model") {
    // inner-join semantics, same as the oracle: a fresh key with no
    // persisted coefficients yields no rows (callers detect coverage
    // gaps by anti-joining, not by reading NaNs)
    val coefs = Forecast.ridgeLagForecast(series, "key", "ts", "event_id", "value", 24, 1e-6)
      .filter(col("key") === "A")
    val applied = Forecast.applyCoefficients(series, coefs, "key", "ts", "event_id", "value", 24)
    assert(applied.select("key").distinct().collect().map(_.getString(0)).toSeq == Seq("A"))
    assert(applied.count() == (100 - 24))
  }

  test("backtest scores a perfect seasonal series as zero error in every fold") {
    // strict 24-periodicity -> seasonal-naive is exact in all folds
    val rows = for {
      key <- Seq("A", "B"); i <- 0 until 96
    } yield (key.hashCode.toLong * 1000 + i,
      Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
      key, 100.0 + (i % 24))
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.backtest(df, "key", "ts", "event_id", "value", 24, 3).collect()
    assert(out.length == 6) // 2 keys x 3 folds
    out.foreach { r =>
      assert(r.getAs[Double]("rmse") == 0.0 && r.getAs[Double]("mape") == 0.0)
    }
  }

  test("drift flags a shifted current window") {
    val rows = (0 until 60).map { day =>
      val v = if (day >= 53) 200.0 else 100.0 // jump in the last 7 days
      (day.toLong, Timestamp.valueOf(f"2024-01-01 00:00:00").toInstant
        .plusSeconds(day * 86400L), "A", v)
    }.map { case (id, inst, k, v) => (id, Timestamp.from(inst), k, v) }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.drift(df, "key", "ts", "value", 30, 7, 0.1).head()
    assert(out.getAs[Boolean]("drifted"))
    assert(out.getAs[Double]("cur_mean") > out.getAs[Double]("ref_mean"))
  }

  test("drift, psiDrift and ksDrift share one window: boundary rows and a null-valued anchor") {
    // newest ts T carries a NULL value and still anchors every window;
    // current = [T-7d, T], reference = [T-21d, T-7d)
    val t = Timestamp.valueOf("2024-03-31 12:00:00").toInstant
    def at(secondsBefore: Long) = Timestamp.from(t.minusSeconds(secondsBefore))
    val curStart = 7 * 86400L
    val refStart = 21 * 86400L
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_windows").toString + "/ev"
    Seq(
      (1L, 1L, at(refStart + 1), Some(100.0), "x"), // one second too old: dropped
      (2L, 1L, at(refStart), Some(10.0), "x"),      // reference start: reference
      (3L, 1L, at(curStart + 1), Some(20.0), "y"),  // last reference second
      (4L, 1L, at(curStart), Some(30.0), "x"),      // current start: current
      (5L, 1L, at(3600), Some(50.0), "z"),          // out of domain: __other__
      (6L, 1L, at(0), None, "y"),                   // the anchor, null value
      (7L, 2L, at(2 * 86400), Some(5.0), "x"))      // key 2: no reference rows
      .toDF("event_id", "user_id", "ts", "value", "event_type").write.parquet(dir)
    val ev = spark.read.parquet(dir)

    // drift skips the null-valued current row in both s_cur and n_cur
    val d = Forecast.drift(ev, "user_id", "ts", "value", 14, 7, 0.5).collect()
    assert(d.length == 1 && d.head.getAs[Long]("user_id") == 1L)
    assert(d.head.getAs[Double]("ref_mean") == 15.0)
    assert(d.head.getAs[Double]("cur_mean") == 40.0)
    assert(d.head.getAs[Double]("shift") == 1.666667)
    assert(d.head.getAs[Boolean]("drifted"))

    // reference x,y = 1,1; current x,y,__other__ = 1,1,1; Laplace +1
    val p = graft.validate.Quality.psiDrift(ev, "user_id", "ts", "event_type",
      Seq("x", "y"), 14, 7, 0.05).collect()
    assert(p.length == 1 && p.head.getAs[Long]("user_id") == 1L)
    assert(p.head.getAs[Long]("n_ref") == 2L && p.head.getAs[Long]("n_cur") == 3L)
    assert(p.head.getAs[Double]("psi") == 0.092418)
    assert(p.head.getAs[Boolean]("drifted"))

    // ksDrift drops null values but anchors on max_ts over ALL rows: an
    // anchor at the newest non-null row (T-1h) would admit event 1
    val k = graft.validate.Quality.ksDrift(ev, "user_id", "ts", "value", 14, 7).collect()
    assert(k.length == 1 && k.head.getAs[Long]("user_id") == 1L)
    assert(k.head.getAs[Long]("n_ref") == 2L && k.head.getAs[Long]("n_cur") == 2L)
    assert(k.head.getAs[Double]("ks") == 1.0)
    assert(!k.head.getAs[Boolean]("drifted"))
  }

  test("rollingStats window mean matches a hand-computed prefix") {
    val out = TimeSeries.rollingStats(series, "key", "ts", "event_id", "value", 24)
    val first = out.filter(col("key") === "A").orderBy("period").limit(3)
      .select("roll_mean").as[Double].collect()
    assert(first(0) == 100.0)      // n=1
    assert(first(1) == 101.0)      // (100+102)/2
    assert(first(2) == 102.0)      // (100+102+104)/3
  }

  test("multiHorizonForecast emits h future rows with snaive and trend") {
    val out = Forecast.multiHorizonForecast(series, "key", "ts", "event_id", "value", 24, 3600L)
    assert(out.count() == 2 * 24)
    val a = out.filter(col("key") === "A").orderBy("horizon").collect()
    assert(a.map(_.getAs[Int]("horizon")).toSeq == (1 to 24))
    a.foreach { r =>
      val h = r.getAs[Int]("horizon")
      // snaive: yhat(T+h) = y(T+h-24); value at index i is 100+2i, T is index 99
      assert(r.getAs[Double]("snaive_prediction") == 100.0 + 2.0 * (75 + h))
      // strictly linear series: trend extrapolation is (near-)exact
      assert(math.abs(r.getAs[Double]("trend_prediction") - (298.0 + 2.0 * h)) < 1e-2)
    }
    // horizon-1 period is exactly one step past the last observed period
    val last = series.filter(col("key") === "A").agg(max("ts")).head().getTimestamp(0)
    assert(a(0).getAs[Timestamp]("period").getTime - last.getTime == 3600L * 1000)
  }

  test("windowSamples emits aligned (input, target) arrays at the stride") {
    val out = TimeSeries.windowSamples(series, "key", "ts", "event_id", "value", 24, 6, 4)
    // valid anchors: rn >= 24 (full input), rn <= 94 (full target), (rn-24)%4==0
    assert(out.filter(col("key") === "A").count() == 18)
    val first = out.filter(col("key") === "A").orderBy("anchor_period").head()
    assert(first.getAs[scala.collection.Seq[Double]]("input_seq") ==
      (0 until 24).map(i => 100.0 + 2.0 * i))
    assert(first.getAs[scala.collection.Seq[Double]]("target_seq") ==
      (24 until 30).map(i => 100.0 + 2.0 * i))
  }

  test("inverseScaler undoes applyScaler to rounding for both methods") {
    val params = TimeSeries.scalerParams(series, "key", "value")
    for (method <- Seq("minmax", "standard")) {
      val scaled = TimeSeries.applyScaler(series, params, "key", "ts", "event_id",
        "value", method)
      val restored = TimeSeries.inverseScaler(scaled, params, "key", "value_scaled", method)
        .join(params.select(col("key"), (col("max") - col("min")).as("range"),
          col("std")), Seq("key"))
        .collect()
      assert(restored.nonEmpty)
      restored.foreach { r =>
        val v = r.getAs[Double]("value")
        val rec = r.getAs[Double]("value_restored")
        // scaled is rounded to 6 (minmax) / 4 (standard) decimals, so the
        // roundtrip error is bounded by half that step times the scale
        val tol = method match {
          case "minmax"   => 0.5e-6 * r.getAs[Double]("range") + 1e-4
          case "standard" => 0.5e-4 * r.getAs[Double]("std") + 1e-4
        }
        assert(math.abs(rec - v) <= tol, s"$method: |$rec - $v| > $tol")
      }
    }
  }

  test("applyScaler standard matches persisted-params z-scores") {
    val params = TimeSeries.scalerParams(series, "key", "value")
    val p = params.filter(col("key") === "A").head()
    val (mu, sd) = (p.getAs[Double]("mean"), p.getAs[Double]("std"))
    val got = TimeSeries.applyScaler(series, params, "key", "ts", "event_id",
      "value", "standard")
      .filter(col("key") === "A").orderBy("period").head()
    val v = got.getAs[Double]("value")
    assert(math.abs(got.getAs[Double]("value_scaled") -
      math.rint((v - mu) / sd * 1e4) / 1e4) < 1e-9)
  }

  test("windowSamplesFlat explodes samples to (seq, pos, value) rows losslessly") {
    val flat = TimeSeries.windowSamplesFlat(series, "key", "ts", "event_id", "value", 24, 6, 4)
    val arr = TimeSeries.windowSamples(series, "key", "ts", "event_id", "value", 24, 6, 4)
    // each sample contributes seqLen + horizon rows
    assert(flat.count() == arr.count() * (24 + 6))
    // the first A sample round-trips: input positions 0..23, target 0..5, same values
    val a0 = flat.filter(col("key") === "A")
      .orderBy("anchor_period", "seq", "pos").collect()
    val inputs = a0.filter(_.getAs[String]("seq") == "input").take(24)
    assert(inputs.map(_.getAs[Int]("pos")).toSeq == (0 until 24))
    assert(inputs.map(_.getAs[Double]("value")).toSeq == (0 until 24).map(i => 100.0 + 2.0 * i))
    val targets = a0.filter(_.getAs[String]("seq") == "target").take(6)
    assert(targets.map(_.getAs[Double]("value")).toSeq == (24 until 30).map(i => 100.0 + 2.0 * i))
  }

  test("asofJoin picks the latest reference at or before each row") {
    import graft.timeseries.AsOf
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((1L, "A", t(2)), (2L, "A", t(10)), (3L, "A", t(25)), (4L, "B", t(30)))
      .toDF("event_id", "key", "ts")
    val right = Seq(("A", t(5), 100.0), ("A", t(20), 200.0), ("A", t(10), 150.0))
      .toDF("key", "rts", "ref")
    val out = AsOf.asofJoin(left, right, "key", "ts", "rts", Seq("ref"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Double]("ref")), Option(r.getAs[Timestamp]("rts")))).toMap
    assert(out(1L) == (None, None))                       // before any reference
    assert(out(2L) == (Some(150.0), Some(t(10))))         // equality counts (>=)
    assert(out(3L) == (Some(200.0), Some(t(20))))
    assert(out(4L) == (None, None))                       // other key: no refs
  }

  test("emaSmooth matches hand-computed adjusted EMA over the window") {
    val rows = (1 to 5).map(i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 0$i:00:00"), "A", i.toDouble))
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = TimeSeries.emaSmooth(df, "key", "ts", "event_id", "value", 0.5, 3)
      .orderBy("period").select("ema").as[Double].collect()
    // weights newest-first: 1, 0.5, 0.25
    assert(out(0) == 1.0)
    assert(out(1) == math.floor(2.5 / 1.5 * 10000 + 0.5) / 10000)       // 1.6667
    assert(out(2) == math.floor(4.25 / 1.75 * 10000 + 0.5) / 10000)     // 2.4286
    assert(out(3) == math.floor(6.0 / 1.75 * 10000 + 0.5) / 10000)      // 3.4286
    assert(out(4) == math.floor(7.75 / 1.75 * 10000 + 0.5) / 10000)     // 4.4286
  }

  test("modelSelection rejects extreme shrinkage on an autocorrelated series") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").toInstant
    val rows = (0 until 200).map { i =>
      (i.toLong, Timestamp.from(base.plusSeconds(i * 3600L)), "A",
        50.0 + 10.0 * math.sin(i / 5.0) + (i % 7) * 0.3)
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.modelSelection(df, "key", "ts", "event_id", "value", 24,
      Seq(0.01, 1.0, 10000.0), 0.7, 0.15).collect()
    assert(out.length == 1)
    val r = out.head
    // lambda=10000 shrinks all coefficients to ~0 (predict ~0 on a ~50-level
    // series) and must lose the validation contest
    assert(r.getAs[Double]("best_lambda") < 10000.0)
    assert(Seq(0.01, 1.0).contains(r.getAs[Double]("best_lambda")))
    assert(r.getAs[Double]("val_rmse") >= 0.0 && r.getAs[Double]("test_rmse") >= 0.0)
  }

  test("emaSmooth plan carries no scalar CodegenFallback expressions") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    // the per-row hot path must stay inside whole-stage codegen: the HOF
    // chain this operator used to carry (zip_with/aggregate) is
    // interpreted with boxed elements. Aggregate functions (the windowed
    // collect_list) are object-based by design and excluded.
    val df = SparkEntry.queries("c17_ema_smooth")(spark, sf)
    val fallback = df.queryExecution.optimizedPlan.flatMap(p =>
      p.expressions.flatMap(_.collect {
        case e: CodegenFallback if !e.isInstanceOf[AggregateFunction] =>
          e.getClass.getSimpleName
      }))
    assert(fallback.isEmpty, s"interpreted scalar expressions in plan: $fallback")
  }

  test("seasonalDecompose: constant series decomposes to flat trend, zero seasonal/remainder") {
    val rows = (0 until 30).map(i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00"), "A", 5.0))
    val extra = (0 until 6).map(i => // second day so hods repeat
      (100L + i, Timestamp.valueOf(f"2024-01-02 ${i % 24}%02d:00:00"), "A", 5.0))
    val df = (rows ++ extra).toDF("event_id", "ts", "key", "value")
    val out = Decompose.seasonalDecompose(df, "key", "ts", "event_id", "value", 2)
      .orderBy("period", "event_id").collect()
    // interior rows (complete 5-row window): trend = 5, seasonal = 0, remainder = 0
    val interior = out.drop(2).dropRight(2)
    assert(interior.nonEmpty)
    interior.foreach { r =>
      assert(r.getAs[Double]("trend") == 5.0)
      assert(r.getAs[Double]("remainder") == 0.0)
    }
    // edge rows: trend (and so remainder) undefined
    assert(out.take(2).forall(_.isNullAt(out.head.fieldIndex("trend"))))
  }

  test("seasonalDecompose: value == trend + seasonal + remainder exactly where trend exists") {
    val rows = (0 until 72).map(i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
        "A", (i * 37 % 100) / 10.0)) // 1-decimal values -> exact cents
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Decompose.seasonalDecompose(df, "key", "ts", "event_id", "value", 12)
    val checked = out.filter(col("trend").isNotNull)
      .select(col("value"),
        (col("trend") + col("seasonal") + col("remainder")).as("sum")).collect()
    assert(checked.length == 72 - 24) // 12 null rows at each edge
    // exact in e4 integer units (trend+det == cents*100); the double
    // re-sum of the three parts can drift a few ulps
    checked.foreach(r =>
      assert(math.abs(r.getAs[Double]("value") - r.getAs[Double]("sum")) < 1e-9))
  }

  test("residualAnomalies flags a planted spike and stays silent on clean seasonality") {
    // a perfectly seasonal series: value = 10 + hour-of-day/10; one
    // planted spike at hour 36. The decomposition absorbs the
    // seasonality, so the spike is the only large remainder.
    def series(spike: Boolean) = (0 until 96).map { i =>
      val v = 10.0 + (i % 24) / 10.0 + (if (spike && i == 36) 50.0 else 0.0)
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "A", v)
    }.toDF("event_id", "ts", "key", "value")
    val flagged = Decompose.residualAnomalies(series(spike = true),
      "key", "ts", "event_id", "value", 12).collect()
    assert(flagged.nonEmpty, "the spike must be flagged")
    val top = flagged.maxBy(_.getAs[Double]("deviation_e4"))
    assert(top.getAs[Long]("event_id") == 36L,
      s"spike row must carry the max deviation, got ${top}")
    flagged.foreach(r =>
      assert(r.getAs[Double]("deviation_e4") > 3 * r.getAs[Double]("mad_e4")))
    // clean series: every remainder equals the key's typical remainder
    // (MAD captures the window-edge wiggle) -> nothing beyond 3 MAD...
    // except degenerate exact-zero MAD, so assert the spike-free run
    // flags strictly fewer, and never the spike row's magnitude
    val clean = Decompose.residualAnomalies(series(spike = false),
      "key", "ts", "event_id", "value", 12).collect()
    assert(clean.length < flagged.length ||
      clean.forall(_.getAs[Double]("deviation_e4") <
        top.getAs[Double]("deviation_e4")))
  }

  test("forecastIntervals covers ~[qLo,qHi] of actuals and brackets every prediction") {
    // noisy seasonal series: residuals are the noise, so the empirical
    // band should cover roughly 80% of in-sample actuals
    val rnd = new scala.util.Random(24L)
    val rows = (0 until 480).map { i =>
      val v = 50.0 + (i % 24) + math.round(rnd.nextGaussian() * 300) / 100.0
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "A", v)
    }.toDF("event_id", "ts", "key", "value")
    val out = Forecast.forecastIntervals(rows, "key", "ts", "event_id", "value", 24)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
      // the band is centered on the prediction by construction
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("prediction") ||
        r.getAs[Double]("hi") >= r.getAs[Double]("prediction"))
    }
    val covered = out.count(r => r.getAs[Double]("value") >= r.getAs[Double]("lo") &&
      r.getAs[Double]("value") <= r.getAs[Double]("hi"))
    val frac = covered.toDouble / out.length
    assert(frac > 0.7 && frac < 0.95, s"in-sample coverage $frac should be ~0.8")
  }

  test("winsorize clips exactly at the micro-unit quantile thresholds") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:$i%02d:00")
    // key A: values 1..10 at 5%/95% → targets ceil(0.5)=1, ceil(9.5)=10
    // → lo = 1.0 (cum1), hi = 10.0 (cum10): nothing clips. At 10%/80%
    // → targets 1 and 8 → hi = 8.0: 9,10 clip down.
    val df = (1 to 10).map(i => (1L, ts(i), i.toLong * 10, i.toDouble))
      .toDF("user_id", "ts", "event_id", "value")
      .unionByName(Seq((2L, ts(1), 900L, Option(5.0)),
        (2L, ts(2), 901L, Option.empty[Double]))
        .toDF("user_id", "ts", "event_id", "value"))
    val wide = TimeSeries.winsorize(df, "user_id", "ts", "event_id", "value",
        5, 100, 95, 100)
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[Any]("value_winsorized"))).toMap
    (1 to 10).foreach(i => assert(wide(i.toLong * 10) == Some(i.toDouble)))
    assert(wide(901L).isEmpty) // null value passes through null
    val tight = TimeSeries.winsorize(df.filter($"user_id" === 1L),
        "user_id", "ts", "event_id", "value", 10, 100, 80, 100)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Double]("value_winsorized")).toMap
    assert(tight(90L) == 8.0 && tight(100L) == 8.0, s"got $tight")
    assert((1 to 8).forall(i => tight(i.toLong * 10) == i.toDouble))
    // invariant on real data: winsorized values always inside the
    // original range, and at most ~5%+bucket-width clip on each side
    val real = TimeSeries.winsorize(Tables.events(spark, sf),
      "user_id", "ts", "event_id", "value", 5, 100, 95, 100).collect()
    val nonNull = real.filter(r => !r.isNullAt(r.fieldIndex("value")))
    val byUser = nonNull.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rows) =>
      val vs = rows.map(_.getAs[Double]("value"))
      val ws = rows.map(_.getAs[Double]("value_winsorized"))
      // clipping only ever moves values toward the interior
      assert(ws.min >= vs.min - 1e-6 && ws.max <= vs.max + 1e-6)
      // spread never increases
      assert(ws.max - ws.min <= vs.max - vs.min + 1e-9)
    }
    val clipped = nonNull.count(r =>
      r.getAs[Double]("value_winsorized") != r.getAs[Double]("value"))
    assert(clipped > 0, "5/95 winsorization on real data should clip something")
    assert(clipped <= math.ceil(nonNull.length * 0.11),
      s"clipped $clipped of ${nonNull.length} — more than ~10% moved")
  }

  test("changePoint finds the max mean-shift split with earliest-index ties") {
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 ${i}%02d:00:00")
    // key 1: level shift 0→10 after row 3; key 2: constant (all diffs
    // 0 → earliest admissible idx); key 3: too short for minSeg=2;
    // null-value row excluded from key 1's series
    val df = (Seq.tabulate(6)(i => (1L, t(i), i.toLong, Option(if (i < 3) 0.0 else 10.0))) ++
      Seq((1L, t(9), 9L, Option.empty[Double])) ++
      Seq.tabulate(5)(i => (2L, t(i), i.toLong, Option(5.0))) ++
      Seq.tabulate(3)(i => (3L, t(i), i.toLong, Option(1.0))))
      .toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.changePoint(df, "user_id", "ts", "event_id", "value", 2)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("split_idx"),
          r.getAs[Double]("mean_before"), r.getAs[Double]("mean_after"),
          r.getAs[Double]("shift")))).toMap
    assert(out(1L) == ((6L, 3L, 0.0, 10.0, 10.0)), s"got $out")
    assert(out(2L) == ((5L, 2L, 5.0, 5.0, 0.0)), s"got $out")
    assert(!out.contains(3L), s"short key must emit nothing, got $out")
    // real data: argmax score must dominate every other split for a
    // sampled key (exhaustiveness), and segments respect minSeg
    val real = TimeSeries.changePoint(Tables.events(spark, sf),
      "user_id", "ts", "event_id", "value", 24).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getAs[Long]("split_idx") >= 24 &&
      r.getAs[Long]("split_idx") <= r.getAs[Long]("n") - 24))
  }

  test("autocorrelation: periodic +1, anti-phase -1, constant null, short keys absent") {
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 ${i}%02d:00:00")
    val df = (Seq.tabulate(6)(i => (1L, t(i), i.toLong, (i % 2).toDouble)) ++   // period 2 → r = 1
      Seq.tabulate(8)(i => (2L, t(i), i.toLong, ((i / 2) % 2).toDouble)) ++      // anti-phase at lag 2 → r = -1
      Seq.tabulate(5)(i => (3L, t(i), i.toLong, 7.0)) ++                         // constant → null acf
      Seq.tabulate(2)(i => (4L, t(i), i.toLong, 1.0)))                           // too short → no row
      .toDF("user_id", "ts", "event_id", "value")
    val got = TimeSeries.autocorrelation(df, "user_id", "ts", "event_id", "value", 2)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_pairs"), Option(r.getAs[java.lang.Double]("acf"))))).toMap
    assert(got(1L) == ((4L, Some(Double.box(1.0)))), s"got $got")
    assert(got(2L) == ((6L, Some(Double.box(-1.0)))), s"got $got")
    assert(got(3L) == ((3L, None)), s"got $got")
    assert(!got.contains(4L), s"got $got")
    // real data: r bounded, pair counts = series length - lag
    val real = TimeSeries.autocorrelation(Tables.events(spark, sf),
      "user_id", "ts", "event_id", "value", 24).collect()
    assert(real.nonEmpty)
    assert(real.forall { r =>
      val a = r.getAs[java.lang.Double]("acf")
      a == null || (a >= -1.0 && a <= 1.0)
    })
  }

  test("holtForecast matches the scalar Holt recursion and uses exactly the last window") {
    val (alpha, beta, win) = (0.5, 0.25, 48)
    // scalar reference recursion over an oldest-first series
    def holtScalar(xs: Seq[Double]): (Double, Double) = {
      var l = xs.head; var b = 0.0
      for (x <- xs.tail) {
        val nl = alpha * x + (1 - alpha) * (l + b)
        b = beta * (nl - l) + (1 - beta) * b
        l = nl
      }
      (l, b)
    }
    // key A: 60 rows of a noisy ramp — only the last 48 may count
    // (the first 12 are poisoned with a huge level); key S is short
    val rows = (0 until 60).map { i =>
      val v = if (i < 12) 1e6 else 10.0 + i * 2.0 + (i % 7) * 0.37
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "A", v)
    } ++ (0 until 47).map { i =>
      (1000L + i, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "S", 5.0)
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.holtForecast(df, "key", "ts", "event_id", "value",
      alpha, beta, win, Seq(1, 2, 3)).collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("A")) // short key absent
    val r = out.head
    val lastWin = (12 until 60).map(i => 10.0 + i * 2.0 + (i % 7) * 0.37)
    val (el, eb) = holtScalar(lastWin)
    // the contract value is the weight-vector dot; it agrees with the
    // scalar recursion to float noise, far inside the e4 rounding
    val (lw, bw) = Forecast.holtWeights(alpha, beta, win)
    val newestFirst = lastWin.reverse
    val dotL = newestFirst.zip(lw).foldLeft(0.0) { case (a, (x, w)) => a + x * w }
    val dotB = newestFirst.zip(bw).foldLeft(0.0) { case (a, (x, w)) => a + x * w }
    assert(math.abs(dotL - el) < 1e-8 && math.abs(dotB - eb) < 1e-8,
      s"weights drifted from recursion: $dotL vs $el, $dotB vs $eb")
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(r.getAs[Double]("level") == r4(dotL), s"level ${r}")
    assert(r.getAs[Double]("trend") == r4(dotB), s"trend ${r}")
    assert(r.getAs[Double]("f_h2") == r4(dotL + 2 * dotB), s"f_h2 ${r}")
    // poisoned prefix really excluded: level is near the ramp, not 1e6
    assert(r.getAs[Double]("level") < 1000.0)
    // trend on a slope-2 ramp converges near 2
    assert(math.abs(r.getAs[Double]("trend") - 2.0) < 0.5, s"trend ${r}")
  }

  test("holtWintersForecast matches the scalar Winters recursion and recovers a planted cycle") {
    val (alpha, beta, gamma, m, win) = (0.5, 0.25, 0.5, 24, 48)
    // scalar reference: the textbook additive recursion with the
    // heuristic init the weights claim to encode — an INDEPENDENT
    // implementation (state recursion over values, not coefficients)
    def hwScalar(xs: Seq[Double], hs: Seq[Int]): (Double, Double, Seq[Double]) = {
      val n = xs.length
      var b = (0 until m).map(i => (xs(m + i) - xs(i)) / m).sum / m
      val mean = xs.take(m).sum / m
      var l = mean + b * (m - 1) / 2.0
      val s = Array.tabulate(m)(j => xs(j) - (mean + b * (j - (m - 1) / 2.0)))
      for (t <- m until n) {
        val slot = t % m
        val nl = alpha * (xs(t) - s(slot)) + (1 - alpha) * (l + b)
        b = beta * (nl - l) + (1 - beta) * b
        s(slot) = gamma * (xs(t) - nl) + (1 - gamma) * s(slot)
        l = nl
      }
      (l, b, hs.map(h => l + h * b + s((n + h - 1) % m)))
    }
    // key A: 60 rows = trend + a daily (24h) sawtooth cycle; only the
    // last 48 may count (poisoned prefix); key S one row short
    def cyc(i: Int) = 50.0 + 0.5 * i + 8.0 * math.sin(2 * math.Pi * (i % 24) / 24.0)
    val rows = (0 until 60).map { i =>
      val v = if (i < 12) -1e6 else cyc(i)
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "A", v)
    } ++ (0 until 47).map { i =>
      (1000L + i, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "S", 5.0)
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.holtWintersForecast(df, "key", "ts", "event_id", "value",
      alpha, beta, gamma, m, win, Seq(1, 2, 3)).collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("A")) // short key absent
    val r = out.head
    val lastWin = (12 until 60).map(cyc)
    val (el, eb, efs) = hwScalar(lastWin, Seq(1, 2, 3))
    // the weight-vector dots agree with the independent scalar
    // recursion to float noise, far inside the 4-decimal rounding
    val (lw, bw, fws) = Forecast.holtWintersWeights(alpha, beta, gamma, m, win, Seq(1, 2, 3))
    val newestFirst = lastWin.reverse
    def dot(ws: Seq[Double]) = newestFirst.zip(ws).foldLeft(0.0) { case (a, (x, w)) => a + x * w }
    assert(math.abs(dot(lw) - el) < 1e-7 && math.abs(dot(bw) - eb) < 1e-7,
      s"weights drifted from recursion: ${dot(lw)} vs $el, ${dot(bw)} vs $eb")
    fws.zip(efs).foreach { case (fw, ef) =>
      assert(math.abs(dot(fw) - ef) < 1e-7, s"forecast weights drifted: ${dot(fw)} vs $ef")
    }
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(r.getAs[Double]("level") == r4(dot(lw)), s"level $r")
    assert(r.getAs[Double]("trend") == r4(dot(bw)), s"trend $r")
    assert(r.getAs[Double]("f_h1") == r4(dot(fws.head)), s"f_h1 $r")
    assert(r.getAs[Double]("f_h3") == r4(dot(fws(2))), s"f_h3 $r")
    // the poisoned prefix is excluded and the planted structure is
    // recovered: trend near 0.5, and the h=1..3 forecasts track the
    // true series far better than trend-only Holt can on a cycle
    assert(r.getAs[Double]("level") > -1000.0)
    assert(math.abs(r.getAs[Double]("trend") - 0.5) < 0.3, s"trend $r")
    Seq(1, 2, 3).foreach { h =>
      val err = math.abs(r.getAs[Double](s"f_h$h") - cyc(60 + h - 1))
      assert(err < 4.0, s"h=$h forecast off planted cycle by $err: $r")
    }
  }

  test("holtWintersDampedForecast matches the scalar damped recursion; phi=1 equals c29") {
    val (alpha, beta, gamma, phi, m, win) = (0.5, 0.25, 0.5, 0.9, 24, 48)
    // independent scalar reference: the Gardner–McKenzie damped
    // recursion over VALUES (not coefficients)
    def hwdScalar(xs: Seq[Double], hs: Seq[Int]): (Double, Double, Seq[Double]) = {
      val n = xs.length
      var b = (0 until m).map(i => (xs(m + i) - xs(i)) / m).sum / m
      val mean = xs.take(m).sum / m
      var l = mean + b * (m - 1) / 2.0
      val s = Array.tabulate(m)(j => xs(j) - (mean + b * (j - (m - 1) / 2.0)))
      for (t <- m until n) {
        val slot = t % m
        val nl = alpha * (xs(t) - s(slot)) + (1 - alpha) * (l + phi * b)
        b = beta * (nl - l) + (1 - beta) * (phi * b)
        s(slot) = gamma * (xs(t) - nl) + (1 - gamma) * s(slot)
        l = nl
      }
      (l, b, hs.map { h =>
        val ps = (1 to h).map(i => math.pow(phi, i)).sum
        l + ps * b + s((n + h - 1) % m)
      })
    }
    def cyc(i: Int) = 50.0 + 0.5 * i + 8.0 * math.sin(2 * math.Pi * (i % 24) / 24.0)
    val rows = (0 until 48).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"), "A", cyc(i))
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val r = Forecast.holtWintersDampedForecast(df, "key", "ts", "event_id", "value",
      alpha, beta, gamma, phi, m, win, Seq(1, 2, 3)).collect().head
    val xs = (0 until 48).map(cyc)
    val (el, eb, efs) = hwdScalar(xs, Seq(1, 2, 3))
    val (lw, bw, fws) = Forecast.holtWintersDampedWeights(alpha, beta, gamma, phi, m, win, Seq(1, 2, 3))
    val newestFirst = xs.reverse
    def dot(ws: Seq[Double]) = newestFirst.zip(ws).foldLeft(0.0) { case (a, (x, w)) => a + x * w }
    assert(math.abs(dot(lw) - el) < 1e-7 && math.abs(dot(bw) - eb) < 1e-7,
      s"damped weights drifted: ${dot(lw)} vs $el, ${dot(bw)} vs $eb")
    fws.zip(efs).foreach { case (fw, ef) =>
      assert(math.abs(dot(fw) - ef) < 1e-7, s"damped forecast weights drifted: ${dot(fw)} vs $ef")
    }
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(r.getAs[Double]("level") == r4(dot(lw)), s"level $r")
    assert(r.getAs[Double]("f_h3") == r4(dot(fws(2))), s"f_h3 $r")
    // damping pulls long horizons BELOW the undamped forecast on an
    // uptrending series: f_h3 gap = (3 - phi - phi^2 - phi^3) * trend
    val undamped = Forecast.holtWintersForecast(df, "key", "ts", "event_id", "value",
      alpha, beta, gamma, m, win, Seq(1, 2, 3)).collect().head
    assert(r.getAs[Double]("trend") > 0.2, s"planted uptrend lost: $r")
    assert(r.getAs[Double]("f_h3") < undamped.getAs[Double]("f_h3"),
      s"damped h3 ${r.getAs[Double]("f_h3")} not below undamped ${undamped.getAs[Double]("f_h3")}")
    // the phi = 1 generalization is bit-exact against c29's published
    // weight vectors (the refactor-safety pin)
    val c29 = Forecast.holtWintersWeights(alpha, beta, gamma, m, win, Seq(1, 2, 3))
    val viaPhi1 = Forecast.holtWintersDampedWeights(alpha, beta, gamma, 1.0, m, win, Seq(1, 2, 3))
    assert(c29 == viaPhi1, "phi=1 damped weights diverged from c29's")
  }

  test("blendForecasts is the exact mean of its components on shared eval rows") {
    val hw = (i: Int) =>
      0.25 * math.min(i % 168, 167 - i % 168) + 1.0 * math.min(i % 24, 23 - i % 24)
    val rows = for {
      key <- Seq("A"); i <- 0 until 720
    } yield (i.toLong,
      Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
      key, 200.0 + 0.25 * i + hw(i))
    val df = rows.toDF("event_id", "ts", "key", "value")
    val blend = Forecast.blendForecasts(df, "key", "ts", "event_id", "value",
      24, 7, 10, 0.1).collect()
    assert(blend.nonEmpty)
    blend.foreach { r =>
      val pr = r.getAs[Double]("ridge_prediction")
      val pn = r.getAs[Double]("naive_prediction")
      val p = r.getAs[Double]("prediction")
      val exact = (math.rint(pr * 10000) + math.rint(pn * 10000)) / 20000.0
      assert(p == exact, s"blend drifted: $r")
    }
    // every blended row has BOTH components: the eval tail starts past
    // the naive lag's warm-up here, so counts match the ridge's output
    val ridgeN = Forecast.seasonalRidgeForecast(df, "key", "ts", "event_id",
      "value", 7, 10, 0.1).count()
    assert(blend.length.toLong == ridgeN)
  }

  test("seasonalRidgeForecast recovers a planted trend + weekly cycle on held-out rows") {
    // 30 days hourly per key (train = the leading 70% = exactly 3 whole
    // weeks): linear trend (0.25/h) + an hour-of-week cycle with BOTH
    // daily and weekly structure. The cycle is TIME-SYMMETRIC (tent
    // functions, f(j) = f(period-1-j)), so its covariance with the
    // trend over whole cycles is exactly zero and the stage-1 OLS
    // trend is unbiased — the backfit model's known limitation (a
    // cycle that correlates with time inside the week leaks into the
    // slope on short windows) is documented in the scaladoc, not
    // hidden by this test. The model's feature space then contains the
    // truth, so the held-out 30% must be predicted to within the
    // ridge shrinkage bias (lambda/(n_slot+lambda) of the seasonal
    // amplitude: 0.1/3.1 of ±10 here) — and far better than
    // seasonal-naive, which a trend shifts by season*slope per cycle
    // and which misses the weekly component entirely.
    val hw = (i: Int) =>
      0.25 * math.min(i % 168, 167 - i % 168) + 1.0 * math.min(i % 24, 23 - i % 24)
    val rows = for {
      key <- Seq("A", "B"); i <- 0 until 720
    } yield (key.hashCode.toLong * 10000 + i,
      Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00"),
      key, 200.0 + 0.25 * i + hw(i))
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = Forecast.seasonalRidgeForecast(df, "key", "ts", "event_id", "value",
      7, 10, 0.1).collect()
    // eval set: the last 30% per key, 216 rows each
    assert(out.length == 2 * (720 - 720 * 7 / 10), out.length)
    val errs = out.map(r => math.abs(r.getAs[Double]("value") - r.getAs[Double]("prediction")))
    assert(errs.max < 1.0, s"held-out error ${errs.max} too large")
    // beats the seasonal-naive baseline on the SAME held-out rows
    val naive = Forecast.seasonalNaive(df, "key", "ts", "event_id", "value", 24)
    val evalIds = out.map(_.getAs[Long]("event_id")).toSet
    val nErrs = naive.collect().filter(r => evalIds.contains(r.getAs[Long]("event_id")))
      .map(r => math.abs(r.getAs[Double]("value") - r.getAs[Double]("prediction")))
    def rmse(a: Array[Double]) = math.sqrt(a.map(e => e * e).sum / a.length)
    assert(rmse(errs) < rmse(nErrs) / 2,
      s"ridge rmse ${rmse(errs)} not well under naive ${rmse(nErrs)}")
    // keys that cannot fit (single train row) emit nothing, never NaNs
    val tiny = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "Z", 5.0),
      (2L, Timestamp.valueOf("2024-01-01 01:00:00"), "Z", 6.0))
      .toDF("event_id", "ts", "key", "value")
    val tinyOut = Forecast.seasonalRidgeForecast(tiny, "key", "ts", "event_id",
      "value", 7, 10, 1.0).collect()
    assert(tinyOut.forall(r => !r.getAs[Double]("prediction").isNaN))
  }
}
