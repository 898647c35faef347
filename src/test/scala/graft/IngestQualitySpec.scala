package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.validate.Quality

class IngestQualitySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  lazy val feed = Seq(
    (1L, ts("2024-01-01 00:00:00"), "A", "D", 10.0),
    (2L, ts("2024-01-01 01:00:00"), "A", "D", 12.0),
    (3L, ts("2024-01-01 04:00:00"), "A", "D", 11.0), // 3h gap
    (4L, ts("2024-01-01 00:00:00"), "B", "D", -5.0), // negative
    (5L, ts("2024-01-01 00:00:00"), "B", "X", 7.0)   // bad type, dup ts
  ).toDF("event_id", "ts", "key", "type", "value")

  test("typedIngest coerces and renames to the canonical feed shape") {
    val out = Ingest.typedIngest(feed, "event_id", "ts", "key", "type", "value")
    assert(out.columns.toSeq == Seq("record_id", "period", "respondent", "type", "value"))
    assert(out.count() == 5)
  }

  test("timeRangeFilter is closed-open") {
    val out = Ingest.timeRangeFilter(feed, "ts", "2024-01-01 01:00:00", "2024-01-01 04:00:00")
    assert(out.select("event_id").as[Long].collect().toSet == Set(2L))
  }

  test("dedupKeepLatest keeps the newest row per key with id tie-break") {
    val out = Ingest.dedupKeepLatest(feed, Seq("key"), "ts", "event_id")
    val kept = out.select("event_id").as[Long].collect().toSet
    assert(kept == Set(3L, 5L)) // A: latest ts; B: tie on ts -> higher id
  }

  test("retentionKeepLastN keeps newest n per group") {
    val out = Ingest.retentionKeepLastN(feed, "key", col("ts"), col("event_id"), 2)
    assert(out.count() == 4)
    assert(out.filter(col("key") === "A").select("event_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("schemaViolations counts domain and sign violations in one pass") {
    val out = Quality.schemaViolations(feed, "ts", "key", "type", "value", Seq("D", "NG"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("bad_type") == 1)
    assert(out("negative_value") == 1)
    assert(out("null_value") == 0)
  }

  test("gapDetection flags gaps beyond tolerance with exact seconds") {
    val out = Quality.gapDetection(feed, "key", "ts", "event_id", 3600L, 1.5)
    val gaps = out.select("gap_seconds").as[Long].collect()
    assert(gaps.toSeq == Seq(3 * 3600L))
  }

  test("duplicateTimestamps finds per-key duplicate seconds") {
    val out = Quality.duplicateTimestamps(feed, "key", "ts")
    assert(out.count() == 1)
    assert(out.select("n").as[Long].head() == 2)
  }

  test("iqrOutliers bounds contain all points of a tight distribution") {
    val out = Quality.iqrOutliers(feed.filter(col("key") === "A"), "key", "value")
    val r = out.head()
    assert(r.getAs[Long]("outlier_count") == 0)
    assert(r.getAs[Double]("lower_bound") < 10.0 && r.getAs[Double]("upper_bound") > 12.0)
  }

  test("saltedAggregate matches the unsalted aggregation exactly") {
    val ev = Tables.events(spark, sf)
    val salted = graft.analytics.Skew.saltedAggregate(ev, "user_id", "event_id", "value", 16)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val plain = ev.groupBy(col("user_id"))
      .agg((sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("qualityReport composes headline metrics consistently") {
    val ev = Tables.events(spark, sf)
    val rep = Quality.qualityReport(ev, "user_id", "ts", "event_id", "value", 3600L, 1.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rep("total_records") == ev.count().toDouble)
    assert(rep("duplicate_timestamp_groups") ==
      Quality.duplicateTimestamps(ev, "user_id", "ts").count().toDouble)
    assert(rep("gap_count") ==
      Quality.gapDetection(ev, "user_id", "ts", "event_id", 3600L, 1.5).count().toDouble)
    assert(rep("extreme_outlier_count") ==
      Quality.extremeOutliers(ev, "event_id", "value").count().toDouble)
    assert(rep("null_value_pct") >= 0.0)
  }

  test("gapSummary folds gapDetection rows to per-key count and max") {
    val ev = Tables.events(spark, sf)
    val summary = Quality.gapSummary(ev, "user_id", "ts", "event_id", 3600L, 1.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Quality.gapDetection(ev, "user_id", "ts", "event_id", 3600L, 1.5)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    val expect = rows.groupBy(_._1).map { case (k, g) =>
      k -> (g.length.toLong, g.map(_._2).max) }
    assert(summary == expect)
    assert(summary.nonEmpty)
  }

  test("qualityReport carries the reference report's summary block") {
    val ev = Tables.events(spark, sf)
    val rep = Quality.qualityReport(ev, "user_id", "ts", "event_id", "value", 3600L, 1.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val range = ev.agg(
      min(date_trunc("second", col("ts"))).cast("long").cast("double"),
      max(date_trunc("second", col("ts"))).cast("long").cast("double"),
      countDistinct(col("user_id")).cast("double")).head()
    assert(rep("date_range_start_epoch") == range.getDouble(0))
    assert(rep("date_range_end_epoch") == range.getDouble(1))
    assert(rep("unique_regions") == range.getDouble(2))
  }

  test("validationVerdict emits the sorted region list and date range") {
    val ev = Tables.events(spark, sf)
    val r = Quality.validationVerdict(ev, "user_id", "ts", "event_id", "value", 5.0, 2.0).head()
    val regions = r.getAs[String]("regions").split(",").map(_.toLong)
    assert(regions.toSeq == regions.sorted.toSeq)
    assert(regions.distinct.length == regions.length)
    assert(r.getAs[Long]("unique_regions") == regions.length.toLong)
    assert(!r.getAs[java.sql.Timestamp]("date_range_start")
      .after(r.getAs[java.sql.Timestamp]("date_range_end")))
  }

  test("qualityReport counts a null-timestamp duplicate group like duplicateTimestamps") {
    import java.sql.Timestamp
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    // two rows with (key=1, ts=NULL) form one duplicate group; the
    // null-safe window comparison must count it exactly once
    val ev = Seq(
      (1L, 1L, null.asInstanceOf[Timestamp], 1.0),
      (2L, 1L, null.asInstanceOf[Timestamp], 2.0),
      (3L, 1L, t, 3.0),
      (4L, 2L, t, 4.0)).toDF("event_id", "user_id", "ts", "value")
    val rep = Quality.qualityReport(ev, "user_id", "ts", "event_id", "value", 3600L, 1.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rep("duplicate_timestamp_groups") ==
      Quality.duplicateTimestamps(ev, "user_id", "ts").count().toDouble)
    assert(rep("duplicate_timestamp_groups") == 1.0)
  }

  test("valueStats on the real feed matches basic invariants") {
    val ev = Tables.events(spark, sf)
    val r = Quality.valueStats(ev, "value").head()
    assert(r.getAs[Long]("n") == ev.count())
    assert(r.getAs[Double]("min") <= r.getAs[Double]("median"))
    assert(r.getAs[Double]("median") <= r.getAs[Double]("max"))
  }

  test("incrementalIngest merges overlapping pages idempotently") {
    val ev = feed.select(col("event_id"), col("ts"), col("key"), col("value"))
    val existing = ev.filter(col("event_id") <= 2)
    val page = ev.filter(col("event_id") >= 1) // overlap on ids 1,2
    val merged = Ingest.incrementalIngest(existing, page, "event_id")
    assert(merged.count() == ev.count())
    assert(merged.select("event_id").distinct().count() == ev.count())
    // re-applying the same page is a no-op
    assert(Ingest.incrementalIngest(merged, page, "event_id").count() == ev.count())
    // empty feed admits the whole page (null watermark)
    val fromEmpty = Ingest.incrementalIngest(existing.filter(lit(false)), page, "event_id")
    assert(fromEmpty.count() == page.count())
  }

  test("distinctStatsApprox cardinalities land within 3·rsd of exact") {
    val ev = Tables.events(spark, sf)
    val rsd = 0.02
    val approx = Quality.distinctStatsApprox(ev, "user_id", "ts", rsd).head()
    val exact = ev.agg(
      count(lit(1)).as("total"),
      count_distinct(col("user_id")).as("keys"),
      count_distinct(col("ts")).as("tss"),
      count_distinct(struct(col("user_id"), col("ts"))).as("keyts")).head()
    assert(approx.getAs[Long]("total_records") == exact.getAs[Long]("total"))
    def within(got: Long, want: Long): org.scalatest.Assertion =
      assert(math.abs(got - want).toDouble / want <= 3 * rsd,
        s"approx $got vs exact $want exceeds 3*rsd")
    within(approx.getAs[Long]("unique_keys_approx"), exact.getAs[Long]("keys"))
    within(approx.getAs[Long]("unique_timestamps_approx"), exact.getAs[Long]("tss"))
    within(approx.getAs[Long]("unique_key_ts_approx"), exact.getAs[Long]("keyts"))
  }

  test("valueStatsApprox quantiles land within rank-error of exact") {
    val ev = Tables.events(spark, sf)
    val approx = Quality.valueStatsApprox(ev, "value", 10000).head()
    val exact = Quality.valueStats(ev, "value").head()
    // moments are identical (same formulas)
    assert(approx.getAs[Long]("n") == exact.getAs[Long]("n"))
    assert(approx.getAs[Double]("mean") == exact.getAs[Double]("mean"))
    // p50 sketch vs exact median: rank error 1/10000 on this data is
    // within a tight value tolerance
    val spread = exact.getAs[Double]("max") - exact.getAs[Double]("min")
    assert(math.abs(approx.getAs[Double]("p50_approx") - exact.getAs[Double]("median"))
      <= spread * 0.01)
    assert(approx.getAs[Double]("p95_approx") <= approx.getAs[Double]("p99_approx"))
    assert(approx.getAs[Double]("p99_approx") <= approx.getAs[Double]("max"))
  }

  test("validationVerdict applies error/warning thresholds") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").toInstant
    val rows = (0 until 100).map { i =>
      // rows 0 and 1 share a second (1 duplicate group); 10% nulls; one
      // extreme value (1% outliers over the 0.5% warn threshold)
      val sec = if (i == 1) 0L else i * 3600L
      val v: Option[Double] =
        if (i < 10) None
        else if (i == 99) Some(100.0)
        else if (i == 98) Some(2.0)
        else Some(1.0)
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(sec)), "A", v)
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val r = Quality.validationVerdict(df, "key", "ts", "event_id", "value", 5.0, 0.5).head()
    assert(r.getAs[Long]("total_records") == 100)
    assert(r.getAs[Double]("missing_value_pct") == 10.0)
    assert(r.getAs[Long]("duplicate_groups") == 1)
    assert(r.getAs[Double]("extreme_outlier_pct") == 1.0)
    assert(r.getAs[Int]("error_count") == 2)   // missing% > 5, duplicates > 0
    assert(r.getAs[Int]("warning_count") == 1) // outlier% 1.0 > 0.5
    assert(!r.getAs[Boolean]("is_valid"))

    val clean = (0 until 50).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 3600L)), "A", 1.0 + i)
    }.toDF("event_id", "ts", "key", "value")
    val ok = Quality.validationVerdict(clean, "key", "ts", "event_id", "value", 5.0, 2.0).head()
    assert(ok.getAs[Int]("error_count") == 0 && ok.getAs[Boolean]("is_valid"))
  }

  test("mergeAggState equals the full recompute, including new and all-null keys") {
    val history = Seq(
      (1L, "A", Some(1.0)), (2L, "A", Some(2.0)), (3L, "B", Some(5.0)),
      (4L, "C", None: Option[Double])
    ).toDF("event_id", "key", "value")
    val batch = Seq(
      (5L, "A", Some(4.0)),                 // existing key
      (6L, "D", Some(7.0)),                 // brand-new key
      (7L, "C", None: Option[Double])       // still all-null key
    ).toDF("event_id", "key", "value")
    val merged = Ingest.mergeAggState(
      Ingest.aggState(history, "key", "value"), batch, "key", "value")
      .collect().map(r => r.getString(0) -> r).toMap
    val full = Ingest.mergeAggState(
      Ingest.aggState(history.limit(0), "key", "value"),
      history.union(batch), "key", "value")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(merged.keySet == Set("A", "B", "C", "D"))
    merged.keySet.foreach { k =>
      assert(merged(k).toSeq == full(k).toSeq, s"key $k")
    }
    assert(merged("A").getAs[Long]("n") == 3 &&
      merged("A").getAs[Double]("mean_value") == 2.3333)
    assert(merged("C").getAs[Long]("n") == 0 && merged("C").isNullAt(2))
  }

  test("cdcMerge applies upserts and deletes, latest change per key wins") {
    val base = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (2L, ts("2024-01-01 00:00:00"), 20.0),
      (3L, ts("2024-01-01 00:00:00"), 30.0)
    ).toDF("id", "version", "value")
    val changes = Seq(
      (2L, ts("2024-01-02 00:00:00"), 21.0, "U"),
      (2L, ts("2024-01-03 00:00:00"), 22.0, "U"), // later version supersedes
      (3L, ts("2024-01-02 00:00:00"), 0.0, "D"),  // delete
      (4L, ts("2024-01-02 00:00:00"), 40.0, "I")  // insert of a new key
    ).toDF("id", "version", "value", "op")
    val out = Ingest.cdcMerge(base, changes, "id", "op", "version", "id")
    val m = out.select(col("id"), col("value")).as[(Long, Double)].collect().toMap
    assert(m == Map(1L -> 10.0, 2L -> 22.0, 4L -> 40.0))
  }

  test("cdcMerge with a delete-then-reinsert keeps the latest op") {
    val base = Seq((1L, 0L, 1.0)).toDF("id", "version", "value")
    val changes = Seq(
      (1L, 1L, 0.0, "D"),
      (1L, 2L, 9.0, "I") // reinsert after the delete — latest wins
    ).toDF("id", "version", "value", "op")
    val out = Ingest.cdcMerge(base, changes, "id", "op", "version", "id")
    assert(out.select(col("id"), col("value")).as[(Long, Double)].collect().toSeq ==
      Seq((1L, 9.0)))
  }

  test("scd2History collapses unchanged runs into tiling validity intervals") {
    val changes = Seq(
      (1L, ts("2024-01-01 00:00:00"), "A", Some("x")),
      (2L, ts("2024-01-02 00:00:00"), "A", Some("x")),  // unchanged → collapses
      (3L, ts("2024-01-03 00:00:00"), "A", Some("y")),  // change
      (4L, ts("2024-01-04 00:00:00"), "A", None),       // value → null is a change
      (5L, ts("2024-01-05 00:00:00"), "A", None),       // null → null collapses
      (6L, ts("2024-01-06 00:00:00"), "A", Some("y")),  // null → value is a change
      (7L, ts("2024-01-01 00:00:00"), "B", Some("z"))
    ).toDF("event_id", "ts", "key", "attr")
    val out = Ingest.scd2History(changes, "key", "ts", Seq("attr"), "event_id")
      .select(col("key"), col("attr"), col("valid_from"), col("valid_to"), col("is_current"))
      .as[(String, Option[String], Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      ("A", Some("x"), ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false),
      ("A", Some("y"), ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00")), false),
      ("A", None,      ts("2024-01-04 00:00:00"), Some(ts("2024-01-06 00:00:00")), false),
      ("A", Some("y"), ts("2024-01-06 00:00:00"), None, true),
      ("B", Some("z"), ts("2024-01-01 00:00:00"), None, true)))
    // intervals tile: each key's valid_to chain equals the next valid_from,
    // exactly one open (current) version per key
    assert(out.count(_._5) == 2)
  }

  test("snapshotReconcile classifies all four mismatch kinds, drops matching keys") {
    val snapshot = Seq(("A", Some(1L)), ("A", Some(2L)), ("B", Some(5L)),
      ("C", Some(9L)), ("D", Some(7L)), ("F", Some(4L)), ("F", None))
      .toDF("key", "digest")
    val state = Seq(("A", Some(1L)), // A lost a row -> count_mismatch
      ("B", Some(6L)),               // B corrupted  -> digest_mismatch
      // C absent entirely           -> missing_in_state
      ("D", Some(7L)),               // D matches    -> dropped
      ("E", Some(3L)),               // E extra      -> missing_in_snapshot
      ("F", None), ("F", Some(4L)))  // null digests reconcile by count -> dropped
      .toDF("key", "digest")
    val out = Ingest.snapshotReconcile(state, snapshot, "key", "digest")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("status")).toMap
    assert(out == Map("A" -> "count_mismatch", "B" -> "digest_mismatch",
      "C" -> "missing_in_state", "E" -> "missing_in_snapshot"))
  }

  test("psiDrift flags a category-mix inversion the mean check cannot see") {
    def rows(key: String, day: String, cat: String, n: Int) =
      (1 to n).map(_ => (key, ts(s"$day 00:00:00"), cat))
    // current window [Jan 25, Feb 1], reference [Jan 11, Jan 25)
    val df = (rows("X", "2024-02-01", "click", 5) ++ rows("X", "2024-01-30", "view", 5) ++
      rows("X", "2024-01-20", "click", 5) ++ rows("X", "2024-01-20", "view", 5) ++
      rows("Y", "2024-01-20", "click", 10) ++ rows("Y", "2024-01-30", "view", 10) ++
      rows("Z", "2024-01-30", "click", 3) // current-only key: excluded
    ).toDF("key", "ts", "cat")
    val out = Quality.psiDrift(df, "key", "ts", "cat", Seq("click", "view"), 14, 7, 0.1)
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Double]("psi"), r.getAs[Boolean]("drifted"))).toMap
    assert(out.keySet == Set("X", "Y"))
    assert(out("X")._1 == 0.0 && !out("X")._2) // identical mix: every term exactly 0
    assert(out("Y")._1 > 0.1 && out("Y")._2)   // full inversion: large PSI
  }

  test("ksDrift computes the exact integer KS supremum and flags at the 5% cut") {
    def rows(key: String, day: String, v: Double, n: Int) =
      (1 to n).map(_ => (key, ts(s"$day 00:00:00"), v))
    // current window [Jan 25, Feb 1], reference [Jan 11, Jan 25)
    val df = (
      // x: mass moves 1.00→2.00: cdf gap at v=100 is |3·4−1·4| = 8
      rows("x", "2024-01-20", 1.0, 3) ++ rows("x", "2024-01-20", 2.0, 1) ++
      rows("x", "2024-02-01", 1.0, 1) ++ rows("x", "2024-02-01", 2.0, 3) ++
      rows("x", "2023-12-01", 99.0, 1) ++ // older than the split: excluded
      // y: identical distributions → D = 0
      rows("y", "2024-01-20", 1.0, 2) ++ rows("y", "2024-01-20", 2.0, 2) ++
      rows("y", "2024-02-01", 1.0, 2) ++ rows("y", "2024-02-01", 2.0, 2) ++
      // z: full separation at n=4 each → D=16, 256 > 1.844164·8·16
      rows("z", "2024-01-20", 1.0, 4) ++ rows("z", "2024-02-01", 2.0, 4) ++
      // w: current-only key → dropped (no reference mass)
      rows("w", "2024-02-01", 5.0, 3)
    ).toDF("key", "ts", "value")
    val out = Quality.ksDrift(df, "key", "ts", "value", 14, 7)
      .collect().map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Double]("ks"), r.getAs[Boolean]("drifted")))).toMap
    assert(out.keySet == Set("x", "y", "z"))
    assert(out("x") == ((4L, 4L, 0.5, false)), s"x: ${out("x")}")
    assert(out("y") == ((4L, 4L, 0.0, false)), s"y: ${out("y")}")
    assert(out("z") == ((4L, 4L, 1.0, true)), s"z: ${out("z")}")
  }

  test("backfillPlan reports exactly the missing and short days") {
    import java.sql.Timestamp
    // 10 days × 24 hourly rows; day 4 absent, day 7 torn to 6 rows
    val rows = for {
      d <- 1 to 10 if d != 4
      h <- 0 until 24 if d != 7 || h < 6
    } yield (d * 100L + h, Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"))
    val df = rows.toDF("event_id", "ts")
    val plan = Ingest.backfillPlan(df, "ts", 0.5)
      .collect().map(r => (r.getAs[Timestamp]("day").toString.take(10),
        r.getAs[Long]("n_rows"), r.getAs[String]("status"))).toSet
    assert(plan == Set(
      ("2024-01-04", 0L, "missing"),
      ("2024-01-07", 6L, "short")), s"got $plan")
    // a healthy feed plans nothing
    val healthy = (1 to 5).flatMap(d => (0 until 24).map(h =>
      (d * 100L + h, Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"))))
      .toDF("event_id", "ts")
    assert(Ingest.backfillPlan(healthy, "ts", 0.5).count() == 0)
  }

  test("snapshotDiff emits the minimal I/U/D set and roundtrips through cdcMerge") {
    val prev = Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("d"), 40.0))
      .toDF("id", "name", "bal")
    val cur = Seq(
      (1L, Some("a"), 10.0),                 // unchanged: no row
      (2L, Some("b"), 25.0),                 // U (value)
      (3L, Some("c"), 30.0),                 // U (null -> value, null-safe)
      (5L, Some("e"), 50.0))                 // I; 4 deleted
      .toDF("id", "name", "bal")
    val diff = Ingest.snapshotDiff(prev, cur, "id", Seq("name", "bal"))
    val got = diff.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("op"),
      Option(r.getAs[String]("name")), r.getAs[Double]("bal"))).toSet
    assert(got == Set(
      (2L, "U", Some("b"), 25.0),
      (3L, "U", Some("c"), 30.0),
      (4L, "D", Some("d"), 40.0),            // tombstone carries PREV values
      (5L, "I", Some("e"), 50.0)), s"got $got")
    // the roundtrip identity: applying the generated change set to prev
    // reproduces cur exactly (op semantics line up with cdcMerge's)
    // cdcMerge keeps the version column in the row (it is data in a6),
    // so both sides carry one; it is dropped before the set compare
    val replayed = Ingest.cdcMerge(prev.withColumn("v", lit(0L)),
      diff.withColumn("v", lit(1L)), "id", "op", "v", "id")
      .select("id", "name", "bal")
    assert(replayed.collect().map(r => (r.getLong(0), Option(r.getString(1)),
      r.getDouble(2))).toSet ==
      cur.collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDouble(2))).toSet)
  }

  test("expectationReport: every rule kind counts its violations in one scan") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Some(1L), Some(5.0), Some("click")),
      (Some(2L), None, Some("view")),          // r1 violation (null value)
      (Some(3L), Some(-1.0), Some("bogus")),   // r2 (below min), r3 (not in set)
      (Some(3L), Some(200.0), Some("Click")),  // r2 (above max), r3, r4 (dup id), r5 (uppercase)
      (None, Some(50.0), Some("view"))         // null id: no unique violation (nulls excluded)
    ).toDF("event_id", "value", "event_type")
    val rules = Seq(
      Quality.ExpectNotNull("r1", "value"),
      Quality.ExpectBetween("r2", "value", Some(0.0), Some(100.0)),
      Quality.ExpectInSet("r3", "event_type", Seq("click", "view")),
      Quality.ExpectUnique("r4", "event_id"),
      Quality.ExpectMatches("r5", "event_type", "^[a-z]+$"),
      // conditional: only the null-value VIEW row violates; rows where
      // the condition is false (or its column null) cannot
      Quality.ExpectImplies("r6", "event_type", "view",
        Quality.ExpectNotNull("_", "value")))
    val rep = Quality.expectationReport(df, rules)
    val got = rep.collect().map(r => r.getAs[String]("rule_id") ->
      ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"),
        r.getAs[Boolean]("pass")))).toMap
    assert(got == Map(
      "r1" -> ((5L, 1L, false)),
      "r2" -> ((5L, 2L, false)),
      "r3" -> ((5L, 2L, false)),
      "r4" -> ((5L, 1L, false)),
      "r5" -> ((5L, 1L, false)),
      "r6" -> ((5L, 1L, false))), s"got $got")
    // a passing suite reports pass=true everywhere
    val clean = Quality.expectationReport(df.filter(col("value") === 5.0),
      rules).collect()
    assert(clean.forall(_.getAs[Boolean]("pass")))
    // per-key twin: the same rules, counters per key
    val byKey = Quality.expectationReportByKey(
      df.withColumn("k", when($"event_type" === "view", "B").otherwise("A")),
      "k", Seq(Quality.ExpectNotNull("kn", "value")))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[String]("rule_id")) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations")))).toMap
    assert(byKey(("B", "kn")) == ((2L, 1L)) && byKey(("A", "kn")) == ((3L, 0L)),
      s"got $byKey")
    // the single-scan contract: the whole suite reads its input once
    val leaves = rep.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1, s"suite must compile to ONE scan, got ${leaves.size}")
  }

  test("freshnessCheck lags against the corpus max and flags stale keys") {
    def ts(d: String) = java.sql.Timestamp.valueOf(d)
    val ev = Seq(
      (1L, Option(ts("2024-01-10 12:00:00"))), // key 1: the corpus max → lag 0
      (1L, Option(ts("2024-01-01 00:00:00"))),
      (2L, Option(ts("2024-01-10 11:00:00"))), // 1h behind → fresh at 1d
      (3L, Option(ts("2024-01-08 12:00:00"))), // 2d behind → stale
      (3L, Option.empty[java.sql.Timestamp]))  // null ts ignored
      .toDF("user_id", "ts")
    val got = Quality.freshnessCheck(ev, "user_id", "ts", 86400L)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("lag_seconds"),
          r.getAs[Boolean]("is_stale")))).toMap
    assert(got(1L) == ((2L, 0L, false)), s"got $got")
    assert(got(2L) == ((1L, 3600L, false)), s"got $got")
    assert(got(3L) == ((1L, 2L * 86400L, true)), s"got $got")
    assert(got.size == 3)
  }

  test("referentialIntegrity counts orphans, null FKs, and childless parents exactly") {
    val child = Seq(
      (Option(1L), "a"), (Option(1L), "b"), (Option(2L), "c"), // resolved
      (Option(9L), "d"), (Option(9L), "e"),                    // orphans (no parent 9)
      (None, "f"))                                             // null FK
      .toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L, 4L).toDF("pk") // 3, 4 childless
    val out = Quality.referentialIntegrity(Seq(
      Quality.FkRelation("child->parent", child, "fk", parent, "pk"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("relation") == "child->parent")
    assert(r.getAs[Long]("n_child") == 5L)
    assert(r.getAs[Long]("n_null_fk") == 1L)
    assert(r.getAs[Long]("n_orphan") == 2L)
    assert(r.getAs[Long]("n_parent") == 4L)
    assert(r.getAs[Long]("n_childless") == 2L)
    assert(r.getAs[Double]("orphan_pct") == 0.4)
    // a fully-resolved relation reports zeros (the healthy-star case)
    val clean = Quality.referentialIntegrity(Seq(
      Quality.FkRelation("ok", child.filter($"fk" <= 2), "fk", parent, "pk")))
      .collect().head
    assert(clean.getAs[Long]("n_orphan") == 0L &&
      clean.getAs[Double]("orphan_pct") == 0.0 &&
      clean.getAs[Long]("n_null_fk") == 0L)
  }

  test("volumeAnomaly baselines on trailing observed days and flags z-score spikes") {
    def day(d: Int, k: Long, rows: Int) = (1 to rows).map(i =>
      (k, ts(f"2024-01-$d%02d ${i % 24}%02d:00:00")))
    // key 1: 3 stable days (2,2,2) then a 10-row spike; key 2: steady
    // climb so std > 0 but no flag; null ts / null key rows ignored
    val ev = (day(1, 1L, 2) ++ day(2, 1L, 2) ++ day(3, 1L, 2) ++ day(4, 1L, 10) ++
      day(1, 2L, 1) ++ day(2, 2L, 2) ++ day(3, 2L, 3) ++ day(4, 2L, 4))
      .map { case (k, t) => (Option(k), Option(t)) }
      .++(Seq((Option(1L), Option.empty[Timestamp]), (Option.empty[Long], Option(ts("2024-01-02 00:00:00")))))
      .toDF("user_id", "ts")
    val got = Quality.volumeAnomaly(ev, "user_id", "ts", 3, 3.0).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("day").toString.take(10)) ->
        ((r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("z")),
          r.getAs[Boolean]("is_anomaly")))).toMap
    // warm-up days (< 3 prior observed days): null z, never flagged
    assert(got((1L, "2024-01-01")) == ((2L, None, false)), s"got $got")
    assert(got((1L, "2024-01-03")) == ((2L, None, false)), s"got $got")
    // key 1 day 4: constant (2,2,2) baseline, std = 0 → moved-at-all flag
    assert(got((1L, "2024-01-04")) == ((10L, None, true)), s"got $got")
    // key 2 day 4: baseline (1,2,3) mean 2 std 1 → z = 2, below 3 → clean
    assert(got((2L, "2024-01-04")) == ((4L, Some(Double.box(2.0)), false)), s"got $got")
    // a constant baseline with an unchanged count stays clean
    val steady = (day(1, 9L, 2) ++ day(2, 9L, 2) ++ day(3, 9L, 2) ++ day(4, 9L, 2))
      .toDF("user_id", "ts")
    val s4 = Quality.volumeAnomaly(steady, "user_id", "ts", 3, 3.0)
      .filter($"day" === ts("2024-01-04 00:00:00")).collect().head
    assert(!s4.getAs[Boolean]("is_anomaly") && s4.getAs[Double]("base_std") == 0.0)
  }

  test("leadingDigitProfile: uniform digits stay clean, single-digit keys flag, zeros drop") {
    // key 1: one value per leading digit 1..9 → chi2 = (9·9 − 81)/9 = 0
    val uniform = (1 to 9).map(d => (1L, d * 10.0))
    // key 2: nine values all leading digit 7 → chi2 = (9·81 − 81)/9 = 72 → flagged
    val spiked = Seq.fill(9)((2L, 7.5))
    // key 3: only zeros → no significant digits → no row
    val zeros = Seq.fill(3)((3L, 0.0))
    val df = (uniform ++ spiked ++ zeros).toDF("user_id", "value")
    val got = Quality.leadingDigitProfile(df, "user_id", "value").collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("chi2_uniform"),
          r.getAs[Boolean]("is_nonuniform")))).toMap
    assert(got(1L) == ((9L, 0.0, false)), s"got $got")
    assert(got(2L) == ((9L, 72.0, true)), s"got $got")
    assert(!got.contains(3L), s"got $got")
    // the digit is the leading digit of the MICRO unit: 0.05 → 50000 → '5'
    val tiny = Seq((9L, 0.05), (9L, 0.05)).toDF("user_id", "value")
    val t9 = Quality.leadingDigitProfile(tiny, "user_id", "value").collect().head
    assert(t9.getAs[Long]("n") == 2L)
    // real data: chi2 non-negative, flags consistent with the cut
    val real = Quality.leadingDigitProfile(Tables.events(spark, sf), "user_id", "value")
      .collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getAs[Double]("chi2_uniform") >= 0.0))
    // the flag agrees with the (half-up-e4-rounded) statistic up to
    // the rounding width of the cut
    real.foreach { r =>
      val chi2 = r.getAs[Double]("chi2_uniform")
      if (r.getAs[Boolean]("is_nonuniform")) assert(chi2 > 15.507 - 1e-4, r.toString)
      else assert(chi2 <= 15.507 + 1e-4, r.toString)
    }
  }

  test("deadLetterLedger emits one row per violated rule; the anti-join is the clean side") {
    val rows = Seq(
      (1L, Option(ts("2024-01-01 00:00:00")), Option("A"), Option("D"), Option(10.0)), // clean
      (2L, Option.empty[Timestamp], Option("A"), Option("D"), Option(-1.0)),           // 2 rules
      (3L, Option(ts("2024-01-01 00:00:00")), Option.empty[String], Option("X"), Option(1.0)), // 2 rules
      (4L, Option(ts("2024-01-01 00:00:00")), Option("B"), Option.empty[String], Option.empty[Double])) // null value; NULL type NOT bad_type
      .toDF("event_id", "ts", "key", "type", "value")
    val ledger = Ingest.deadLetterLedger(rows, "event_id", "ts", "key", "type", "value", Seq("D", "E"))
    val got = ledger.collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("reason"))).toSet
    assert(got == Set(
      (2L, "null_period"), (2L, "negative_value"),
      (3L, "null_respondent"), (3L, "bad_type"),
      (4L, "null_value")), s"got $got")
    // the left-anti join against the ledger is exactly the clean rows
    val clean = rows.join(ledger, Seq("event_id"), "left_anti")
      .select("event_id").as[Long].collect().toSet
    assert(clean == Set(1L))
    // the ledger's per-rule totals must agree with b1's aggregate counts
    val b1 = Quality.schemaViolations(rows, "ts", "key", "type", "value", Seq("D", "E"))
      .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Long]("violations")).toMap
    val byRule = ledger.groupBy("reason").count().collect()
      .map(r => r.getAs[String]("reason") -> r.getAs[Long]("count")).toMap
    b1.foreach { case (rule, n) =>
      assert(byRule.getOrElse(rule, 0L) == n, s"$rule: ledger $byRule vs b1 $b1")
    }
  }
}
