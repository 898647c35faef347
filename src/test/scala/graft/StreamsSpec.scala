package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import graft.validate.Quality

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  lazy val ev = Seq(
    (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 1.0),
    (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "view", 2.0),
    (3L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L, "view", 3.0), // new session (gap > 30min)
    (4L, Timestamp.valueOf("2024-01-01 10:05:00"), 8L, "click", 4.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize splits on the inactivity gap and rolls up") {
    val out = Streams.sessionize(ev, "user_id", "ts", "event_id", "value", 1800L)
    val u7 = out.filter(col("user_id") === 7L).orderBy("session_id").collect()
    assert(u7.length == 2)
    assert(u7(0).getAs[Long]("n_events") == 2 && u7(0).getAs[Double]("sum_value") == 3.0)
    assert(u7(1).getAs[Long]("n_events") == 1 && u7(1).getAs[Double]("sum_value") == 3.0)
  }

  test("tumblingWindow buckets by hour") {
    val out = Streams.tumblingWindow(ev, "ts", "event_type", "value", "hour")
    assert(out.count() == 3) // (10h view), (12h view), (10h click)
  }

  test("streamDedup keeps first occurrence per key") {
    val dup = ev.union(ev) // every event duplicated
    val out = Streams.streamDedup(
      dup.select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("period"), col("value")),
      Seq("user_id", "event_type", "period"), "event_id")
    assert(out.count() == 4)
  }

  test("tumblingWindowStream aggregates a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.tumblingWindowStream(df, "ts", "event_type", "value", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("twtest").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "view", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "view", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 4.0))
      q.processAllAvailable()
      val res = spark.table("twtest").collect()
      assert(res.length == 2)
      assert(res.map(_.getAs[Double]("sum_value")).toSet == Set(3.0, 4.0))
    } finally q.stop()
  }

  test("windowedQuality counts violations per window, batch and stream agree") {
    val bad = ev.union(Seq(
      (5L, Timestamp.valueOf("2024-01-01 10:20:00"), 9L, "view", -2.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value"))
    val batch = Streams.windowedQuality(bad, "ts", "value", "hour")
      .orderBy("window_start").collect()
    assert(batch.length == 2)
    assert(batch(0).getAs[Long]("negative_values") == 1L)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = Streams.windowedQualityStream(
      input.toDF().toDF("ts", "value"), "ts", "value", "1 hour", "1 hour")
    val q = out.writeStream.outputMode("complete").format("memory").queryName("wqtest").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
        (Timestamp.valueOf("2024-01-01 10:10:00"), -3.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), 2.0))
      q.processAllAvailable()
      val res = spark.table("wqtest").collect()
      assert(res.length == 2)
      assert(res.map(_.getAs[Long]("negative_values")).sum == 1L)
    } finally q.stop()
  }

  test("hoppingWindow lands each event in size/hop windows, batch and stream agree") {
    val hopEv = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-01 11:30:00"), 2.0)
    ).toDF("event_id", "ts", "value")
    val batch = Streams.hoppingWindow(hopEv, "ts", "value", "2 hours", "1 hour")
      .orderBy("window_start").collect()
    // windows: [09,11) {e1}, [10,12) {e1,e2}, [11,13) {e2}
    assert(batch.length == 3)
    assert(batch.map(_.getAs[Long]("n")).toSeq == Seq(1L, 2L, 1L))
    assert(batch(1).getAs[Double]("sum_value") == 3.0)
    assert(batch(1).getAs[Timestamp]("window_start") ==
      Timestamp.valueOf("2024-01-01 10:00:00"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val stream = Streams.hoppingWindowStream(
      input.toDF().toDF("ts", "value"), "ts", "value", "2 hours", "1 hour", "1 hour")
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("hoptest").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:30:00"), 1.0),
        (Timestamp.valueOf("2024-01-01 11:30:00"), 2.0))
      q.processAllAvailable()
      val res = spark.table("hoptest").orderBy("window_start").collect()
      assert(res.map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSeq ==
        batch.map(r => (r.getAs[Timestamp]("window_start"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSeq)
    } finally q.stop()
  }

  test("intervalJoin counts same-key matches within the preceding window, batch and stream agree") {
    val iv = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "purchase", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 10:20:00"), 7L, "view", 1.0),  // sees purchase @10:00
      (3L, Timestamp.valueOf("2024-01-01 10:40:00"), 7L, "view", 1.0),  // 40min later: sees nothing
      (4L, Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "view", 1.0)   // other user: nothing
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Streams.intervalJoin(iv, "user_id", "ts", "event_id",
      "event_type", "value", "purchase", 1800L)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_matched"), r.getAs[Double]("matched_value"))).toMap
    assert(out(1L) == ((1L, 10.0))) // the purchase sees itself
    assert(out(2L) == ((1L, 10.0)))
    assert(out(3L) == ((0L, 0.0)))
    assert(out(4L) == ((0L, 0.0)))

    // stream-stream interval join twin emits the matched pairs
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("buy_user", "buy_ts", "buy_value"),
      "user_id", "ts", "buy_user", "buy_ts", 1800L, "1 minute")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ivjtest").start()
    try {
      buys.addData((7L, Timestamp.valueOf("2024-01-01 10:00:00"), 10.0))
      clicks.addData(
        (7L, Timestamp.valueOf("2024-01-01 10:20:00")),  // inside the 30-min window
        (7L, Timestamp.valueOf("2024-01-01 10:40:00")),  // outside
        (8L, Timestamp.valueOf("2024-01-01 10:20:00")))  // wrong key
      q.processAllAvailable()
      val res = spark.table("ivjtest").collect()
      assert(res.length == 1)
      assert(res.head.getAs[Long]("user_id") == 7L &&
        res.head.getAs[Double]("buy_value") == 10.0)
    } finally q.stop()
  }

  test("streamDedupStream drops duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val out = Streams.streamDedupStream(df, "ts", Seq("user_id", "event_type"), "1 hour")
    val q = out.writeStream.outputMode("append").format("memory").queryName("ddtest").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"),
        (Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"), // exact dup
        (Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "view"), // same key, new ts
        (Timestamp.valueOf("2024-01-01 10:00:00"), 8L, "click"))
      q.processAllAvailable()
      input.addData( // replayed duplicate in a later batch, still in watermark
        (Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"))
      q.processAllAvailable()
      assert(spark.table("ddtest").count() == 3)
    } finally q.stop()
  }

  // ---- late-data watermark-boundary behavior ----
  // Watermark mechanics under test: the watermark used by batch N is
  // derived from data seen through batch N-1 (max event time − delay).
  // A late row whose window is still open (window end > watermark) must
  // be counted when the window finally emits; a late row whose window
  // the watermark already closed must be silently dropped.

  private def ts(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

  test("f2 tumblingWindowStream: late row inside watermark counts, beyond watermark drops") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingWindowStream(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", "value", "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("twlate").start()
    try {
      input.addData((ts("10:05"), "view", 1.0), (ts("10:40"), "view", 2.0),
        (ts("11:30"), "view", 4.0))
      q.processAllAvailable() // watermark now 11:20 — window [10,11) closed
      input.addData(
        (ts("11:10"), "view", 8.0),  // late (max seen 11:30) but [11,12) open → counted
        (ts("10:30"), "view", 16.0), // [10,11) end 11:00 ≤ wm 11:20 → dropped
        (ts("12:30"), "view", 32.0)) // advances wm to 12:20
      q.processAllAvailable()
      input.addData((ts("14:00"), "view", 0.5)) // close [11,12)
      q.processAllAvailable()
      val byWindow = spark.table("twlate").collect()
        .map(r => r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[Timestamp]("start") -> (r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
        .toMap
      assert(byWindow(ts("10:00")) == ((2L, 3.0)))  // 16.0 NOT here: dropped
      assert(byWindow(ts("11:00")) == ((2L, 12.0))) // 8.0 IS here: within watermark
    } finally q.stop()
  }

  test("f4 windowedQualityStream: a violation arriving beyond the watermark is not counted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = Streams.windowedQualityStream(
      input.toDF().toDF("ts", "value"), "ts", "value", "1 hour", "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("wqlate").start()
    try {
      input.addData((ts("10:05"), 1.0), (ts("10:40"), -3.0), (ts("11:30"), 4.0))
      q.processAllAvailable() // wm 11:20
      input.addData(
        (ts("10:50"), -99.0), // late negative, window closed → violation never surfaces
        (ts("11:10"), -5.0),  // late negative, window open → counted
        (ts("12:30"), 1.0))
      q.processAllAvailable()
      input.addData((ts("14:00"), 1.0))
      q.processAllAvailable()
      val byWindow = spark.table("wqlate").collect()
        .map(r => r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[Timestamp]("start") ->
          (r.getAs[Long]("n"), r.getAs[Long]("negative_values"), r.getAs[Double]("sum_value")))
        .toMap
      assert(byWindow(ts("10:00")) == ((2L, 1L, -2.0))) // -99 dropped, its violation unseen
      assert(byWindow(ts("11:00")) == ((2L, 1L, -1.0))) // -5 within watermark: counted
    } finally q.stop()
  }

  test("f5 hoppingWindowStream: a late row is dropped from its closed window, counted in its open one") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val stream = Streams.hoppingWindowStream(
      input.toDF().toDF("ts", "value"), "ts", "value", "2 hours", "1 hour", "10 minutes")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("hoplate").start()
    try {
      input.addData((ts("10:30"), 1.0), (ts("11:55"), 2.0))
      q.processAllAvailable() // wm 11:45: [09,11) closed, [10,12) open
      // the late row belongs to BOTH [09,11) and [10,12): per-window
      // lateness means it vanishes from the closed window but still
      // lands in the open one
      input.addData((ts("10:45"), 4.0), (ts("14:00"), 8.0))
      q.processAllAvailable()
      input.addData((ts("16:00"), 0.5))
      q.processAllAvailable()
      val byWindow = spark.table("hoplate").collect()
        .map(r => r.getAs[Timestamp]("window_start") ->
          (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
      assert(byWindow(ts("09:00")) == ((1L, 1.0))) // late 4.0 dropped here
      assert(byWindow(ts("10:00")) == ((3L, 7.0))) // ...but counted here
      assert(byWindow(ts("11:00")) == ((1L, 2.0)))
    } finally q.stop()
  }

  test("f6 intervalJoinStream: late match inside watermark still joins, beyond watermark never emits") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      buys.toDF().toDF("buy_id", "buy_user", "buy_ts"),
      "user_id", "ts", "buy_user", "buy_ts", 600L, "10 minutes")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ivjlate").start()
    try {
      clicks.addData((1L, 7L, ts("10:30")), (2L, 7L, ts("11:30")))
      buys.addData((101L, 7L, ts("10:25"))) // joins click 1 ([10:20,10:30])
      q.processAllAvailable() // global wm = min(11:20, 10:15) = 10:15
      // late buy, still ≥ watermark: the retained click state joins it
      buys.addData((102L, 7L, ts("10:28")))
      q.processAllAvailable()
      // both sides advance → wm 12:50
      clicks.addData((3L, 7L, ts("13:00")))
      buys.addData((103L, 7L, ts("13:00")))
      q.processAllAvailable()
      // a buy below the watermark is dropped at ingress: no pair may
      // appear even though it would have matched click 1 in event time
      buys.addData((104L, 7L, ts("10:29")))
      q.processAllAvailable()
      val pairs = spark.table("ivjlate").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("buy_id"))).toSet
      assert(pairs == Set((1L, 101L), (1L, 102L), (3L, 103L)))
    } finally q.stop()
  }

  test("sessionizeStream emits closed sessions via event-time timeout semantics") {
    implicit val sqlCtx = spark.sqlContext
    def ev(key: Long, epochSec: Long, value: Double) =
      Streams.SessionEvent(key, new Timestamp(epochSec * 1000), value)
    val input = MemoryStream[Streams.SessionEvent]
    val out = Streams.sessionizeStream(input.toDS(), 1800L)
    val q = out.writeStream.outputMode("append").format("memory").queryName("sesstest").start()
    try {
      // two bursts in one batch: the first closes in-batch when the second begins
      input.addData(ev(7L, 1000L, 1.0), ev(7L, 1600L, 2.0), ev(7L, 9999L, 3.0))
      q.processAllAvailable()
      val res1 = spark.table("sesstest").as[Streams.SessionOut].collect()
      assert(res1.length == 1)
      assert(res1.head.n == 2 && res1.head.sum == 3.0 && res1.head.sessionStart == 1000L)
      // a later event pushes the watermark past 9999+1800 → key 7's open
      // session times out and is emitted
      input.addData(ev(8L, 20000L, 1.0))
      q.processAllAvailable()
      val res2 = spark.table("sesstest").as[Streams.SessionOut].collect()
      assert(res2.length == 2)
      val late = res2.find(_.sessionStart == 9999L).get
      assert(late.key == 7L && late.n == 1 && late.sum == 3.0)
    } finally q.stop()
  }

  test("f12 windowFunnelStream: reach rows aggregate to the batch funnel histogram") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // user 7: full in-window chain; user 8: click precedes any view
    // (ordered semantics must reject); user 9: chain whose purchase
    // falls outside the window of its FIRST step but a LATER view
    // re-anchors a valid chain (the greedy running-max case);
    // user 10: reaches depth 2 only
    def fe(id: Long, t: String, u: Long, typ: String) =
      Streams.FunnelEvent(u, Timestamp.valueOf(t), id, typ)
    val feed = Seq(
      fe(1L, "2024-01-01 10:00:00", 7L, "view"),
      fe(2L, "2024-01-01 10:05:00", 7L, "click"),
      fe(3L, "2024-01-01 10:20:00", 7L, "purchase"),
      fe(4L, "2024-01-01 10:00:00", 8L, "click"),
      fe(5L, "2024-01-01 10:10:00", 8L, "purchase"),
      fe(6L, "2024-01-01 09:00:00", 9L, "view"),
      fe(7L, "2024-01-01 10:30:00", 9L, "view"), // re-anchor
      fe(8L, "2024-01-01 10:40:00", 9L, "click"),
      fe(9L, "2024-01-01 10:50:00", 9L, "purchase"),
      fe(10L, "2024-01-01 11:00:00", 10L, "view"),
      fe(11L, "2024-01-01 11:05:00", 10L, "click"))
    val batchDf = feed.map(e => (e.id, e.ts, e.user, e.eventType))
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = graft.analytics.Analytics.windowFunnel(batchDf, "user_id", "ts",
      "event_id", "event_type", steps, 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(batch == Seq((1L, 3L), (2L, 3L), (3L, 2L)), s"batch sanity: $batch")

    val input = MemoryStream[Streams.FunnelEvent]
    val out = Streams.windowFunnelStream(input.toDS(), steps, 1800L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funneltest").start()
    try {
      // fed in event-time order across two micro-batches — state
      // (anchors + emitted depth) must carry across the boundary
      val (b1, b2) = feed.sortBy(e => (e.ts.getTime, e.id)).splitAt(6)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val hist = spark.table("funneltest").as[Streams.FunnelReach]
        .groupBy("step").agg(countDistinct("user").as("n_users"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(hist == batch, s"stream $hist vs batch $batch")
      val rows = spark.table("funneltest").as[Streams.FunnelReach].collect()
      // the documented at-least-once contract across state lifetimes,
      // pinned: user 9's 09:00 anchor state hit its event-time horizon
      // (09:30 < watermark 10:20 after batch 1) and was evicted, so the
      // 10:30 re-anchor opens a fresh lifetime and re-emits depth 1 —
      // the ONLY duplicate; within a lifetime every reach is
      // exactly-once (users 7, 8, 10 never evict here)
      val dups = rows.groupBy(r => (r.user, r.step)).filter(_._2.length > 1).keys
      assert(dups.toSet == Set((9L, 1L)), s"unexpected duplicates: $dups")
      assert(rows.forall(r => r.stepName == steps(r.step.toInt - 1)))
    } finally q.stop()
  }

  test("f12 windowFunnelStream: a below-watermark event never deepens an evicted chain") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click")
    def fe(id: Long, epochSec: Long, u: Long, typ: String) =
      Streams.FunnelEvent(u, new Timestamp(epochSec * 1000), id, typ)
    val input = MemoryStream[Streams.FunnelEvent]
    val out = Streams.windowFunnelStream(input.toDS(), steps, 600L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnellate").start()
    try {
      input.addData(fe(1L, 1000L, 7L, "view"))
      q.processAllAvailable()
      // another user's event drives the watermark far past 1000+600:
      // user 7's anchor state times out and is evicted
      input.addData(fe(2L, 100000L, 8L, "view"))
      q.processAllAvailable()
      // user 7's click at t=1200 is below the watermark → dropped
      // before the operator; admitting it would deepen a chain whose
      // anchors no longer exist (arrival-order-dependent output)
      input.addData(fe(3L, 1200L, 7L, "click"))
      q.processAllAvailable()
      val reaches = spark.table("funnellate").as[Streams.FunnelReach].collect()
      assert(reaches.map(r => (r.user, r.step)).toSet ==
        Set((7L, 1L), (8L, 1L)), s"got ${reaches.toSeq}")
    } finally q.stop()
  }

  test("f9 rateCap keeps the first N per (key, window), batch and stream agree") {
    // user 7, hour 10: four events → cap 2 keeps the two earliest by
    // (ts, id); hour 11 opens a fresh budget; user 8 independent
    val caps = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:10"), 7L),
      (2L, Timestamp.valueOf("2024-01-01 10:00:10"), 7L), // tie → id breaks
      (3L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L), // over cap
      (4L, Timestamp.valueOf("2024-01-01 10:45:00"), 7L), // over cap
      (5L, Timestamp.valueOf("2024-01-01 11:05:00"), 7L), // new window
      (6L, Timestamp.valueOf("2024-01-01 10:59:00"), 8L)
    ).toDF("event_id", "ts", "user_id")
    val batch = Streams.rateCap(caps, "user_id", "ts", "event_id", "hour", 2)
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("seq")))
      .sortBy(_._1)
    assert(batch.toSeq == Seq((1L, 1L), (2L, 2L), (5L, 1L), (6L, 1L)), s"got ${batch.toSeq}")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.CapEvent]
    val out = Streams.rateCapStream(input.toDS(), 3600L, 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("captest").start()
    try {
      // fed in event-time order across two micro-batches: the counter
      // must persist between batches (event 3 arrives later but is
      // still over hour-10's budget)
      input.addData(
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:00:10"), 1L),
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:00:10"), 2L),
        Streams.CapEvent(8L, Timestamp.valueOf("2024-01-01 10:59:00"), 6L))
      q.processAllAvailable()
      input.addData(
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:30:00"), 3L),
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:45:00"), 4L),
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 11:05:00"), 5L))
      q.processAllAvailable()
      val res = spark.table("captest").as[Streams.CapOut].collect()
      assert(res.map(o => (o.id, o.seq)).sortBy(_._1).toSeq ==
        Seq((1L, 1L), (2L, 2L), (5L, 1L), (6L, 1L)),
        s"got ${res.toSeq}")
      // window starts align with the batch form's date_trunc
      assert(res.forall(o =>
        o.windowStart.getTime % (3600L * 1000) == 0 &&
          o.period.getTime >= o.windowStart.getTime))
    } finally q.stop()
  }

  test("f7 staticEnrich joins the dimension and aggregates, batch and stream agree") {
    val dim = Seq((7L, "BUILDING"), (8L, "MACHINERY"), (9L, "FURNITURE"))
      .toDF("c_custkey", "c_mktsegment")
    val batch = Streams.staticEnrich(ev, dim, "user_id", "c_custkey",
      "ts", "c_mktsegment", "value", "hour")
      .orderBy("window_start", "c_mktsegment").collect()
    // 10:00 BUILDING {e1,e2}=3.0, 10:00 MACHINERY {e4}=4.0, 12:00 BUILDING {e3}=3.0
    assert(batch.map(r => (r.getAs[Timestamp]("window_start"),
      r.getAs[String]("c_mktsegment"), r.getAs[Long]("n"),
      r.getAs[Double]("sum_value"))).toSeq == Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "BUILDING", 2L, 3.0),
      (Timestamp.valueOf("2024-01-01 10:00:00"), "MACHINERY", 1L, 4.0),
      (Timestamp.valueOf("2024-01-01 12:00:00"), "BUILDING", 1L, 3.0)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = Streams.staticEnrichStream(
      input.toDF().toDF("user_id", "ts", "value"), dim, "user_id", "c_custkey",
      "ts", "c_mktsegment", "value", "1 hour", "1 hour")
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("enrichtest").start()
    try {
      input.addData(
        (7L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (7L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
        (7L, Timestamp.valueOf("2024-01-01 12:00:00"), 3.0),
        (8L, Timestamp.valueOf("2024-01-01 10:05:00"), 4.0),
        (99L, Timestamp.valueOf("2024-01-01 10:05:00"), 50.0)) // no dim row: excluded
      q.processAllAvailable()
      val res = spark.table("enrichtest").orderBy("window_start", "c_mktsegment").collect()
      assert(res.map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[String]("c_mktsegment"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value"))).toSeq ==
        batch.map(r => (r.getAs[Timestamp]("window_start"),
          r.getAs[String]("c_mktsegment"), r.getAs[Long]("n"),
          r.getAs[Double]("sum_value"))).toSeq)
    } finally q.stop()
  }

  test("f10 sessionWindowAgg merges at exactly-gap and matches the streaming session operator") {
    // batch: event at exactly last+gap MERGES (break is strictly > gap)
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 2.0),  // = gap → same session
      (1L, Timestamp.valueOf("2024-01-01 11:00:01"), 4.0),  // gap+1 → new session
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 8.0))
      .toDF("user_id", "ts", "value")
    val batch = Streams.sessionWindowAgg(df, "user_id", "ts", "value", 1800L)
      .orderBy("user_id", "session_start").collect()
    val got = batch.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
      r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSeq
    assert(got == Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), Timestamp.valueOf("2024-01-01 11:00:00"), 2L, 3.0),
      (1L, Timestamp.valueOf("2024-01-01 11:00:01"), Timestamp.valueOf("2024-01-01 11:30:01"), 1L, 4.0),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 8.0)), s"got $got")

    // streaming twin on the same rows: append-mode sessions equal the
    // batch result once the watermark closes them
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = Streams.sessionWindowAggStream(
      input.toDF().toDF("user_id", "ts", "value"), "user_id", "ts", "value",
      1800L, "0 seconds")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("swtest").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 2.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 8.0))
      q.processAllAvailable()
      input.addData((1L, Timestamp.valueOf("2024-01-01 11:00:01"), 4.0))
      q.processAllAvailable()
      // advance the watermark far enough to close every session
      input.addData((9L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      val res = spark.table("swtest")
        .filter($"user_id" =!= 9L).orderBy("user_id", "session_start").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start"), r.getAs[Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSeq
      assert(res == got, s"stream $res != batch $got")
    } finally q.stop()
  }

  // ---- late-data contracts for the stateful F-group (round-9 verdict
  // item 6): rows OLDER than the watermark are silently DROPPED by the
  // streams (state for them was evicted — emitting would double-count
  // or resurrect closed state); a batch re-run over the full feed
  // ABSORBS them. These specs pin the drop side, the failure mode
  // production replay/backfill actually hits.

  test("f3 streamDedupStream: a row older than the watermark is dropped, even if never seen") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streams.streamDedupStream(
      input.toDF().toDF("ts", "user_id", "event_type"),
      "ts", Seq("user_id", "event_type"), "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ddlate").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"))
      q.processAllAvailable()
      // advance the watermark to 14:00 (15:00 − 1 hour delay)
      input.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 7L, "view"))
      q.processAllAvailable()
      // late rows below the watermark: a replayed duplicate AND a
      // never-seen key — both must vanish (dedup state for that region
      // of event time is already evicted; admitting the fresh key here
      // would make output depend on arrival order)
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"),
        (Timestamp.valueOf("2024-01-01 10:00:00"), 99L, "click"))
      q.processAllAvailable()
      val keys = spark.table("ddlate").select("user_id").as[Long].collect().sorted
      assert(keys.toSeq == Seq(7L, 7L), s"late rows must drop, got keys ${keys.toSeq}")
    } finally q.stop()
  }

  test("f9 rateCapStream: a late event below the watermark never re-opens a cleared window counter") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.CapEvent]
    val out = Streams.rateCapStream(input.toDS(), 3600L, 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("caplate").start()
    try {
      input.addData(
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:00:10"), 1L),
        Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:00:20"), 2L))
      q.processAllAvailable()
      // watermark → 13:00; hour-10's counter state times out and clears
      input.addData(Streams.CapEvent(8L, Timestamp.valueOf("2024-01-01 13:00:00"), 3L))
      q.processAllAvailable()
      // a late hour-10 event: with the counter gone, admitting it would
      // grant a THIRD admit against a budget of 2 — it must be dropped
      // before the stateful operator instead
      input.addData(Streams.CapEvent(7L, Timestamp.valueOf("2024-01-01 10:30:00"), 9L))
      q.processAllAvailable()
      val ids = spark.table("caplate").as[Streams.CapOut].collect().map(_.id).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"late event must drop, got ids ${ids.toSeq}")
    } finally q.stop()
  }

  test("f10 sessionWindowAggStream: a late row cannot extend or resurrect an emitted session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = Streams.sessionWindowAggStream(
      input.toDF().toDF("user_id", "ts", "value"), "user_id", "ts", "value",
      1800L, "0 seconds")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("swlate").start()
    try {
      input.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // watermark passes the session end → the session emits closed
      input.addData((9L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      val emitted = spark.table("swlate").filter($"user_id" === 1L).collect()
      assert(emitted.length == 1 && emitted.head.getAs[Long]("n_events") == 1L)
      // a late row that WOULD have merged into the emitted session
      // (10:15 < 10:00 + gap) — append mode cannot retract, so the
      // stream must drop it: no new row, no extra session fragment
      input.addData((1L, Timestamp.valueOf("2024-01-01 10:15:00"), 5.0))
      q.processAllAvailable()
      val after = spark.table("swlate").filter($"user_id" === 1L).collect()
      assert(after.length == 1 && after.head.getAs[Long]("n_events") == 1L,
        s"late row must drop, got ${after.toSeq}")
    } finally q.stop()
  }

  private val f11Domain = Seq("a", "b")
  private val f11Ref = Seq("a" -> 6L, "b" -> 3L, "__other__" -> 1L)

  /** The f11 PSI reference formula, mirrored in plain Scala. */
  private def psiMicro(counts: Seq[Long], ref: Seq[Long]): Long = {
    val k = ref.size
    val nCur = counts.sum; val nRef = ref.sum
    counts.zip(ref).map { case (c, r) =>
      val pc = (c + 1).toDouble / (nCur + k)
      val pr = (r + 1).toDouble / (nRef + k)
      math.floor((pc - pr) * math.log(pc / pr) * 1e6).toLong
    }.sum
  }

  test("f11 windowedDrift scores each window's PSI exactly, batch and stream agree") {
    implicit val sqlCtx = spark.sqlContext
    // window 10: 4a 1b 1null; window 11: 3a 1b 1'zz' (out-of-domain)
    val rows: Seq[(Timestamp, String)] =
      Seq.fill(4)((ts("10:05"), "a")) ++ Seq((ts("10:10"), "b"), (ts("10:15"), null)) ++
      Seq.fill(3)((ts("11:05"), "a")) ++ Seq((ts("11:10"), "b"), (ts("11:15"), "zz"))
    val batch = Streams.windowedDrift(rows.toDF("ts", "event_type"),
      "ts", "event_type", f11Domain, f11Ref)
      .collect().map(r => r.getAs[Timestamp]("window_start") ->
        ((r.getAs[Long]("n_cur"), r.getAs[Double]("psi"), r.getAs[Boolean]("drifted")))).toMap
    val exp10 = psiMicro(Seq(4L, 1L, 1L), f11Ref.map(_._2))
    val exp11 = psiMicro(Seq(3L, 1L, 1L), f11Ref.map(_._2))
    assert(batch(ts("10:00")) == ((6L, exp10.toDouble / 1e6, exp10 > 100000L)),
      s"got ${batch(ts("10:00"))}, want micro $exp10")
    assert(batch(ts("11:00")) == ((5L, exp11.toDouble / 1e6, exp11 > 100000L)))
    // stream twin on the same rows (complete mode): identical output
    val input = MemoryStream[(Timestamp, String)]
    val agg = Streams.windowedDriftStream(input.toDF().toDF("ts", "event_type"),
      "ts", "event_type", f11Domain, f11Ref, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("f11par").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("f11par").collect()
        .map(r => r.getAs[Timestamp]("window_start") ->
          ((r.getAs[Long]("n_cur"), r.getAs[Double]("psi"), r.getAs[Boolean]("drifted")))).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("f11 windowedDriftStream: below-watermark rows drop from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = Streams.windowedDriftStream(input.toDF().toDF("ts", "event_type"),
      "ts", "event_type", f11Domain, f11Ref, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("f11late").start()
    try {
      input.addData((ts("10:05"), "a"), (ts("10:40"), "b"), (ts("11:30"), "a"))
      q.processAllAvailable() // wm 11:20 → [10,11) closed and emitted
      input.addData(
        (ts("10:30"), "a"),  // below watermark → DROPPED
        (ts("11:10"), "b"))  // late but [11,12) still open → ABSORBED
      q.processAllAvailable()
      input.addData((ts("14:00"), "a")) // close [11,12)
      q.processAllAvailable()
      val out = spark.table("f11late").collect()
        .map(r => r.getAs[Timestamp]("window_start") -> r.getAs[Long]("n_cur")).toMap
      assert(out(ts("10:00")) == 2L, s"dropped row must not reopen [10,11): $out")
      assert(out(ts("11:00")) == 2L, s"open-window late row must absorb: $out")
      // a batch re-run over the full feed ABSORBS the dropped row
      val batch = Streams.windowedDrift(
        Seq((ts("10:05"), "a"), (ts("10:40"), "b"), (ts("11:30"), "a"),
          (ts("10:30"), "a"), (ts("11:10"), "b"), (ts("14:00"), "a"))
          .toDF("ts", "event_type"),
        "ts", "event_type", f11Domain, f11Ref)
        .collect().map(r => r.getAs[Timestamp]("window_start") -> r.getAs[Long]("n_cur")).toMap
      assert(batch(ts("10:00")) == 3L)
    } finally q.stop()
  }

  test("b14 psiDrift and f11 windowedDrift score one PSI for the same counts") {
    // one key: reference rows 8-13 days before the newest row, current
    // rows all inside the newest row's hour, out-of-domain on both sides
    val domain = Seq("a", "b", "c")
    val day = 24L * 3600 * 1000
    val newest = Timestamp.valueOf("2024-03-01 10:45:00").getTime
    def rows(counts: Seq[(String, Int)], at: Int => Long) = counts.flatMap { case (c, n) =>
      (0 until n).map(i => (7L, new Timestamp(at(i)), c)) }
    val reference = rows(Seq("a" -> 6, "b" -> 2, "c" -> 1, "zz" -> 3), i => newest - (8 + i) * day)
    val current = rows(Seq("a" -> 1, "b" -> 4, "c" -> 2, "yy" -> 1), i => newest - i * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_psi_pair").toString + "/ev"
    (reference ++ current).toDF("key", "ts", "cat").write.parquet(dir)
    val ev = spark.read.parquet(dir)
    val b14 = Quality.psiDrift(ev, "key", "ts", "cat", domain, 30, 7, 0.1).collect()
    val f11 = Streams.windowedDrift(ev.filter(col("ts") > new Timestamp(newest - day)),
      "ts", "cat", domain, Seq("a" -> 6L, "b" -> 2L, "c" -> 1L, "__other__" -> 3L)).collect()
    assert(b14.length == 1 && f11.length == 1, s"${b14.toSeq} / ${f11.toSeq}")
    assert(b14(0).getAs[Long]("n_cur") == 8L && f11(0).getAs[Long]("n_cur") == 8L)
    assert(b14(0).getAs[Double]("psi") > 0.0)
    assert(b14(0).getAs[Double]("psi") == f11(0).getAs[Double]("psi"),
      s"b14 ${b14(0)} vs f11 ${f11(0)}")
    assert(b14(0).getAs[Boolean]("drifted") == f11(0).getAs[Boolean]("drifted"))
  }
}
