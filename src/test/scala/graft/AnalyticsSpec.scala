package graft

import org.apache.spark.sql.functions._
import graft.analytics.Analytics

class AnalyticsSpec extends SparkSpec {

  test("revenueRollup levels are mutually consistent") {
    val out = Analytics.revenueRollup(spark, sf).collect()
    val total = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val regions = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    val nations = out.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(total.length == 1 && regions.nonEmpty && nations.nonEmpty)
    // compare in integer ten-thousandths: each revenue is exact on the
    // 1e-4 grid, so level sums must agree exactly as longs
    def rev(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => math.round(r.getAs[Double]("revenue") * 10000)).sum
    def lines(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("n_lines")).sum
    assert(rev(total) == rev(regions))
    assert(rev(total) == rev(nations))
    assert(lines(total) == lines(regions) && lines(total) == lines(nations))
    // detail level matches the flat per-nation aggregation
    val flat = Analytics.revenueByNation(spark, sf)
      .agg(count(lit(1))).head().getLong(0)
    assert(nations.length == flat)
  }

  test("pricingCube emits all four grouping sets, gid-consistent and level-exact") {
    val out = Analytics.pricingCube(spark, sf).collect()
    def level(gid: Long) = out.filter(_.getAs[Long]("gid") == gid)
    val detail = level(0L); val byFlag = level(1L)
    val byStatus = level(2L); val total = level(3L)
    assert(total.length == 1 && detail.nonEmpty && byFlag.nonEmpty && byStatus.nonEmpty)
    // gid is the authoritative subtotal marker: subtotal columns are
    // null exactly where the gid bit says they are aggregated away
    assert(byFlag.forall(r => !r.isNullAt(0) && r.isNullAt(1)))
    assert(byStatus.forall(r => r.isNullAt(0) && !r.isNullAt(1)))
    assert(total.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // exact-grid consistency across every level (integer 1e-4 / cents)
    def rev(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => math.round(r.getAs[Double]("revenue") * 10000)).sum
    def qty(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => math.round(r.getAs[Double]("sum_qty") * 100)).sum
    def lines(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("n_lines")).sum
    for (l <- Seq(detail, byFlag, byStatus)) {
      assert(rev(total) == rev(l) && qty(total) == qty(l) && lines(total) == lines(l))
    }
  }

  test("activityPivot widens per-type counts in one scan; row sums reconcile") {
    import spark.implicits._
    val ev = Seq(
      (1L, 7L, "click", 1.0), (2L, 7L, "view", 2.0), (3L, 7L, "view", 3.5),
      (4L, 8L, "purchase", 10.0), (5L, 8L, "other", 0.5))
      .toDF("event_id", "user_id", "event_type", "value")
    val out = Analytics.activityPivot(ev, "user_id", "event_type", "value",
      Seq("click", "view", "purchase"))
    val got = out.collect().map(r => r.getAs[Long]("user_id") ->
      ((r.getAs[Long]("n_click"), r.getAs[Long]("n_view"),
        r.getAs[Long]("n_purchase"), r.getAs[Double]("sum_value")))).toMap
    // out-of-domain types count toward no column but DO count in mass
    assert(got == Map(7L -> ((1L, 2L, 0L, 6.5)), 8L -> ((0L, 0L, 1L, 10.5))),
      s"got $got")
    // one-scan contract (the same pin as b15)
    assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1)
  }

  test("bigOrders keeps exactly the orders whose line quantity exceeds the threshold") {
    val out = Analytics.bigOrders(spark, sf, 200L).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("total_qty") > 200.0))
    // spot-check completeness against a direct recount
    val li = Tables.lineitem(spark, sf)
    val expect = li.groupBy(col("l_orderkey"))
      .agg((sum(round(col("l_quantity") * 100, 0).cast("long")) / 100.0).as("q"))
      .filter(col("q") > 200).count()
    assert(out.length.toLong == expect)
  }

  test("groupedTopN ranks per group with contiguous ranks and descending revenue") {
    val out = Analytics.groupedTopN(spark, sf, 3).collect()
    val byNation = out.groupBy(_.getAs[Number]("c_nationkey").longValue)
    byNation.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.length <= 3)
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val revs = sorted.map(_.getAs[Double]("revenue"))
      assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("activityHeatmap buckets by (dow, hour) with exact-cents mass; null ts drops") {
    import spark.implicits._
    import java.sql.Timestamp
    // 2024-01-01 is a Monday → Spark dow 2; 2024-01-07 a Sunday → dow 1
    val ev = Seq(
      (1L, Option(Timestamp.valueOf("2024-01-01 10:15:00")), 1.25),
      (2L, Option(Timestamp.valueOf("2024-01-08 10:45:00")), 2.00), // same cell (Mon, 10)
      (3L, Option(Timestamp.valueOf("2024-01-07 23:00:00")), 4.00), // (Sun, 23)
      (4L, Option.empty[Timestamp], 8.00))                          // dropped
      .toDF("event_id", "ts", "value")
    val got = Analytics.activityHeatmap(ev, "ts", "value")
      .collect().map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour_of_day")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("sum_value")))).toMap
    assert(got == Map((2L, 10L) -> ((2L, 3.25)), (1L, 23L) -> ((1L, 4.0))), s"got $got")
    // real data: cells bounded by the 7x24 grid, counts reconcile
    val real = Analytics.activityHeatmap(Tables.events(spark, sf), "ts", "value").collect()
    assert(real.length <= 168)
    assert(real.forall(r => r.getAs[Long]("dow") >= 1 && r.getAs[Long]("dow") <= 7 &&
      r.getAs[Long]("hour_of_day") >= 0 && r.getAs[Long]("hour_of_day") <= 23))
    val total = Tables.events(spark, sf).filter($"ts".isNotNull).count()
    assert(real.map(_.getAs[Long]("n")).sum == total)
  }

  test("cohortRetention: hand-computed matrix, week-0 completeness, null-ts rows ignored") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    // weeks (Mondays): 2024-01-01, 01-08, 01-15. u1 cohort w0 active
    // w0+w2; u2 cohort w0 active w0 only (its null-ts row must not
    // add a week); u3 cohort w1 active w1+w2; null user = own cohort.
    val df = Seq(
      (1L, Option(ts("2024-01-02")), 1.0), (1L, Option(ts("2024-01-16")), 1.0),
      (2L, Option(ts("2024-01-03")), 1.0), (2L, None, 1.0),
      (3L, Option(ts("2024-01-10")), 1.0), (3L, Option(ts("2024-01-17")), 1.0))
      .toDF("user_id", "ts", "value")
      .unionByName(Seq((Option.empty[Long], Option(ts("2024-01-08")), 1.0))
        .toDF("user_id", "ts", "value"))
    val out = Analytics.cohortRetention(df, "user_id", "ts").collect()
    val got = out.map(r => (r.getAs[Timestamp]("cohort_week").toString.take(10),
      r.getAs[Long]("weeks_since")) ->
      ((r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
        r.getAs[Double]("retention")))).toMap
    assert(got(("2024-01-01", 0L)) == ((2L, 2L, 1.0)), s"got $got")
    assert(got(("2024-01-01", 2L)) == ((1L, 2L, 0.5)), s"got $got")
    assert(got(("2024-01-08", 0L)) == ((2L, 2L, 1.0)), s"got $got") // u3 + null user
    assert(got(("2024-01-08", 1L)) == ((1L, 2L, 0.5)), s"got $got")
    assert(got.size == 4, s"got $got")
    // structural invariant on real data: every cohort has a week-0 row
    // with retention exactly 1.0 (the first event IS week-0 activity)
    val real = Analytics.cohortRetention(
      Tables.events(spark, sf), "user_id", "ts").collect()
    val w0 = real.filter(_.getAs[Long]("weeks_since") == 0L)
    val cohorts = real.map(_.getAs[Timestamp]("cohort_week")).distinct
    assert(w0.length == cohorts.length)
    assert(w0.forall(r => r.getAs[Double]("retention") == 1.0 &&
      r.getAs[Long]("n_active") == r.getAs[Long]("cohort_size")))
  }

  test("partPairCounts dedups parts per order, orders pairs, and never joins or sorts facts") {
    import spark.implicits._
    // order 1: parts {10, 20, 30} (20 twice → once); order 2: {10, 20};
    // order 3: {10} (no pair); null key rows ignored
    val li = Seq(
      (Option(1L), Option(10L)), (Option(1L), Option(20L)), (Option(1L), Option(20L)),
      (Option(1L), Option(30L)), (Option(2L), Option(10L)), (Option(2L), Option(20L)),
      (Option(3L), Option(10L)), (None, Option(10L)), (Option(2L), None))
      .toDF("l_orderkey", "l_partkey")
    val out = Analytics.partPairCounts(li, 10).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        r.getAs[Long]("n_orders")).toMap
    assert(out == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L), s"got $out")
    // topN cuts on (count desc, part_a, part_b)
    val top1 = Analytics.partPairCounts(li, 1).collect().head
    assert(top1.getAs[Long]("part_a") == 10L && top1.getAs[Long]("part_b") == 20L)
    // at-scale plan shape (round-9 rewrite): pair generation is a
    // basket aggregate + bounded explode — NO join and NO sort of the
    // fact table anywhere in the plan (the previous distinct+self-join
    // spilled 41 GB at sf30 across its three sort-heavy exchanges —
    // BASELINE.md, "Round-9 d15 stage probe + rewrite")
    val df = Analytics.partPairCounts(Tables.lineitem(spark, sf), 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      s"pair generation must not join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected basket collect_set in:\n$plan")
    assert(plan.contains("Generate"), s"expected explode pair generation in:\n$plan")
  }

  test("basketLift computes exact confidence/lift and agrees with partPairCounts on pair counts") {
    import spark.implicits._
    // orders: 1:{10,20}, 2:{10,20}, 3:{10,30}, 4:{20}, 5:{30} →
    // N=5; n_10=3, n_20=3, n_30=2; pair (10,20): n_ab=2
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L), (4L, 20L), (5L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val out = Analytics.basketLift(li, 10).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) -> r).toMap
    val p = out((10L, 20L))
    assert(p.getAs[Long]("n_orders") == 2L && p.getAs[Long]("n_a") == 3L &&
      p.getAs[Long]("n_b") == 3L && p.getAs[Long]("n_baskets") == 5L)
    // confidence = 2/3 → 0.6667 half-up-e4; lift = 5·2/(3·3) = 1.1111
    assert(p.getAs[Double]("confidence") == 0.6667, s"conf ${p}")
    assert(p.getAs[Double]("lift") == 1.1111, s"lift ${p}")
    // (10,30): conf 1/3 → 0.3333, lift 5·1/(3·2) = 0.8333
    val q = out((10L, 30L))
    assert(q.getAs[Double]("confidence") == 0.3333 &&
      q.getAs[Double]("lift") == 0.8333, s"got $q")
    // singleton-only parts appear in n_a/n_b denominators but not as pairs
    assert(!out.contains((20L, 30L)) || out((20L, 30L)).getAs[Long]("n_orders") == 0)
    // pair counts agree with d15 on real data; winners broadcast
    // against the part-count table (no fact-side re-shuffle join)
    val real = Analytics.basketLift(Tables.lineitem(spark, sf), 5)
    val pairs = Analytics.partPairCounts(Tables.lineitem(spark, sf), 5)
    val a = real.select("part_a", "part_b", "n_orders").collect().map(_.toSeq).toSet
    val b = pairs.collect().map(_.toSeq).toSet
    assert(a == b, s"d18 pair counts drifted from d15: $a vs $b")
    real.collect()
    val plan = real.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"metric join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no fact-side SMJ expected:\n$plan")
  }

  test("windowFunnel proves ordered chains with greedy-latest anchors and the window bound") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    val rows = Seq(
      // u1: clean in-order chain → depth 3
      (1L, t(0), "view", 10L), (1L, t(100), "click", 11L), (1L, t(200), "purchase", 12L),
      // u2: click BEFORE the view → only the view counts → depth 1
      (2L, t(0), "click", 20L), (2L, t(100), "view", 21L), (2L, t(200), "purchase", 22L),
      // u3: click outside the 3600 s window → depth 1
      (3L, t(0), "view", 30L), (3L, t(4000), "click", 31L),
      // u4: the FIRST view can't bound the purchase (3700 > 3600) but
      // the greedy-latest anchor (view@500) can → depth 3
      (4L, t(0), "view", 40L), (4L, t(500), "view", 41L),
      (4L, t(3000), "click", 42L), (4L, t(3700), "purchase", 43L),
      // u5: no view at all → depth 0, appears in no step
      (5L, t(0), "purchase", 50L), (5L, t(100), "click", 51L),
      // u6: view then purchase, no click → depth 1
      (6L, t(0), "view", 60L), (6L, t(100), "purchase", 61L),
      // u7: same-second view/click ordered by id → still a valid chain
      (7L, t(10), "view", 70L), (7L, t(10), "click", 71L), (7L, t(11), "purchase", 72L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val out = Analytics.windowFunnel(rows, "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"), 3600L)
      .collect().map(r => r.getAs[Long]("step") ->
        ((r.getAs[String]("step_name"), r.getAs[Long]("n_users")))).toMap
    assert(out(1L) == (("view", 6L)), s"step1 ${out}")     // u1 u2 u3 u4 u6 u7
    assert(out(2L) == (("click", 3L)), s"step2 ${out}")    // u1 u4 u7
    assert(out(3L) == (("purchase", 3L)), s"step3 ${out}") // u1 u4 u7
    // one Window exec chain, no self-join of the event table
    val plan = Analytics.windowFunnel(rows, "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"), 3600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"funnel must not self-join:\n$plan")
  }

  test("weeklyRevenueMovers ranks exact-integer deltas and reconciles against the weekly rollup") {
    val out = Analytics.weeklyRevenueMovers(spark, sf, 25).collect()
    assert(out.nonEmpty && out.length <= 25)
    // delta is (rev-prev)/1e4 off the exact integers — it agrees with
    // the difference of the divided doubles only to fp tolerance
    assert(out.forall(r => math.abs(r.getAs[Double]("delta") -
      (r.getAs[Double]("revenue") - r.getAs[Double]("prev_revenue"))) < 1e-6))
    // ranking is monotone non-increasing in |delta|
    val absd = out.map(r => math.abs(r.getAs[Double]("delta")))
    assert(absd.zip(absd.tail).forall { case (a, b) => a >= b - 1e-9 }, absd.toSeq)
    // the top row's revenues reconcile with an independent weekly rollup
    val top = out.head
    val wk = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === top.getAs[String]("n_name"))
      .groupBy(date_trunc("week", col("o_orderdate")).as("week"))
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
        .cast("long")) / 10000.0).as("rev"))
      .collect().map(r => r.getAs[java.sql.Timestamp]("week") -> r.getAs[Double]("rev")).toMap
    assert(wk(top.getAs[java.sql.Timestamp]("week")) == top.getAs[Double]("revenue"))
  }

  test("revenueConcentration finds the exact 80% head count per nation") {
    val out = Analytics.revenueConcentration(spark, sf).collect()
      .map(r => r.getAs[String]("n_name") ->
        ((r.getAs[Long]("n_customers"), r.getAs[Long]("n_top80"),
          r.getAs[Double]("top1_share")))).toMap
    assert(out.nonEmpty)
    out.foreach { case (nat, (ncust, n80, share)) =>
      assert(n80 >= 1 && n80 <= ncust, s"$nat: $n80 of $ncust")
      assert(share > 0.0 && share <= 1.0, s"$nat: $share")
    }
    // brute-force cross-check for one nation: recompute the head count
    // from the per-customer revenues directly
    val nat = out.keys.min
    val revs = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
        .cast("long")).as("orev"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === nat)
      .groupBy(col("c_custkey")).agg(sum(col("orev")).as("rev"))
      .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("rev")))
      .sortBy { case (k, r) => (-r, k) }
    val total = revs.map(_._2).sum
    val n80 = revs.map(_._2).scanLeft(0L)(_ + _).tail
      .indexWhere(cum => cum * 5 >= total * 4) + 1
    assert(out(nat)._2 == n80.toLong, s"$nat: got ${out(nat)._2}, brute $n80")
    assert(out(nat)._1 == revs.length.toLong)
  }

  test("orderLifecycle: only-late supplier on multi-supplier F orders, boundary exact") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(d + " 00:00:00")
    // order 1 (F): supp 10 late; supp 20 ships EXACTLY +60d (boundary,
    //   strict > means on time) -> 10 is the only late -> waits
    // order 2 (F): both late -> NOT EXISTS fails -> nobody
    // order 3 (F): single supplier late -> EXISTS fails -> nobody
    // order 4 (O): would qualify but not finalized -> excluded
    // order 5 (F): supp 20 has one on-time AND one late line (max
    //   collapses to late); supp 30 on time -> 20 waits
    // order 6 (F): null-suppkey late line ignored; 30 alone -> nobody
    val li = Seq(
      (Some(1L), Some(10L), ts("2024-04-01")),
      (Some(1L), Some(20L), ts("2024-03-01")), // +60d exactly
      (Some(2L), Some(10L), ts("2024-04-01")),
      (Some(2L), Some(20L), ts("2024-04-01")),
      (Some(3L), Some(10L), ts("2024-04-01")),
      (Some(4L), Some(10L), ts("2024-04-01")),
      (Some(4L), Some(20L), ts("2024-01-15")),
      (Some(5L), Some(20L), ts("2024-01-20")),
      (Some(5L), Some(20L), ts("2024-05-01")),
      (Some(5L), Some(30L), ts("2024-01-20")),
      (Some(6L), None: Option[Long], ts("2024-05-01")),
      (Some(6L), Some(30L), ts("2024-01-20"))
    ).toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val ord = Seq(
      (1L, "F", ts("2024-01-01")), (2L, "F", ts("2024-01-01")),
      (3L, "F", ts("2024-01-01")), (4L, "O", ts("2024-01-01")),
      (5L, "F", ts("2024-01-01")), (6L, "F", ts("2024-01-01"))
    ).toDF("o_orderkey", "o_orderstatus", "o_orderdate")
    val supp = Seq((10L, "Supp#10"), (20L, "Supp#20"), (30L, "Supp#30"))
      .toDF("s_suppkey", "s_name")
    val out = Analytics.orderLifecycle(li, ord, supp, 60, 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((10L, "Supp#10", 1L), (20L, "Supp#20", 1L)), out.toString)
    // the topN cutoff is honored and total-ordered
    val top1 = Analytics.orderLifecycle(li, ord, supp, 60, 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(10L))
  }

  test("orderCountHistogram counts zero-order customers in the head bucket") {
    import spark.implicits._
    val cust = Seq(1L, 2L, 3L, 4L).toDF("c_custkey")
    val ords = Seq((100L, 1L), (101L, 1L), (102L, 2L), (103L, 9L))
      .toDF("o_orderkey", "o_custkey") // custkey 9 matches nobody
    val out = Analytics.orderCountHistogram(cust, ords)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cust 1 -> 2 orders; cust 2 -> 1; cust 3,4 -> 0
    assert(out == Map(2L -> 1L, 1L -> 1L, 0L -> 2L), out.toString)
  }

  test("smallQuantityRevenue keeps only lines under 20% of their part's mean") {
    import spark.implicits._
    // part 1 (Brand#13): quantities 1, 30, 29 -> mean 20, threshold 4
    //   -> only the qty-1 line (price 700.00) counts
    // part 2 (Brand#13): single line -> 10*qc < 2*qc never -> none
    // part 3 (other brand): would qualify but filtered out
    val li = Seq(
      (1L, 1.0, 700.00), (1L, 30.0, 100.00), (1L, 29.0, 100.00),
      (2L, 1.0, 500.00),
      (3L, 1.0, 900.00), (3L, 50.0, 100.00)
    ).toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "Brand#13"), (2L, "Brand#13"), (3L, "Brand#99"))
      .toDF("p_partkey", "p_brand")
    val out = Analytics.smallQuantityRevenue(li, part, "Brand#13").collect()(0)
    assert(out.getAs[Long]("n_lines") == 1L, out.toString)
    assert(out.getAs[Double]("avg_yearly") == 700.00 * 10000 / 70000.0, out.toString)
    // exact boundary: qty exactly 20% of mean is NOT below it
    val li2 = Seq((1L, 4.0, 100.00), (1L, 16.0, 100.00), (1L, 40.0, 100.00))
      .toDF("l_partkey", "l_quantity", "l_extendedprice") // mean 20, 20% = 4
    val out2 = Analytics.smallQuantityRevenue(li2, part, "Brand#13").collect()(0)
    assert(out2.getAs[Long]("n_lines") == 0L, out2.toString)
  }

  test("topSupplier emits every max-revenue tie inside the window, exact cents") {
    import spark.implicits._
    def d(x: String) = java.sql.Date.valueOf(x)
    // supp 1: 100.00*(1-0.10)=90.00 in-window twice -> 180.00
    // supp 2: 90.005 rounds at the 1e-4 grid -> 90.0050 + 89.9950 = 180.00 (TIE)
    // supp 3: 180.00 but OUT of the window; plus 10.00 in-window
    // supp 4: null shipdate line ignored
    val li = Seq(
      (Some(1L), 100.00, 0.10, Some(d("1996-02-01"))),
      (Some(1L), 100.00, 0.10, Some(d("1996-03-31"))),
      (Some(2L), 105.89, 0.15, Some(d("1996-02-01"))), // 90.0065 -> 90.0065
      (Some(2L), 105.875, 0.15, Some(d("1996-02-02"))), // 89.99375 -> 89.9938? keep simple below
      (Some(3L), 180.00, 0.00, Some(d("1995-12-31"))),
      (Some(3L), 10.00, 0.00, Some(d("1996-02-01"))),
      (Some(4L), 500.00, 0.00, None: Option[java.sql.Date])
    ).toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    val supp = Seq((1L, "S1"), (2L, "S2"), (3L, "S3"), (4L, "S4"))
      .toDF("s_suppkey", "s_name")
    val out = Analytics.topSupplier(li, supp, "1996-01-01", "1996-04-01")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // supp 1 total 180.0000; supp 2 total 90.0065 + 90.0 - let the
    // assertion derive the truth from the same exact-grid arithmetic
    def r4(p: Double, disc: Double) = math.rint(p * (1 - disc) * 10000).toLong
    val s1 = r4(100.00, 0.10) * 2
    val s2 = r4(105.89, 0.15) + r4(105.875, 0.15)
    val s3 = r4(10.00, 0.00)
    val mx = Seq(s1, s2, s3).max
    val expect = Seq(1L -> s1, 2L -> s2, 3L -> s3).filter(_._2 == mx)
      .map { case (k, v) => k -> v / 10000.0 }.toMap
    assert(out == expect, s"$out vs $expect")
    assert(!out.contains(4L)) // null shipdate never scores
    // a planted exact tie emits BOTH suppliers
    val li2 = Seq(
      (1L, 100.00, 0.00, d("1996-02-01")),
      (2L, 50.00, 0.00, d("1996-02-01")),
      (2L, 50.00, 0.00, d("1996-02-02"))
    ).toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    val tie = Analytics.topSupplier(li2, supp, "1996-01-01", "1996-04-01")
      .collect().map(_.getLong(0)).toSet
    assert(tie == Set(1L, 2L))
  }
}
