package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{cents, centsSum, fracE4, periodOf}
import graft.Checkpoint._

/** General relational analytics surface — the engine's query layer.
  *
  * TPC-H-shaped queries over the star schema, written so Catalyst gets
  * the plan it wants at 100 TB: dimension sides explicitly broadcast,
  * filters ahead of joins (and pushed to the scan), aggregates with
  * map-side partials. Floats are rounded at the output edge only.
  */
object Analytics {

  /** A line's discounted revenue in exact integer ten-thousandths
    * (extendedprice and discount are 2-decimal, so the product is
    * exactly 4-decimal). Every revenue sum accumulates these longs: a
    * plain double sum is summation-order-dependent, and at ~1e10
    * revenue magnitude the engine-vs-engine drift reaches the 4th
    * decimal. */
  private val revenueE4 =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0).cast("long")

  /** Summed [[revenueE4]] back in currency units. */
  private def revenue = sum(revenueE4) / 10000.0

  /** Q1-style pricing summary: single wide scan, multi-aggregate, no
    * join — the whole-stage-codegen happy path.
    *
    * Value masses accumulate as EXACT INTEGERS at their native decimal
    * scale (price 2, disc_price 4, charge 6) — the d2/d8 discipline,
    * adopted here in round 8 after the sf30 oracle compare caught the
    * plain double sums drifting: at a 1e12 price sum a double's ULP is
    * ~1.2e-4, so summation ORDER moves the 4th decimal and the
    * round(·,4) guard that held through sf1 stops absorbing it
    * (measured: 1137268183973.9307 vs DuckDB's ...973.986). Quantity
    * stays a plain double sum — the values are integral, and integer
    * addition in doubles is exact and order-free below 2^53. The
    * charge mass (6-decimal products) sums as decimal(38,0): a long at
    * 1e6 scale overflows past ~9.2e18, i.e. ~100 TB of lineitem; both
    * engines convert the identical exact integer to double at the
    * output edge, so the division result is bit-identical even where
    * the double is no longer exact. Means use the roundMeanE4 exact
    * half-up formula. */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    val priceCents = cents(col("l_extendedprice")).cast("long")
    val charge6 = round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
      (lit(1) + col("l_tax")) * 1000000, 0).cast("decimal(38,0)")
    val discCents = cents(col("l_discount")).cast("long")
    lineitem
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        (sum(priceCents) / 100.0).as("sum_base_price"),
        revenue.as("sum_disc_price"),
        (sum(charge6).cast("double") / 1000000.0).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        graft.functions.roundMeanE4(sum(priceCents), count(lit(1))).as("avg_price"),
        graft.functions.roundMeanE4(sum(discCents), count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Region/nation revenue ROLLUP — the multi-level reporting cube
    * (grand total, per-region subtotal, per-nation detail) in ONE
    * aggregation pass over the joined facts (Spark expands grouping
    * sets map-side; no per-level rescan). Revenue sums [[revenueE4]]
    * — the global-total row aggregates the whole fact table, where
    * double accumulation order across engines/partitions would
    * otherwise flip the 4th decimal. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        revenue.as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** CUBE pricing summary — every subtotal combination of
    * (returnflag, linestatus) in one pass, `grouping_id` exposed so
    * consumers can tell a subtotal NULL from a data NULL. Like d8's
    * rollup, Spark plans cube as ONE scan + Expand (4 grouping sets
    * map-side, partial-aggregated) — no per-level rescan, and the
    * grouping-set fan-out is bounded by 2^dims, not data. Money sums
    * in exact integer ten-thousandths, quantity in integer cents (the
    * corpus-scale-sum discipline: the grand-total row accumulates the
    * whole fact table). Empty-input caveat (EdgeCasesSpec-pinned):
    * Spark's cube emits NO rows on an empty table, where SQL-standard
    * GROUP BY CUBE (DuckDB) emits a grand-total zero row — oracle
    * parity is claimed on non-empty tables only. */
  def pricingCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_lines"),
        centsSum(col("l_quantity")).as("sum_qty"),
        revenue.as("revenue"))

  /** Pivoted activity report (round 8): per-user event counts widened
    * into one column per event type plus exact-cents value mass — the
    * wide reporting shape BI consumers join against. The type DOMAIN
    * is an explicit argument and the pivot is hand-lowered to
    * conditional aggregates: ONE partial-aggregated scan carries every
    * per-type counter AND the value mass (Spark's `pivot()` without
    * values runs an extra distinct job and makes the schema
    * data-dependent — wrong at 100 TB and for oracle parity; with
    * values it still can't co-compute the non-pivoted mass without a
    * second scan). Width is bounded by the domain, never the data. */
  def activityPivot(events: DataFrame, keyCol: String, typeCol: String,
                    valueCol: String, types: Seq[String]): DataFrame = {
    require(types.nonEmpty)
    val counters = types.map(t =>
      count(when(col(typeCol) === t, lit(1))).as(s"n_$t"))
    val mass = centsSum(col(valueCol)).as("sum_value")
    events.groupBy(col(keyCol)).agg(counters.head, (counters.tail :+ mass): _*)
  }

  /** Q5-style revenue by nation across the full star join. Bounded-size
    * dimensions (nation/region) are broadcast explicitly; customer and
    * part GROW with the fact tables, so their join strategy is left to
    * AQE — broadcast at small SF, shuffle-on-key at 100 TB. The only
    * unavoidable big shuffle is lineitem⋈orders on orderkey. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        revenue.as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q10-style top customers by revenue: join + agg + deterministic
    * top-N (rank ties broken by key). */
  def topCustomers(spark: SparkSession, dir: String, topN: Int): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    // revenue from exact integer ten-thousandths (see revenueE4),
    // half-up rounded to cents in integer arithmetic: the top-N CUTOFF
    // compares these values across engines, so a 4th-decimal drift in a
    // double sum could reorder rank 10 vs 11
    val t = sum(revenueE4)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg((graft.functions.divLong(t + lit(50L), lit(100L)) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(topN)
  }

  /** Q4-style EXISTS: orders with at least one late line, counted per
    * priority. left-semi join shuffles only the keys. */
  def orderPriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val late = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q14-style conditional share: % of revenue from one part type. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        round(
          sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share_pct"))
  }

  /** Per-group top-N (top customers per nation by order revenue) — the
    * grouped form of [[topCustomers]]' global top-N. Two-stage shape
    * that survives 100 TB: aggregate revenue per (nation, customer)
    * FIRST (the shuffle hashes on the fine-grained customer key — no
    * skew from the coarse group), then rank the small aggregate with a
    * window partitioned by nation. Ranking the raw joined fact rows
    * instead would funnel the whole fact table through 25 window
    * partitions. Revenue in exact integer cents so the rank cutoff is
    * engine-independent; ties break on the customer key. */
  def groupedTopN(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val agg = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("__cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("__cents").desc, col("c_custkey"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("c_nationkey"), col("c_custkey"),
        (col("__cents") / 100.0).as("revenue"), col("rank"))
  }

  /** Q18-style "large orders": orders whose total line quantity exceeds
    * a threshold — the aggregate-subquery-as-filter plan shape. The
    * aggregation runs FIRST (map-side partial combine on l_orderkey),
    * so the join input is the small filtered aggregate, not the fact
    * table; AQE turns it into a broadcast join of the aggregate when it
    * fits. Quantity summed in exact integer hundredths so the threshold
    * cut is engine-independent. */
  def bigOrders(spark: SparkSession, dir: String, qtyThreshold: Long): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(centsSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > qtyThreshold)
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
  }

  /** Behavioral funnel over the event stream: per user, conditional
    * event-type counts + value rollup (single groupBy pass). */
  def eventsUserFunnel(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signups"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 4)
          .as("purchase_value"))

  /** Ordered window funnel (round 9; the ClickHouse `windowFunnel`
    * report shape): per user, the deepest step k such that events
    * matching `steps(0) < steps(1) < … < steps(k-1)` occur IN ORDER
    * with the whole chain inside `windowSeconds` of its first step —
    * d6 counts event types per user UNORDERED; this one proves the
    * sequence. Output: one row per step with the count of users
    * reaching at least that depth.
    *
    * Exists-semantics without self-joins: a chain (t₁<…<tⱼ, tⱼ ≤
    * t₁+W) exists iff it exists when each tᵢ anchors on the LATEST
    * valid predecessor — the anchor condition is monotone in the
    * anchor, so the greedy running maximum is exact. That makes the
    * whole funnel ONE per-user sort: level-j anchors are
    * `max(aⱼ₋₁) OVER (… ROWS … PRECEDING -1)` chained k-1 times over
    * the SAME sorted window partition (k is bounded CONFIG, so the
    * passes unroll statically and Spark runs them in one Window exec),
    * then a single per-user aggregate takes the deepest level and one
    * k-counter aggregate (b15's rule-suite discipline) folds the
    * histogram. The naive SQL is k-1 self-joins of the event table —
    * at 100 TB this shape replaces those with zero extra shuffles.
    * Timestamps compare as exact epoch seconds; order ties break on
    * the id column, and a row can never serve two steps (strictly
    * earlier in (ts, id) order is required). */
  def windowFunnel(events: DataFrame, userCol: String, tsCol: String,
                   idCol: String, typeCol: String, steps: Seq[String],
                   windowSeconds: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    import org.apache.spark.sql.expressions.Window
    val epoch = periodOf(tsCol).cast("long")
    val prevW = Window.partitionBy(col(userCol))
      .orderBy(col("__t").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = events
      .filter(col(tsCol).isNotNull && col(typeCol).isin(steps: _*))
      .select(col(userCol), col(idCol), epoch.as("__t"), col(typeCol))
    val withAnchors = steps.zipWithIndex.tail.foldLeft(
      base.withColumn("__a1",
        when(col(typeCol) === steps.head, col("__t")))) {
      case (df, (s, j)) =>
        val run = max(col(s"__a$j")).over(prevW)
        df.withColumn(s"__a${j + 1}",
          when(col(typeCol) === s && col("__t") <= run + windowSeconds, run))
    }
    val deepest = withAnchors
      .groupBy(col(userCol))
      .agg(greatest(steps.indices.map(j =>
        max(when(col(s"__a${j + 1}").isNotNull, j + 1))): _*).as("__deepest"))
    val counters = steps.indices.map(j =>
      count(when(col("__deepest") >= j + 1, lit(1))).as(s"__n${j + 1}"))
    val hist = deepest.agg(counters.head, counters.tail: _*)
    val stepLits = steps.zipWithIndex.map { case (s, j) =>
      struct(lit(j + 1).cast("long").as("step"), lit(s).as("step_name"),
        col(s"__n${j + 1}").as("n_users"))
    }
    hist.select(explode(array(stepLits: _*)).as("__r"))
      .select(col("__r.step"), col("__r.step_name"), col("__r.n_users"))
  }

  /** Weekly cohort retention matrix (round 8) — the classic activity
    * report: users cohorted by the Monday week of their FIRST event,
    * each (cohort_week, weeks_since) cell counting how many of that
    * cohort were active that many weeks later, plus the cohort size
    * and the half-up-e4 retention ratio. Null-timestamp rows carry no
    * activity signal and are dropped; a null user id forms its own
    * (single-user) group like any other key.
    *
    * Scale shape: ONE corpus shuffle, on the fine-grained user key —
    * per user, `min(week)` and `collect_set(week)` aggregate together
    * (both partial-aggregate map-side; the set is bounded by the
    * CALENDAR — weeks since the product launched — never by the event
    * count, so this is the sanctioned bounded-group collect). The
    * exploded (cohort_week, act_week) table is |users|·weeks rows of
    * two columns, aggregated on the coarse cohort key only AFTER the
    * per-user reduction (the d9 two-stage discipline: the raw event
    * table never touches a coarse key). Cohort sizes are a G-row
    * table broadcast back onto the matrix. The retention ratio uses
    * the exact-integer half-up formula (SURVEY §6) so a boundary cell
    * cannot round differently across engines. */
  /** Day-of-week × hour activity heatmap (round 8) — the seasonality
    * matrix every load/traffic dashboard opens with (and the visual
    * sanity check on c6/c21's daily-seasonality assumption): per
    * (dow, hour) cell, event count and exact-cents value mass. dow is
    * Spark's 1=Sunday..7=Saturday convention. Null timestamps carry no
    * cell and drop.
    *
    * Scale shape: ONE partial-aggregated groupBy on a 168-key domain —
    * coarse keys are fine HERE because map-side combine collapses each
    * partition to ≤168 rows before the exchange (the §8 skew concern
    * is windows/joins on coarse keys, not combinable aggregates).
    * Value mass in exact integer cents: every cell aggregates a
    * corpus-scale slice (the d1/f5 discipline). */
  def activityHeatmap(events: DataFrame, tsCol: String, valueCol: String): DataFrame =
    events.filter(col(tsCol).isNotNull)
      .groupBy(dayofweek(col(tsCol)).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))

  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val perUser = events
      .filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), date_trunc("week", col(tsCol)).as("__w"))
      .groupBy(col("__u"))
      .agg(min(col("__w")).as("cohort_week"), collect_set(col("__w")).as("__weeks"))
      // user-count-sized, but TWO consumers (cohort sizes + the
      // activity explode) — materialize so the corpus aggregates once
      .checkpointAs("Analytics.cohortRetention.perUser")
    val sizes = perUser.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    val act = perUser
      .select(col("cohort_week"), explode(col("__weeks")).as("__aw"))
      .groupBy(col("cohort_week"),
        expr("datediff(__aw, cohort_week) div 7").cast("long").as("weeks_since"))
      .agg(count(lit(1)).as("n_active"))
    act.join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("retention", fracE4(col("n_active"), col("cohort_size")))
  }

  /** Week-over-week revenue movers (round 8) — the "what changed"
    * report on top of d2's static revenue-by-nation: weekly revenue
    * per nation, each week's delta against the nation's previous
    * observed week, ranked by absolute move — the top-N rows are where
    * an analyst looks first. Revenue accumulates as exact integer
    * ten-thousandths (the d2/d3 discipline), so the delta ranking is
    * an exact-integer sort — no double drift can reorder the cutoff;
    * ties break (nation, week). Weeks are midnight TIMESTAMPs (§6
    * dtype rule); a nation's first observed week has no baseline and
    * emits nothing.
    *
    * Scale shape: lineitem pre-aggregates to one revenue row PER ORDER
    * before any join — a map-side-combinable rollup that shrinks the
    * fact-fact join's big side to orders-cardinality and makes the
    * join key unique on both sides (the d10 discipline; joining raw
    * lineitem into orders at sf30 measured 16×/3× — the un-combined
    * sort/shuffle was the whole cost). The BOUNDED dimension (nation,
    * 25 rows) carries a broadcast hint; customer does NOT — it grows
    * with the scale factor, so a forced broadcast would bypass AQE
    * sizing and OOM the build side at the 100-TB deployment this
    * operator targets (round-9 advice). AQE still broadcasts it at
    * every tested decade (it sits under the threshold through sf30)
    * and falls back to a shuffled join beyond, which is the correct
    * behavior, not a regression. The lag window and the final
    * TakeOrdered run on the calendar-bounded (nation, week) aggregate,
    * never on facts. */
  def weeklyRevenueMovers(spark: SparkSession, dir: String, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(sum(revenueE4).as("__orev"))
    val weekly = perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("week", col("o_orderdate")).as("week"))
      .agg(sum(col("__orev")).as("__rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name")).orderBy(col("week"))
    weekly
      .withColumn("__prev", lag(col("__rev"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("n_name"), col("week"),
        (col("__rev") / 10000.0).as("revenue"),
        (col("__prev") / 10000.0).as("prev_revenue"),
        ((col("__rev") - col("__prev")) / 10000.0).as("delta"),
        abs(col("__rev") - col("__prev")).as("__absd"))
      .orderBy(col("__absd").desc, col("n_name"), col("week"))
      .limit(topN)
      .drop("__absd")
  }

  /** Revenue-concentration (Pareto) report per nation (round 8): how
    * many of a nation's customers it takes to cover 80% of its
    * revenue, plus the top customer's share — the concentration-risk
    * view behind every "whale" discussion d3's flat top-N list only
    * hints at. Per nation: customer count, the minimal top-k covering
    * ≥80% of revenue (customers ranked revenue desc, custkey asc), and
    * the top customer's half-up-e4 share.
    *
    * Cross-engine exactness: revenue in exact integer ten-thousandths
    * (lineitem pre-aggregated per ORDER before the orders join — the
    * d16 lesson), and the 80% threshold compared as cum·5 ≥ total·4 in
    * exact integers — no double share ever decides a rank.
    *
    * Scale shape: per-order rollup (map-side combinable) → dimension
    * joins (nation hinted broadcast; customer AQE-sized — see
    * weeklyRevenueMovers) → (nation, customer) aggregate; the ranking
    * window runs per nation over the customer-bounded aggregate, never
    * over facts. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(sum(revenueE4).as("__orev"))
    // customer joins WITHOUT a broadcast hint — it scales with SF, so
    // forcing the build side would OOM past AQE's sizing (round-9
    // advice; same reasoning as weeklyRevenueMovers above)
    val perCust = perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(col("__orev")).as("__rev"))
      // customer-bounded and consumed TWICE (totals + ranking) —
      // materialize so the fact join computes once (§8 rule 3)
      .checkpointAs("Analytics.revenueConcentration.perCustomer")
    // nation totals as a 25-row broadcast aggregate, NOT three
    // unbounded windows — the §8 aggregate-then-join discipline: the
    // rank/cumsum window already pays the per-nation sort; re-scanning
    // the customer table three more times for whole-partition
    // aggregates measured ~2× at sf30
    val totals = perCust.groupBy(col("n_name")).agg(
      sum(col("__rev")).as("__total"),
      count(lit(1)).as("__ncust"),
      max(col("__rev")).as("__top"))
    val ranked = org.apache.spark.sql.expressions.Window.partitionBy(col("n_name"))
      .orderBy(col("__rev").desc, col("c_custkey"))
    perCust
      .withColumn("__rank", row_number().over(ranked))
      .withColumn("__cum", sum(col("__rev")).over(
        ranked.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .join(broadcast(totals), Seq("n_name"))
      .filter(col("__cum") * 5 >= col("__total") * 4) // first rank covering >= 80%
      .groupBy(col("n_name"))
      .agg(min(col("__ncust")).as("n_customers"),
        min(col("__rank")).cast("long").as("n_top80"),
        min(fracE4(col("__top"), col("__total"))).as("top1_share"))
  }

  /** Market-basket co-occurrence (round 8): the top-N part pairs that
    * appear together in the most orders — the "frequently bought
    * together" report every order-fact table eventually gets asked
    * for. Parts are deduplicated per order first (a part on two lines
    * of one order counts once), then pairs are generated WITHIN each
    * order with `part_a < part_b` so each unordered pair appears
    * exactly once per order.
    *
    * Scale shape (round-9 rewrite — the verdict's d15 stage probe):
    * per-order BASKETS via `collect_set` — ONE exchange of the fact
    * table, no join, no sort; the set state is bounded by the basket
    * size (TPC-H orders hold ≤7 parts), and the partial aggregate
    * collapses same-order rows map-side, so the shuffle carries one
    * basket row per order, not one row per lineitem. Pairs come from a
    * positional double-explode of the sorted basket array (positions
    * i < j ⇒ part_a < part_b, each unordered pair exactly once) — a
    * bounded ≤21-pairs-per-basket fanout that never re-shuffles. The
    * previous distinct + self-join formulation planned THREE
    * sort-heavy exchanges of the fact table; at sf30 its
    * distinct-hash-agg fallback and the two SMJ sorts spilled 41 GB
    * and ran 3.8×/3× super-linear (69 s solo) where this shape runs
    * 26 s at 1.7×/3× with spill confined to the basket aggregate
    * (BASELINE.md, "Round-9 d15 stage probe + rewrite"). The pair
    * aggregate partial-combines map-side, and the final top-N is TakeOrdered
    * (per-partition heaps + driver merge of N), not a global sort.
    * Ranking ties are impossible at the cutoff: the order is
    * (count desc, part_a, part_b) and pairs are unique. */
  def partPairCounts(lineitem: DataFrame, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    val baskets = orderBaskets(lineitem).filter(size(col("__ps")) >= 2)
    pairCounts(baskets)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Per-order sorted part baskets — the d15/d18 shared first stage.
    * ONE exchange of the fact table; see [[partPairCounts]] for why
    * this beats distinct + self-join (round-9 d15 spill study). */
  private def orderBaskets(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("__ps"))
      .select(col("__ps"))

  /** Pair generation from sorted baskets: positional double-explode,
    * `i < j` ⇒ `part_a < part_b`, each unordered pair once per order. */
  private def pairCounts(baskets: DataFrame): DataFrame =
    baskets
      .select(col("__ps"), posexplode(col("__ps")).as(Seq("__i", "part_a")))
      .select(col("part_a"),
        explode(slice(col("__ps"), col("__i") + lit(2),
          size(col("__ps")) - col("__i") - lit(1))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))

  /** Association-rule strength for the top-N co-ordered part pairs
    * (round 9): support counts plus the two classic rule metrics —
    * confidence(a→b) = n_ab / n_a and lift = N·n_ab / (n_a·n_b) —
    * the "is this pair POPULAR or actually CORRELATED" report layered
    * on d15's co-occurrence counts (a pair of two independently
    * bestselling parts co-orders often by chance alone; lift > 1 is
    * the dependence signal).
    *
    * Scale shape: d15's basket formulation end to end — the fact
    * table is exchanged ONCE into per-order baskets; the basket table
    * (one row per order, set bounded by basket size) then feeds three
    * consumers (total count, per-part counts, pair counts), so it is
    * localCheckpoint-materialized per SURVEY §8 rule 3 rather than
    * re-aggregated from the corpus per branch. The pair table top-N
    * is TakeOrdered (per-partition heaps, no global sort); the ≤topN
    * winner rows then broadcast against the per-part count table —
    * the corpus-sized side never re-shuffles for the metric join.
    * Ranking ties at the cutoff are impossible (pairs unique,
    * order (count desc, part_a, part_b)).
    *
    * Cross-engine exactness: confidence and lift round half-up-e4 in
    * exact integer arithmetic. Lift's numerator N·n_ab·20000 can pass
    * int64 at corpus scale (N ≤ 1e10 orders at 100 TB), so both
    * operands move through decimal(38,0) before ONE terminal double
    * division — the d1/b19 discipline. */
  def basketLift(lineitem: DataFrame, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    val baskets = orderBaskets(lineitem).checkpointAs("Analytics.basketLift.baskets")
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    // two consumers (the n_a and n_b joins): materialized so the
    // basket table isn't re-exploded per branch (rule 3); the table
    // is parts-bounded — checkpoint cost is nil
    val itemCounts = baskets
      .select(explode(col("__ps")).as("part"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_part"))
      .checkpointAs("Analytics.basketLift.itemCounts")
    val topPairs = pairCounts(baskets.filter(size(col("__ps")) >= 2))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topN)
    val dec = "decimal(38,0)"
    val liftDen = (col("n_a") * col("n_b")).cast(dec)
    val liftNum = (col("n_baskets").cast(dec) * col("n_orders").cast(dec)
      * lit(20000).cast(dec))
    broadcast(topPairs)
      .join(itemCounts.select(col("part").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(itemCounts.select(col("part").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("part_a"), col("part_b"), col("n_orders"),
        col("n_a"), col("n_b"), col("n_baskets"),
        fracE4(col("n_orders"), col("n_a")).as("confidence"),
        (graft.functions.divLong(liftNum + liftDen, liftDen * 2).cast("double") / 10000.0)
          .as("lift"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
  }

  /** Q21-style order-lifecycle report (round 10): suppliers who were
    * the ONLY late shipper on a multi-supplier finalized order, ranked
    * by how many orders they alone kept waiting — the classic TPC-H
    * multi-EXISTS/NOT-EXISTS composition (EXISTS another supplier on
    * the order; NOT EXISTS another LATE supplier). This corpus carries
    * no receipt/commit dates, so "late" is l_shipdate more than
    * `lateDays` past the order date.
    *
    * Aggregate-first (the d9/d16 discipline), no EXISTS branch
    * re-scans the fact table: the naive SQL self-joins lineitem twice
    * (once per EXISTS), but both quantifiers are functions of one
    * per-order aggregate — a supplier S waits on order O iff S shipped
    * late on O, O has ≥ 2 suppliers, and O's late-supplier count is
    * exactly 1 (then the max-late-supplier-key IS S). So: one
    * fact-fact equi-join lineitem⋈orders on the order key (both sides
    * pre-filtered and column-pruned; bucket both on the order key at
    * 100 TB and it is co-located), a two-level (order, supplier) →
    * order aggregate, a broadcast supplier-dim join for names, and a
    * supplier-level count. The LIMIT cutoff is total-ordered by
    * (numwait desc, s_name, s_suppkey). */
  /** Q15-style top supplier(s) (round 11): per-supplier revenue over a
    * shipping window, then the supplier(s) achieving the GLOBAL max —
    * the classic max-over-aggregate-then-filter-back shape (Q15's
    * revenue view + correlated max subquery). The aggregate is one
    * shuffle on the supplier key; the 1-row max broadcasts back (the
    * b2/c9 scalar pattern), so no second fact scan and no global sort.
    * Ties on the max all emit (Q15's own semantics).
    *
    * Revenue accumulates in EXACT integer 1e-4 units (the
    * revenueByNation discipline) — here it matters twice over: the
    * MAX and the equality filter compare these values across engines,
    * and a double sum's 4th-decimal drift would not just reorder a
    * rank but change the winner set. */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  startDate: String, endDate: String): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate").isNotNull &&
        col("l_shipdate") >= lit(startDate) && col("l_shipdate") < lit(endDate))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenueE4).as("__r4"))
    val mx = rev.agg(max(col("__r4")).as("__mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("__r4") === col("__mx"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("__r4") / 10000.0).as("total_revenue"))
  }

  /** Q13-style customer order-count distribution (round 11): per
    * customer the number of orders (zero-order customers INCLUDED via
    * the left join — the distribution's head is the whole point of
    * Q13), then the count-of-counts histogram. Shape: one fact-fact
    * equi-join on the customer key (both sides column-pruned to keys;
    * co-located when bucketed on custkey at 100 TB), a two-level
    * customer → count aggregate, and a histogram aggregate over the
    * BOUNDED count domain. All-integer outputs — nothing to round. */
  def orderCountHistogram(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Q17-style small-quantity revenue (round 11): for a filtered part
    * set, the average yearly revenue lost if orders below 20% of each
    * part's mean quantity were dropped — the classic CORRELATED SCALAR
    * SUBQUERY shape (each lineitem compares against ITS part's
    * average). Decorrelated the Spark-first way: one per-part
    * aggregate over the (brand-filtered, column-pruned) fact rows,
    * broadcast back onto the same rows, filter, one global sum — the
    * fact table is scanned once per side of a self-reference the
    * naive SQL writes as a subquery per row.
    *
    * Exactness: the 20%-of-average comparison is pure integer
    * cross-multiplication — qty_c · n · 10 < 2 · sum_c (quantities
    * carried as exact integer cents) — so no float threshold exists
    * to land a ulp apart; the revenue output is an exact 1e-4-unit
    * sum divided once by 7·10⁴ (one correctly-rounded double op,
    * identical in both engines). */
  def smallQuantityRevenue(lineitem: DataFrame, part: DataFrame,
                           brand: String): DataFrame = {
    val keys = part.filter(col("p_brand") === brand)
      .select(col("p_partkey").as("l_partkey"))
    val li = lineitem
      .filter(col("l_partkey").isNotNull && col("l_quantity").isNotNull)
      .join(broadcast(keys), Seq("l_partkey"))
      .select(col("l_partkey"),
        cents(col("l_quantity")).cast("long").as("__qc"),
        round(col("l_extendedprice") * 10000, 0).cast("long").as("__p4"))
      .checkpointAs("Analytics.smallQuantityRevenue.lineitems")
    val avgq = li.groupBy(col("l_partkey"))
      .agg(sum(col("__qc")).as("__sq"), count(lit(1)).as("__nq"))
    li.join(broadcast(avgq), Seq("l_partkey"))
      .filter(col("__qc") * col("__nq") * 10 < col("__sq") * 2)
      .agg((sum(col("__p4")) / 70000.0).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  def orderLifecycle(lineitem: DataFrame, orders: DataFrame, supplier: DataFrame,
                     lateDays: Int, topN: Int): DataFrame = {
    val ordF = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = lineitem
      .filter(col("l_orderkey").isNotNull && col("l_suppkey").isNotNull &&
        col("l_shipdate").isNotNull)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val perSupp = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), 1L)
        .otherwise(0L)).as("__late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__n_supp"),
        sum(col("__late")).as("__n_late"),
        max(when(col("__late") === 1L, col("l_suppkey"))).as("__late_supp"))
    perOrder.filter(col("__n_supp") >= 2 && col("__n_late") === 1L)
      .groupBy(col("__late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))), Seq("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
      .limit(topN)
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }
}
