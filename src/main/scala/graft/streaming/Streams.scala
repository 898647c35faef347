package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.{cents, centsSum, periodOf, psiTermMicro, seriesOrder}

/** Streaming-shaped operators.
  *
  * Each has (1) a batch form — the oracle-checkable semantics — and
  * (2) a Structured Streaming twin usable on `readStream` sources with
  * watermarks. The batch forms are window/groupBy pipelines that
  * partition by key, so both forms share one shuffle layout.
  */
object Streams {

  /** The PSI above which a [[windowedDrift]] window is `drifted`, in
    * micro-units (0.1). */
  private val DriftThresholdMicro = 100000L

  /** The watermark delay of the flatMapGroupsWithState twins: none —
    * each stream admits nothing older than the newest event time of
    * its earlier micro-batches (their late-data contracts below). */
  private val WatermarkDelay = "0 seconds"

  /** Gap-based sessionization (batch form): a new session starts after
    * `gapSeconds` of inactivity; emits per-session rollups.
    * Timestamps are second-truncated for exact-integer gap math.
    * The per-session value sum stays a plain double: a session is one
    * key's bounded burst, so the addend count never scales with the
    * corpus (unlike the per-WINDOW sums below, which are integer-cents
    * per the f5 discipline). */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 valueCol: String, gapSeconds: Long): DataFrame = {
    val ordered = seriesOrder(keyCol, idCol)
    events
      .select(col(keyCol), periodOf(tsCol).as("period"), col(idCol), col(valueCol))
      .withColumn("prev", lag(col("period"), 1).over(ordered))
      .withColumn("new_session",
        when(col("prev").isNull ||
          col("period").cast("long") - col("prev").cast("long") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col("period")).as("session_start"),
        max(col("period")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 4).as("sum_value"))
  }

  /** Session aggregation via Spark's NATIVE `session_window` (round
    * 8) — the same gap-closed sessions as [[sessionize]] expressed as
    * one groupBy on the merging session-window key instead of a
    * lag/cumulative-flag window pass. Two semantic differences, both
    * deliberate: `session_end` here is last-event + gap (the window's
    * exclusive upper bound — the operator's contract) where f1 reports
    * the last event itself, and there is no running session_id (the
    * window IS the identity). Value mass in exact integer cents (the
    * f2/f5 corpus-scale-sum rule — a session's row count is unbounded
    * at 100 TB).
    *
    * Why it earns its row next to f1: the physical plan is Spark's
    * session-merging aggregate (sort per key, in-place interval
    * merge), not a window function — and the STREAMING twin
    * ([[sessionWindowAggStream]]) runs on the state-store session
    * operator with watermark-driven eviction, the production form for
    * unbounded session streams (f1's twin, flatMapGroupsWithState, is
    * the custom-state escape hatch; this is the declarative one). */
  def sessionWindowAgg(events: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, gapSeconds: Long): DataFrame =
    sessionAgg(sessionInput(events, keyCol, tsCol, valueCol, gapSeconds),
      keyCol, valueCol, gapSeconds)

  /** Streaming twin of [[sessionWindowAgg]]: the state-store-backed
    * native session operator — sessions merge across micro-batches in
    * the store and emit (append mode) once the watermark passes their
    * end. Identical output schema and values to the batch form on the
    * same data (the parity spec's contract) — which requires the SAME
    * input projection as the batch twin: null key/ts rows dropped and
    * timestamps truncated to the second BEFORE the watermark, else
    * sub-second events put session boundaries where the batch form has
    * none and the parity claim silently holds only for whole-second
    * non-null inputs (round-9 advice). The watermark sits on the
    * truncated column, so eviction and sessionization see one clock.
    * Late-data contract (StreamsSpec): a row older than the watermark
    * is dropped even when it would have merged into an already-emitted
    * session — append mode cannot retract; the batch form absorbs it
    * on re-run. */
  def sessionWindowAggStream(events: DataFrame, keyCol: String, tsCol: String,
                             valueCol: String, gapSeconds: Long,
                             watermark: String): DataFrame =
    sessionAgg(sessionInput(events, keyCol, tsCol, valueCol, gapSeconds)
      .withWatermark("period", watermark), keyCol, valueCol, gapSeconds)

  /** The input projection of both session twins: null key/ts rows
    * drop and timestamps truncate to the second. */
  private def sessionInput(events: DataFrame, keyCol: String, tsCol: String,
                           valueCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "session gap must be positive")
    events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), periodOf(tsCol).as("period"), col(valueCol))
  }

  /** The session aggregate of both session twins. */
  private def sessionAgg(input: DataFrame, keyCol: String, valueCol: String,
                         gapSeconds: Long): DataFrame =
    input
      .groupBy(col(keyCol), session_window(col("period"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"), centsSum(col(valueCol)).as("sum_value"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Tumbling-window aggregation (batch form): fixed windows via
    * date_trunc; the streaming twin uses window() + watermark. Value
    * mass in exact integer cents (the f5 discipline, extended here in
    * round 8): a window's row count grows with the CORPUS, so at scale
    * the per-window double sum re-accumulates in a different order
    * every run/engine and drifts past the round(·,4) guard — the d1
    * sf30 lesson. */
  def tumblingWindow(events: DataFrame, tsCol: String, dimCol: String,
                     valueCol: String, unit: String): DataFrame =
    events.groupBy(date_trunc(unit, col(tsCol)).as("window_start"), col(dimCol))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))

  /** Stream-static enrichment (batch form): join the event feed to a
    * slowly-changing dimension (here: segment attributes keyed by the
    * event's user) and aggregate per (window, segment) — the standard
    * "enrich the stream against a reference table" shape every
    * monitoring pipeline needs (the reference joins respondent metadata
    * the same way in its summaries). The dimension broadcasts: at
    * 100 TB the fact stream never shuffles for the join, only for the
    * windowed aggregate — and that one is map-side combinable. Value
    * mass in exact integer cents (the f5 discipline: double sums
    * re-accumulate in a different order every run/engine). Inner join:
    * events without a dimension row are not this operator's concern
    * (left-join with a null segment is a one-line variant).
    *
    * The streaming twin is [[staticEnrichStream]]: stream-static joins
    * are stateless in Structured Streaming (the static side is
    * re-broadcast per micro-batch), so only the window agg needs a
    * watermark. */
  def staticEnrich(events: DataFrame, dim: DataFrame, eventKey: String,
                   dimKey: String, tsCol: String, segCol: String,
                   valueCol: String, unit: String): DataFrame =
    events.join(broadcast(dim.select(col(dimKey), col(segCol))),
        col(eventKey) === col(dimKey))
      .groupBy(date_trunc(unit, col(tsCol)).as("window_start"), col(segCol))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))

  /** Idempotent event dedup (batch form): first occurrence per natural
    * key; the streaming twin is dropDuplicatesWithinWatermark. */
  def streamDedup(events: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    events.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Windowed data-quality monitor (batch form): per-window violation
    * counts — the streaming re-expression of the reference's scheduled
    * validation run (nulls, negatives, volume, value mass per window).
    */
  def windowedQuality(events: DataFrame, tsCol: String, valueCol: String,
                      unit: String): DataFrame = {
    val aggs = qualityAggs(valueCol)
    events.groupBy(date_trunc(unit, col(tsCol)).as("window_start"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The per-window counters of both [[windowedQuality]] forms. */
  private def qualityAggs(valueCol: String): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("null_values"),
    sum(when(col(valueCol) < 0, 1L).otherwise(0L)).as("negative_values"),
    // exact integer cents — corpus-scale windows, the f5 discipline
    centsSum(col(valueCol)).as("sum_value"))

  /** Hopping (sliding) window aggregation (batch form): each event lands
    * in `size/hop` overlapping windows — the smoothing/trend view a
    * tumbling window can't give. Uses the SAME `window()` generator the
    * streaming twin uses, so batch and stream share semantics by
    * construction. Value mass in exact integer cents: the per-window sum
    * is re-accumulated in a different order in every engine/run, and a
    * double sum drifts in the 4th decimal. Shuffle is one groupBy on
    * (window, nothing else) — at scale add a dimension column to the
    * groupBy and the same plan holds. */
  def hoppingWindow(events: DataFrame, tsCol: String, valueCol: String,
                    size: String, hop: String): DataFrame =
    hopping(events.filter(col(tsCol).isNotNull), tsCol, valueCol, size, hop)

  /** The `window()` aggregate of both [[hoppingWindow]] forms. */
  private def hopping(input: DataFrame, tsCol: String, valueCol: String,
                      size: String, hop: String): DataFrame =
    input.groupBy(window(col(tsCol), size, hop).as("w"))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("n"), col("sum_value"))

  /** Interval-join enrichment (batch form): for every event, aggregate
    * the same key's events of a given type within the PRECEDING
    * `windowSeconds` — the bounded-history feature join every
    * feature-store pipeline needs ("purchases in the last 30 min").
    * Self-inclusive: a qualifying event sees itself. Equi-join on the
    * key with a time-range residual: both sides shuffle once on the
    * key, and per-pair work is bounded by per-key activity in the
    * window (salt the key upstream if one key dominates). Value mass in
    * exact integer cents. The streaming twin is a watermarked
    * stream-stream interval join ([[intervalJoinStream]]). */
  def intervalJoin(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   typeCol: String, valueCol: String, matchType: String,
                   windowSeconds: Long): DataFrame = {
    val e = events.select(col(idCol), periodOf(tsCol).as("period"),
      col(keyCol), col(typeCol), col(valueCol))
    val p = events.filter(col(typeCol) === matchType)
      .select(col(keyCol).as("__pk"), periodOf(tsCol).as("__pts"),
        col(idCol).as("__pid"), col(valueCol).as("__pv"))
    e.join(p,
        col(keyCol) === col("__pk") &&
          col("__pts") >= col("period") - expr(s"INTERVAL $windowSeconds SECONDS") &&
          col("__pts") <= col("period"),
        "left")
      .groupBy(col(idCol), col("period"), col(keyCol))
      .agg(
        count(col("__pid")).as("n_matched"),
        (coalesce(sum(cents(col("__pv")).cast("long")), lit(0L)) / 100.0)
          .as("matched_value"))
  }

  /** Per-key windowed rate cap (batch form, round 8): within each
    * (key, tumbling window) keep only the first `maxPerWindow` events
    * in (ts, id) order, each stamped with its admit sequence — the
    * throttle/abuse-control shape every event pipeline runs at the
    * edge (and a deterministic per-key-per-hour downsampler). Null
    * timestamps carry no window and are dropped.
    *
    * Scale shape: one shuffle on (key, window); the rank window's
    * partition is one key's events in ONE window — bounded by the
    * key's feed rate like f1's sessions, the sanctioned bounded-group
    * window (the cap itself guarantees the OUTPUT per partition is
    * ≤ maxPerWindow). The streaming twin ([[rateCapStream]]) holds one
    * counter per open (key, window) in the state store and emits
    * admits inline — state is O(open windows), not O(events). */
  def rateCap(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
              unit: String, maxPerWindow: Int): DataFrame = {
    require(maxPerWindow > 0, "cap must be positive")
    val w = Window.partitionBy(col(keyCol), col("window_start"))
      .orderBy(col("period"), col(idCol))
    events.filter(col(tsCol).isNotNull)
      .select(col(keyCol), date_trunc(unit, col(tsCol)).as("window_start"),
        periodOf(tsCol).as("period"), col(idCol))
      .withColumn("seq", row_number().over(w).cast("long"))
      .filter(col("seq") <= maxPerWindow)
  }

  // ---------------------------------------------------------------------
  // Structured Streaming twins
  // ---------------------------------------------------------------------

  /** Streaming twin of [[intervalJoin]]: watermarked stream-stream
    * interval join (append mode) — emits each (event, match) pair as
    * the watermark admits it; the downstream aggregation is the
    * stateful half a real pipeline composes on top. State retention is
    * bounded by watermark + interval, the standard Spark
    * stream-stream-join state contract. */
  def intervalJoinStream(events: DataFrame, matches: DataFrame,
                         keyCol: String, tsCol: String,
                         matchKeyCol: String, matchTsCol: String,
                         windowSeconds: Long, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .join(matches.withWatermark(matchTsCol, watermark),
        col(keyCol) === col(matchKeyCol) &&
          col(matchTsCol) >= col(tsCol) - expr(s"INTERVAL $windowSeconds SECONDS") &&
          col(matchTsCol) <= col(tsCol))

  /** Streaming twin of [[hoppingWindow]]: watermarked sliding-window
    * aggregation — identical `window()` bucketing, windows emit as the
    * watermark passes their end. */
  def hoppingWindowStream(events: DataFrame, tsCol: String, valueCol: String,
                          size: String, hop: String, watermark: String): DataFrame =
    hopping(events.withWatermark(tsCol, watermark), tsCol, valueCol, size, hop)

  /** Streaming tumbling-window aggregation with watermarking. Integer
    * cents like the batch form — shared semantics by construction. */
  def tumblingWindowStream(events: DataFrame, tsCol: String, dimCol: String,
                           valueCol: String, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(dimCol))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))

  /** Streaming twin of [[staticEnrich]]: the static dimension joins
    * statelessly (re-evaluated and re-broadcast each micro-batch),
    * then a watermarked tumbling-window aggregate per segment.
    * Dimension updates between micro-batches are picked up ONLY when
    * the static side is an uncached file/table source that re-scans on
    * evaluation; a `.cache()`d or in-memory (e.g. createDataFrame)
    * dimension is frozen at first materialization and will NOT refresh
    * — pass the dimension as a path-backed DataFrame for live updates. */
  def staticEnrichStream(events: DataFrame, dim: DataFrame, eventKey: String,
                         dimKey: String, tsCol: String, segCol: String,
                         valueCol: String, windowLen: String,
                         watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .join(broadcast(dim.select(col(dimKey), col(segCol))),
        col(eventKey) === col(dimKey))
      .groupBy(window(col(tsCol), windowLen).as("w"), col(segCol))
      .agg(count(lit(1)).as("n"), centsSum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"), col(segCol),
        col("n"), col("sum_value"))

  /** Streaming dedup bounded by a watermark. Late-data contract
    * (StreamsSpec): rows OLDER than the watermark are dropped — even
    * never-seen keys — because the dedup state for that event-time
    * region is already evicted and admitting them would make output
    * depend on arrival order; a batch re-run over the full feed
    * absorbs them instead. */
  def streamDedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                        watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols :+ tsCol)

  /** Streaming twin of [[windowedQuality]]: watermarked tumbling-window
    * violation counts, emitted as windows close. */
  def windowedQualityStream(events: DataFrame, tsCol: String, valueCol: String,
                            windowLen: String, watermark: String): DataFrame = {
    val aggs = qualityAggs(valueCol)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(aggs.head, aggs.tail: _*)
  }

  case class CapEvent(key: Long, ts: java.sql.Timestamp, id: Long)
  case class CapOut(key: Long, windowStart: java.sql.Timestamp,
                    period: java.sql.Timestamp, id: Long, seq: Long)

  /** Per-window PSI drift monitor against a STATIC reference
    * distribution (round 9): every tumbling window's category mix is
    * scored with b14's PSI term math against a published baseline —
    * the model-monitoring shape where the reference lives in a
    * registry (config), not in the stream. The reference is a plain
    * Scala argument: category → count over `domain :+ "__other__"`,
    * so the whole PSI computation compiles to per-window column
    * expressions (domain is bounded CONFIG — the k+1 conditional
    * counts unroll statically, per the b15 rule-suite discipline) and
    * the windowed count aggregate stays map-side combinable. Null or
    * out-of-domain categories count as `__other__` (b14's contract).
    * PSI terms quantize to integer micro-units (floor·1e6) so the
    * per-window sum is exact-integer and the threshold flag compares
    * integers; the same libm-`ln` caveat as b14 applies.
    *
    * The streaming twin is [[windowedDriftStream]]; late-data
    * contract: below-watermark rows DROP (their window's PSI has been
    * emitted — absorbing them would re-open closed windows), a batch
    * re-run absorbs them. */
  def windowedDrift(events: DataFrame, tsCol: String, catCol: String,
                    domain: Seq[String], refCounts: Seq[(String, Long)]): DataFrame = {
    val counts = driftCounts(catCol, domain)
    val counted = events
      .groupBy(date_trunc("hour", col(tsCol)).as("window_start"))
      .agg(counts.head, counts.tail: _*)
    driftProject(counted, domain, refCounts)
  }

  /** Streaming twin of [[windowedDrift]]: watermarked tumbling-window
    * conditional counts (stateful only in the window aggregate — the
    * reference is a compile-time constant, so no stream-static join
    * state), then the identical PSI projection. Windows emit on
    * watermark close; below-watermark stragglers drop. */
  def windowedDriftStream(events: DataFrame, tsCol: String, catCol: String,
                          domain: Seq[String], refCounts: Seq[(String, Long)],
                          windowLen: String, watermark: String): DataFrame = {
    val counts = driftCounts(catCol, domain)
    val counted = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("__w"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("window_start", col("__w.start"))
      .drop("__w")
    driftProject(counted, domain, refCounts)
  }

  /** The k+1 statically-unrolled conditional category counts shared by
    * both [[windowedDrift]] forms (one aggregate, map-side partial). */
  private def driftCounts(catCol: String, domain: Seq[String]): Seq[Column] =
    domain.zipWithIndex.map { case (c, i) =>
      count(when(col(catCol) === c, lit(1))).as(s"__c$i")
    } :+
    count(when(col(catCol).isNull || !col(catCol).isin(domain: _*), lit(1)))
      .as("__cO") :+
    count(lit(1)).as("n_cur")

  /** Shared PSI projection over the counted windows — identical
    * expression tree for the batch and streaming forms so the twins
    * cannot drift. */
  private def driftProject(counted: DataFrame, domain: Seq[String],
                           refCounts: Seq[(String, Long)]): DataFrame = {
    val cats = domain :+ "__other__"
    require(refCounts.map(_._1).sorted == cats.sorted,
      s"refCounts must cover exactly ${cats.sorted}")
    val refMap = refCounts.toMap
    val k = cats.size
    val nRef = refCounts.map(_._2).sum
    require(nRef > 0, "reference distribution must have mass")
    val terms = cats.zipWithIndex.map { case (c, i) =>
      val cnt = if (c == "__other__") col("__cO") else col(s"__c$i")
      val pr = lit(refMap(c) + 1).cast("double") / lit(nRef + k).cast("double")
      val pc = (cnt + 1).cast("double") / (col("n_cur") + k).cast("double")
      psiTermMicro(pc, pr)
    }
    counted
      .withColumn("__psi_micro", terms.reduce(_ + _))
      .select(col("window_start"), col("n_cur"),
        (col("__psi_micro").cast("double") / 1e6).as("psi"),
        (col("__psi_micro") > DriftThresholdMicro).as("drifted"))
  }

  /** Streaming twin of [[rateCap]]: one admit counter per open
    * (key, window) via flatMapGroupsWithState, event-time timeout
    * clearing the counter once the watermark passes the window end
    * (state is O(open windows)). Within a micro-batch the group's
    * events sort by (ts, id) before admitting, so a stream fed in
    * event-time order emits exactly the batch form's rows; admits past
    * the cap drop inline — the stream never buffers a window's events.
    * windowSeconds must match the batch form's `unit` for parity.
    * Late-data contract (StreamsSpec): events below the watermark are
    * dropped BEFORE the operator — once a window's counter state has
    * timed out, a late event would otherwise re-open it and grant
    * admits past the budget; the batch form absorbs such rows on
    * re-run. */
  def rateCapStream(events: Dataset[CapEvent], windowSeconds: Long,
                    maxPerWindow: Int): Dataset[CapOut] = {
    import events.sparkSession.implicits._
    require(maxPerWindow > 0, "cap must be positive")
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(e => (e.key, e.ts.getTime / 1000 / windowSeconds))
      .flatMapGroupsWithState[Long, CapOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((key, win), it, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var n = state.getOption.getOrElse(0L)
            val winStartMs = win * windowSeconds * 1000
            val out = it.toSeq.sortBy(e => (e.ts.getTime, e.id)).flatMap { e =>
              if (n < maxPerWindow) {
                n += 1
                Some(CapOut(key, new java.sql.Timestamp(winStartMs),
                  new java.sql.Timestamp(e.ts.getTime / 1000 * 1000), e.id, n))
              } else None
            }
            state.update(n)
            // clear the counter when the watermark passes the window end
            state.setTimeoutTimestamp(math.max(
              winStartMs + windowSeconds * 1000,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class FunnelEvent(user: Long, ts: java.sql.Timestamp, id: Long,
                         eventType: String)
  case class FunnelState(anchors: Seq[Long], emitted: Int)
  case class FunnelReach(user: Long, step: Long, stepName: String)

  /** Streaming twin of d19's ordered window funnel
    * ([[graft.analytics.Analytics.windowFunnel]]) via
    * flatMapGroupsWithState: per user, emit a (user, step) REACH row
    * the first time the user's ordered chain
    * steps(0) < … < steps(k-1), all within `windowSeconds` of its
    * first step, deepens to that step — the downstream per-step
    * distinct-user count is exactly the batch histogram.
    *
    * State is BOUNDED at k anchors + one emitted-depth int per user:
    * anchors(0) is the latest step-1 event time, anchors(j) the
    * greedy running-max step-1 anchor of the best chain reaching step
    * j+1 — the same monotone-anchor argument that makes the batch
    * window pass exact (d19's scaladoc) carries over verbatim because
    * events are folded in (ts, id) order: each event reads the
    * anchors BEFORE applying its own update, which is precisely the
    * batch form's strictly-preceding window frame. Within a
    * micro-batch the group sorts by (ts, id), so a stream fed in
    * event-time order emits exactly the batch form's reach set (the
    * f9 parity convention).
    *
    * Event-time timeout: a chain anchor can never validate a future
    * step once the watermark passes anchor + window (future events
    * carry ts ≥ watermark), so state times out at the newest anchor's
    * validity horizon and is removed. After an eviction a RE-reach of
    * an already-emitted depth through a fresh chain re-emits — reach
    * rows are at-least-once across state lifetimes, which the
    * distinct-user aggregate absorbs. Late-data contract
    * (StreamsSpec): rows below the watermark drop BEFORE the operator
    * — admitting one could deepen a chain whose anchors were already
    * evicted, making output arrival-order-dependent; the batch form
    * absorbs them on re-run. */
  def windowFunnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
                         windowSeconds: Long): Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    require(steps.size >= 2, "a funnel needs at least two steps")
    val k = steps.size
    val UNSET = Long.MinValue
    val stepIdx = steps.zipWithIndex.toMap
    events
      .filter(e => e.ts != null && e.eventType != null && stepIdx.contains(e.eventType))
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user)
      .flatMapGroupsWithState[FunnelState, FunnelReach](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, it, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(FunnelState(Seq.fill(k)(UNSET), 0))
            val anchors = st.anchors.toArray
            var emitted = st.emitted
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelReach]
            it.toSeq.sortBy(e => (e.ts.getTime, e.id)).foreach { e =>
              val t = e.ts.getTime / 1000
              val j = stepIdx(e.eventType)
              if (j == 0) {
                if (t > anchors(0)) anchors(0) = t
              } else {
                val run = anchors(j - 1)
                if (run != UNSET && t <= run + windowSeconds && run > anchors(j))
                  anchors(j) = run
              }
              var deepest = 0
              var i = 0
              while (i < k) { if (anchors(i) != UNSET) deepest = i + 1; i += 1 }
              while (emitted < deepest) {
                emitted += 1
                out += FunnelReach(user, emitted.toLong, steps(emitted - 1))
              }
            }
            if (anchors.exists(_ != UNSET)) {
              state.update(FunnelState(anchors.toSeq, emitted))
              val horizon = (anchors.max + windowSeconds) * 1000
              state.setTimeoutTimestamp(
                math.max(horizon, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  case class SessionEvent(key: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(key: Long, sessionStart: Long, sessionEnd: Long, n: Long, sum: Double)

  /** Streaming sessionization via flatMapGroupsWithState with an
    * EVENT-TIME timeout: a session closes when the watermark passes its
    * last event + gap. Event-time (not processing-time) timeouts matter
    * twice over: semantics follow the data clock under replay/backfill,
    * and pending processing-time timeouts force the micro-batch loop to
    * run continuous empty batches (so processAllAvailable never sees
    * quiescence). State is partitioned by key in the state store — the
    * same layout that scales to millions of concurrent sessions. */
  def sessionizeStream(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, s.start, s.last, s.n, s.sum))
          } else {
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.last > gapSeconds =>
                  closed += SessionOut(key, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(sec, sec, 1, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.start, sec, s.n + 1, s.sum + e.value))
                case None =>
                  cur = Some(SessionState(sec, sec, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must stay ahead of the current watermark or Spark rejects it
              state.setTimeoutTimestamp(
                math.max((s.last + gapSeconds) * 1000, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }
}
