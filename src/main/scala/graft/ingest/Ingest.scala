package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cents, periodOf}

/** Ingestion / ETL operators.
  *
  * Re-expresses the reference's extraction surface
  * (data_extraction.py:38-122 — typed feed with numeric coercion and
  * time ordering; :124-133 — recent-window fetch) and the retention
  * cleanup (airflow_dag.py:570-631) as declarative DataFrame transforms.
  * All are narrow or single-shuffle; predicates land on the scan so
  * partition pruning works at 100 TB.
  */
object Ingest {

  /** Typed ingest: project + coerce a raw feed into the canonical
    * (key, ts, type, value) shape. `try_cast`-style coercion via
    * cast-null semantics mirrors pandas `to_numeric(errors='coerce')`.
    * Timestamps are truncated to whole seconds — the canonical feed
    * granularity (and what keeps engines bit-identical downstream).
    */
  def typedIngest(raw: DataFrame, idCol: String, tsCol: String, keyCol: String,
                  typeCol: String, valueCol: String): DataFrame =
    raw.select(
      col(idCol).cast("long").as("record_id"),
      periodOf(tsCol).as("period"),
      col(keyCol).cast("string").as("respondent"),
      col(typeCol).cast("string").as("type"),
      col(valueCol).cast("double").as("value"))

  /** Closed-open time-range filter — fetch_recent_data re-expressed as a
    * pruned scan predicate (reaches parquet as PushedFilters). */
  def timeRangeFilter(df: DataFrame, tsCol: String, startIncl: String, endExcl: String): DataFrame =
    df.filter(col(tsCol) >= lit(startIncl).cast("timestamp") &&
              col(tsCol) < lit(endExcl).cast("timestamp"))

  /** Keep the latest record per key set, deterministic tie-break.
    * One shuffle on the keys; at scale the window partitioning is the
    * same hash partitioning a groupBy would use. */
  def dedupKeepLatest(df: DataFrame, keys: Seq[String], orderCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental (offset-paginated) ingest merge — the reference's
    * paginated extraction loop (data_extraction.py:78-104: fetch pages
    * by offset, append) re-expressed idempotently. Offset pagination
    * implies a monotone record id, so the accumulated feed's high-water
    * mark IS the resume checkpoint: a refetched page is trimmed to
    * `id > max(existing.id)` before the union, and re-running an
    * overlapping offset range (the usual crash-recovery case) cannot
    * duplicate records. The watermark is a 1-row scalar aggregate
    * broadcast against the page (same pattern as the b2 p99 join), so
    * the accumulated feed is never shuffled and the page never leaves
    * its partitions — at 100 TB the only full-scan cost is the max(),
    * which a caller maintaining a checkpoint table replaces with a
    * literal. NULL watermark (empty feed) admits the whole page. */
  def incrementalIngest(existing: DataFrame, page: DataFrame, idCol: String): DataFrame = {
    val wm = existing.agg(max(col(idCol)).as("__wm"))
    existing.unionByName(
      page.crossJoin(broadcast(wm))
        .filter(col("__wm").isNull || col(idCol) > col("__wm"))
        .drop("__wm"))
  }

  /** Retention: keep the newest n records per group (cleanup_old_files
    * semantics — keep_count newest per prefix). */
  def retentionKeepLastN(df: DataFrame, groupCol: String, orderCol: Column,
                         tieBreak: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCol.desc, tieBreak.desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /** Per-key aggregate STATE for incremental maintenance: the
    * distributive/algebraic partials (count, exact-cents sum, min, max)
    * from which any downstream report derives mean/sum/extremes without
    * rescanning history. The cents sum is an exact long, so merge order
    * can never change a digit. */
  def aggState(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(
      count(col(valueCol)).as("n"),
      sum(cents(col(valueCol)).cast("long")).as("sum_cents"),
      min(col(valueCol)).as("min_value"),
      max(col(valueCol)).as("max_value"))

  /** Incremental aggregate maintenance — merge a new batch's partial
    * aggregate into a persisted state table and emit the refreshed
    * per-key report (n, sum, min, max, exact-e4 mean). The result is
    * IDENTICAL to re-aggregating all of history (the oracle checks
    * exactly that), but the work is proportional to the batch: history
    * is touched only as the (already tiny) state table.
    *
    * Scale shape: one shuffle of state ∪ batch-partials on the key. A
    * state table this merge maintains is naturally stored bucketed on
    * the key (the g3 layout), which removes even that exchange on the
    * state side — the batch partials alone move. This is the 100 TB
    * form of the reference's scheduled full-revalidation pass
    * (data_validation.py recomputes global stats per run). */
  def mergeAggState(state: DataFrame, batch: DataFrame, keyCol: String,
                    valueCol: String): DataFrame =
    state.unionByName(aggState(batch, keyCol, valueCol))
      .groupBy(col(keyCol)).agg(
        sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
      .select(col(keyCol), col("n"),
        (col("sum_cents") / 100.0).as("sum_value"),
        col("min_value"), col("max_value"),
        graft.functions.roundMeanE4(col("sum_cents"), col("n")).as("mean_value"))

  /** CDC merge — lakehouse `MERGE INTO` semantics applied as a pure
    * transform: a change batch with an op column (`D` = delete, anything
    * else = upsert) supersedes the base snapshot by key. The latest
    * change per key wins (version order, deterministic tie-break);
    * superseded base rows drop via an anti-join against the change KEYS
    * and surviving upserts union in.
    *
    * Scale shape: a CDC batch is tiny next to the accumulated base, so
    * the anti-join side (distinct change keys — one narrow column) is
    * broadcast: the 100 TB base never shuffles, never sorts, and the
    * whole merge is one broadcast-anti pass plus the union.
    *
    * The reference's pipeline re-lands full snapshots (data_extraction
    * .py:135-172 overwrites the CSV); this is the incremental form a
    * 100 TB corpus requires.
    *
    * Contract: merge keys and `op` are non-null (CDC feeds guarantee
    * both). A null op filters out like a delete (`=!=` null semantics,
    * identical in the SQL oracle's `op <> 'D'`); a null key never
    * matches the anti-join, so the base row would survive alongside the
    * change row. */
  def cdcMerge(base: DataFrame, changes: DataFrame, keyCol: String,
               opCol: String, versionCol: String, tieBreak: String): DataFrame = {
    val latest = dedupKeepLatest(changes, Seq(keyCol), versionCol, tieBreak)
    val changedKeys = changes.select(col(keyCol)).distinct()
    base.join(broadcast(changedKeys), Seq(keyCol), "left_anti")
      .unionByName(latest.filter(col(opCol) =!= "D").drop(opCol))
  }

  /** SCD Type-2 history build: collapse an ordered change feed into
    * versioned dimension rows with validity intervals — the warehouse
    * history table the reference's full-snapshot re-land
    * (data_extraction.py:135-172 overwrites the whole CSV each run)
    * loses. Per key, ordered by (ts, tieBreak): a record opens a new
    * version iff it is the key's first record or differs from its
    * predecessor in ≥1 tracked attribute (null-safe comparison —
    * null → null is "unchanged", null ↔ value is a change);
    * `valid_to` is the NEXT surviving version's `valid_from`
    * (closed-open intervals, so a key's intervals tile its timeline
    * with no gaps or overlap) and the open interval is `is_current`.
    *
    * Scale shape: both window passes share one partitioning and
    * ordering, so the whole operator is a single shuffle on the
    * dimension key followed by two in-order walks — Catalyst plans
    * the second Window without re-shuffling or re-sorting. Per-key
    * state is one predecessor row (lag/lead), never the key's whole
    * history, so skewed keys cost sort time, not memory. At 100 TB
    * the feed arrives incrementally; rebuilding only keys present in
    * the new batch composes this with [[cdcMerge]]'s broadcast
    * anti-join (history of untouched keys never moves).
    *
    * Contract: `tsCol` non-null (a change feed timestamps every
    * record); (`tsCol`, `tieBreak`) unique per key for a
    * deterministic version order. */
  def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
                  attrCols: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieBreak).asc)
    val attrChanged = attrCols.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val out = (keyCol +: attrCols).map(col) :+
      col(tsCol).as("valid_from") :+
      lead(col(tsCol), 1).over(w).as("valid_to")
    changes
      .withColumn("__first", row_number().over(w) === 1)
      .withColumn("__chg", attrChanged)
      .filter(col("__first") || col("__chg"))
      .select(out: _*)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Backfill planner (round 8): which day-partitions of a time-keyed
    * feed need re-landing — the decision input [[graft.sources.Sources
    * .relandPartitions]] consumes and the reference's scheduler decides
    * by hand (airflow_dag.py re-runs fixed windows blindly). A day is
    * `missing` when the calendar (min..max of the feed) has no rows for
    * it, `short` when its row count is below `minFraction` of the
    * feed's median daily count (a torn land). Healthy days emit
    * nothing — the plan IS the work list.
    *
    * Scale shape: one partial-aggregated groupBy(day) collapses the
    * corpus to ≤ days rows; the calendar explode, median, and
    * classification all run on that aggregate (years = thousands of
    * rows). The exact median-of-days is fine at any corpus size —
    * the value buffer is bounded by the calendar, not the data.
    * `day` is a midnight TIMESTAMP (the engine's period convention —
    * see the date_trunc('second') feeds), not a DATE. */
  def backfillPlan(df: DataFrame, tsCol: String,
                   minFraction: Double): DataFrame = {
    require(minFraction > 0 && minFraction <= 1, s"bad minFraction $minFraction")
    val daily = df.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_rows"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
      percentile(col("n_rows"), lit(0.5)).as("median_rows"))
    val calendar = bounds.select(col("median_rows"),
      explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    calendar.join(daily, Seq("day"), "left")
      .withColumn("status",
        when(col("n_rows").isNull, "missing")
          .when(col("n_rows") < col("median_rows") * minFraction, "short"))
      .filter(col("status").isNotNull)
      .select(col("day"), coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("median_rows"), col("status"))
  }

  /** CDC change-set GENERATION — the inverse of [[cdcMerge]]: diff two
    * keyed snapshots into the minimal change feed (op ∈ I/U/D) that
    * replays one into the other. Completes the engine's CDC triangle:
    * a11 generates changes, a6 applies them, a10 audits the result —
    * and the roundtrip identity `cdcMerge(prev, snapshotDiff(prev,
    * cur)) == cur` is spec-pinned. This is how a pipeline whose source
    * only offers full snapshots (the reference's full re-land,
    * data_extraction.py:135-172) feeds incremental consumers: ship the
    * diff, not the snapshot.
    *
    * Row semantics: I/U rows carry the CURRENT values, D rows the
    * PREVIOUS (the tombstone names what died); unchanged keys emit
    * nothing. Attribute comparison is null-safe (null↔null unchanged,
    * null↔value a change). Contract: one row per key per snapshot
    * (dimension shape — dedupe upstream with [[dedupKeepLatest]]).
    *
    * Scale shape: ONE hash-partitioned full-outer join on the key —
    * both snapshots shuffle once, only changed rows are emitted, and
    * presence/difference tests are row-local. At 100 TB, land both
    * snapshots bucketed on the key (Sources.writeBucketed) and even
    * that exchange disappears (the g3 zero-Exchange plan). */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, keyCol: String,
                   attrCols: Seq[String]): DataFrame = {
    val p = prev.select(col(keyCol) +: lit(1L).as("__p") +:
      attrCols.map(a => col(a).as(s"__p_$a")): _*)
    val c = cur.select(col(keyCol) +: lit(1L).as("__c") +:
      attrCols.map(a => col(a).as(s"__c_$a")): _*)
    val changed = attrCols.map(a => !(col(s"__p_$a") <=> col(s"__c_$a")))
      .reduce(_ || _)
    p.join(c, Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__p").isNull, "I")
          .when(col("__c").isNull, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
      .select(col(keyCol) +: col("op") +: attrCols.map(a =>
        when(col("op") === "D", col(s"__p_$a"))
          .otherwise(col(s"__c_$a")).as(a)): _*)
  }

  /** Snapshot reconciliation audit: compare an incrementally-maintained
    * table ([[incrementalIngest]]/[[cdcMerge]] state) against a fresh
    * full snapshot and report, per key, exactly how they disagree —
    * the trust check the reference's scheduled full re-land
    * (data_extraction.py:135-172 silently overwrites) never performs.
    * Incremental pipelines drift in practice (missed pages, replayed
    * batches, torn writes); this is the bounded-cost audit that
    * catches it.
    *
    * Both sides collapse to per-key (row count, Σ row-digest) with
    * ordinary partial-aggregated `groupBy` — order-independent sums,
    * so the digest needs no sort — then a full-outer join of the two
    * SMALL aggregate tables classifies each key:
    * `missing_in_state`, `missing_in_snapshot`, `count_mismatch`,
    * `digest_mismatch` (same cardinality, different content). Matching
    * keys drop, so the output is the (tiny) diff, never the data.
    *
    * Scale shape: each 100 TB side is ONE narrow scan into a map-side-
    * combined aggregate; only per-key digests shuffle. The digest sum
    * accumulates in decimal(38,0) — exact, overflow-free for any corpus
    * that fits in 10^19 rows per key. `digestCol` is a caller-supplied
    * bigint row fingerprint (see SparkEntry's a10 entry for the
    * engine-portable modular-arithmetic form; any engine-reproducible
    * hash works). A null digest counts toward `*_rows` but adds nothing
    * to the sum on either side — both engines' SUM skips nulls — so
    * null-digest rows reconcile by count alone. */
  def snapshotReconcile(state: DataFrame, snapshot: DataFrame, keyCol: String,
                        digestCol: String): DataFrame = {
    def digests(df: DataFrame, n: String, s: String) =
      df.groupBy(col(keyCol))
        .agg(count(lit(1)).as(n),
          sum(col(digestCol).cast("decimal(38,0)")).as(s))
    val st = digests(state, "state_rows", "state_digest")
    val sn = digests(snapshot, "snapshot_rows", "snapshot_digest")
    st.join(sn, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("state_rows").isNull, "missing_in_state")
          .when(col("snapshot_rows").isNull, "missing_in_snapshot")
          .when(col("state_rows") =!= col("snapshot_rows"), "count_mismatch")
          .when(!(col("state_digest") <=> col("snapshot_digest")), "digest_mismatch"))
      .filter(col("status").isNotNull)
      .select(col(keyCol), col("state_rows"), col("snapshot_rows"),
        col("state_digest").cast("string").as("state_digest"),
        col("snapshot_digest").cast("string").as("snapshot_digest"),
        col("status"))
  }

  /** Dead-letter ledger (round 8) — the quarantine half of validated
    * ingest: one row per (record, violated rule) for every record the
    * b1 rule set would reject, so the pipeline can land clean rows and
    * route rejects WITH their reasons to a quarantine sink instead of
    * silently dropping them (the reference validates then discards —
    * data_validation.py:28-70; a production feed needs the discard
    * audited). Rules mirror b1 exactly: null timestamp/key/value,
    * value < 0, type outside the domain (a NULL type is null_value
    * territory, not bad_type — the b1 three-valued-logic contract). A
    * record violating k rules emits k rows; clean records emit none —
    * `df.join(ledger, id, "left_anti")` IS the clean side.
    *
    * Scale shape: pure narrow projection + explode — zero shuffles,
    * zero aggregation; the ledger is violation-sized, never
    * corpus-sized. */
  def deadLetterLedger(df: DataFrame, idCol: String, tsCol: String,
                       keyCol: String, typeCol: String, valueCol: String,
                       typeDomain: Seq[String]): DataFrame = {
    val reasons = array(
      when(col(tsCol).isNull, lit("null_period")),
      when(col(keyCol).isNull, lit("null_respondent")),
      when(!col(typeCol).isin(typeDomain.map(lit): _*), lit("bad_type")),
      when(col(valueCol).isNull, lit("null_value")),
      when(col(valueCol) < 0, lit("negative_value")))
    df.select(col(idCol),
      explode(filter(reasons, r => r.isNotNull)).as("reason"))
  }
}
