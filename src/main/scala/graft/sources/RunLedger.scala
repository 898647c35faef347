package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only run/metrics ledger (round 11) — the persistence the
  * reference gives its validation reports and MLflow metrics
  * (airflow_dag.py:420-479 saves the report JSON per run;
  * kubeflow_pipeline.py logs metrics per MLflow run), re-expressed on
  * the g13 manifest-versioned store: every pipeline run appends one
  * version whose rows are (run_ts, operator, metric, value), and
  * because [[Sources.appendVersion]] manifests CHAIN their
  * predecessor's directory list, the current version read IS the full
  * ledger — no compaction query, no duplicate-row reconciliation, and
  * every historical "what did the pipeline report as of run N" is a
  * [[Sources.readVersion]] away (time travel for free).
  *
  * Crash safety is inherited whole from the manifest machinery: a
  * writer that lands its run's data directory but dies before the
  * atomic manifest rename leaves an orphan no read ever sees, and the
  * next append overwrites the orphan's directory number (the g13
  * invisibility contract — spec'd in SourcesSpec for the ledger too).
  * Retention is [[Sources.retainVersions]] unchanged; concurrent runs
  * serialize with [[LandingLease]] like every directory mutator.
  *
  * Scale shape: a run's metrics are a bounded report (dozens of rows —
  * the 100 TB corpus is already reduced by the operators being
  * logged), so appends are metadata-priced; the full-ledger read opens
  * one directory per run. */
object RunLedger {

  /** Append one run's metrics as a new ledger version. `metrics` must
    * carry (operator: string, metric: string, value: double) — the
    * run_ts stamp is added here so every row of a run carries the same
    * instant regardless of which operator produced it. Returns the new
    * version (== run number for a pure-append ledger). */
  def appendRun(metrics: DataFrame, spark: SparkSession, table: String,
                runTs: java.sql.Timestamp): Long =
    Sources.appendVersion(
      metrics.select(lit(runTs).as("run_ts"), col("operator").cast("string"),
        col("metric").cast("string"), col("value").cast("double")),
      spark, table)

  /** The full ledger (every run's rows): the newest version's chained
    * read. Empty-schema-safe only once a run exists — callers gate on
    * [[Sources.currentVersion]] > 0 like any versioned table. */
  def readLedger(spark: SparkSession, table: String): DataFrame =
    Sources.readVersion(spark, table, Sources.currentVersion(spark, table))

  /** Streaming-facing idempotent append (round 11, the f13 sink): land
    * an arbitrary bounded payload as one ledger version stamped with
    * `__batch_id`, EXACTLY ONCE under foreachBatch's at-least-once
    * replay. The replay window after a crash is precisely one batch,
    * and batches commit in order within a query, so the duplicate
    * check only needs the NEWEST published version: if it already
    * carries this batch id the append is a no-op; if the crash tore
    * the previous attempt before its manifest rename, the orphan is
    * invisible and this append overwrites its directory number (the
    * g13 healing contract). Payloads must keep ONE schema per table —
    * don't mix with [[appendRun]]'s (run_ts, operator, metric, value)
    * tables. Single-writer like every appendVersion caller
    * (foreachBatch guarantees it within a query; a second query on the
    * same table needs the LandingLease discipline). */
  def appendBatch(payload: DataFrame, spark: SparkSession, table: String,
                  batchId: Long): Long = {
    val cur = Sources.currentVersion(spark, table)
    val applied = cur > 0 && {
      val newest = Sources.readParquet(spark, s"$table/data/v$cur")
      // enforce the one-schema-per-table contract explicitly (round-11
      // advice): a newest version written by appendRun has no
      // __batch_id column and the filter below would surface as an
      // unresolved-column AnalysisException instead of naming the
      // misuse
      require(newest.columns.contains("__batch_id"),
        s"ledger table $table mixes appendRun and appendBatch versions " +
          s"(v$cur has no __batch_id column) — keep ONE schema per table")
      !newest.filter(col("__batch_id") === batchId).limit(1).isEmpty
    }
    if (applied) cur
    else Sources.appendVersion(payload.withColumn("__batch_id", lit(batchId)),
      spark, table)
  }
}
