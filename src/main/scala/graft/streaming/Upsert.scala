package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Checkpoint._
import graft.sources.{LandingLease, Sources}

/** Streaming keyed-table upsert — the `foreachBatch` CDC-sink pattern.
  *
  * The reference's pipeline re-lands the full extracted table every
  * scheduled run (airflow_dag.py's extract → save path); the streaming
  * form a 100 TB deployment needs instead maintains a keyed state table
  * incrementally: each micro-batch merges into the table, keeping the
  * latest row per key. This module is that sink, built to three
  * contracts:
  *
  *  1. **Partial maintenance.** The table is laid out as
  *     `bucket=pmod(hash(key), nBuckets)` parquet partitions. A
  *     micro-batch reads back ONLY the buckets its keys hash into
  *     (partition-pruned scan) and rewrites ONLY those buckets
  *     (dynamic partition overwrite — [[graft.sources.Sources
  *     .relandPartitions]] semantics). Per-batch cost is proportional
  *     to touched buckets, never to table size; size nBuckets so one
  *     bucket ≈ one comfortable task (e.g. 2^14 buckets for a 10 TB
  *     state table → ~600 MB per bucket).
  *  2. **Idempotent merge.** Keep-latest (seq desc, tie-break desc) is
  *     idempotent: re-merging a batch the sink already applied changes
  *     nothing. `foreachBatch` re-delivers the in-flight batch after a
  *     crash (at-least-once), so idempotence is exactly what upgrades
  *     the table contents to exactly-once across restarts — proven by
  *     the kill/restart spec (StreamRecoverySpec) the same way
  *     f1/f2/f3's sinks are.
  *  3. **Isolation caveat, stated honestly.** Plain parquet has no
  *     snapshot isolation: the merge job reads the buckets it is about
  *     to replace, so the merged batch is pinned with an EAGER
  *     localCheckpoint before the overwrite (the lineage must not
  *     re-read files the commit deletes). That is safe single-writer
  *     (which `foreachBatch` guarantees within one query); concurrent
  *     writers need a table format with MVCC commits (Delta/Iceberg) —
  *     the plumbing here (bucket layout, pruned read, keep-latest
  *     merge) carries over unchanged.
  */
object Upsert {

  /** Merge one batch into the keyed parquet state table at `tablePath`,
    * keeping the latest row per `keyCol` (by `seqCol`, ties by
    * `tieCol`). Creates the table on first call. Idempotent.
    *
    * The read-merge-overwrite critical section runs under a
    * [[graft.sources.LandingLease]] (same guard as the a8 lander):
    * foreachBatch guarantees one live merge per QUERY, but nothing
    * stops an operator error from starting a second query on the same
    * table — two interleaved dynamic overwrites would corrupt buckets.
    * A second writer fails fast with ConcurrentLandingException; a
    * crashed writer's stale lease (15 min) is taken over. */
  def upsertIntoTable(spark: SparkSession, batch: DataFrame, tablePath: String,
                      keyCol: String, seqCol: String, tieCol: String,
                      nBuckets: Int): Unit = {
    val fs = Sources.fileSystem(spark, tablePath)
    fs.mkdirs(new Path(tablePath)) // lease marker needs the dir
    LandingLease.held(fs, tablePath)(
      upsertLocked(spark, fs, batch, tablePath, keyCol, seqCol, tieCol, nBuckets))
  }

  private def upsertLocked(spark: SparkSession, fs: FileSystem, batch: DataFrame,
                           tablePath: String, keyCol: String, seqCol: String,
                           tieCol: String, nBuckets: Int): Unit = {
    val bucketed = batch.withColumn("bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
    // batch-local keep-latest first: the merge input shrinks to one row
    // per key before any table bytes are read
    val batchLatest = graft.ingest.Ingest.dedupKeepLatest(
      bucketed, Seq(keyCol), seqCol, tieCol)
    // "table exists" = has bucket partitions, not "directory exists" —
    // the lease marker (and its parent mkdirs) precede the first merge
    val exists = Sources.children(fs, new Path(tablePath))
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
    val merged =
      if (!exists) batchLatest
      else {
        // touched-bucket list is bounded by nBuckets — a driver-safe pull
        val touched = batchLatest.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val existing = Sources.readParquet(spark, tablePath)
          .filter(col("bucket").isin(touched: _*))
        graft.ingest.Ingest.dedupKeepLatest(
          existing.unionByName(batchLatest), Seq(keyCol), seqCol, tieCol)
      }
    // eager pin: the overwrite below deletes the very files `merged`'s
    // lineage would re-read (contract 3)
    val pinned = merged.checkpointAs("Upsert.upsertLocked.merged", eager = true)
    Sources.relandPartitions(pinned, tablePath, Seq("bucket"))
  }

  /** The streaming sink: every micro-batch upserts into `tablePath`.
    * Trigger.AvailableNow — drains the source then stops, the
    * batch-job-shaped run a scheduled pipeline, Verify and the specs
    * use. */
  def streamUpsert(stream: DataFrame, tablePath: String, checkpointDir: String,
                   keyCol: String, seqCol: String, tieCol: String,
                   nBuckets: Int): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertIntoTable(batch.sparkSession, batch, tablePath,
          keyCol, seqCol, tieCol, nBuckets)
      }.start()

  /** Read the maintained state table (bucket column dropped — layout is
    * an implementation detail of the sink, not part of the row). */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    Sources.readParquet(spark, tablePath).drop("bucket")
}
