package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine (SURVEY.md §4/§5).
  *
  * One place to hold the scale posture: AQE with skew-join handling on
  * (runtime re-planning replaces hand-tuned partition counts at 100 TB),
  * UTC session time so timestamp semantics match the DuckDB oracle and
  * any cluster deployment, and shuffle partitions sized to the actual
  * parallelism instead of the 200 default.
  */
object GraftSession {
  /** Settings that keep generated code resident across pipeline runs in
    * one JVM. Recurring DAG runs are many small plans whose shapes repeat
    * every run, so each class should be compiled once per JVM.
    *
    *  - `spark.sql.codegen.cache.maxEntries`: Spark's compiled-class cache
    *    is one LRU per JVM, 100 entries by default. One pass of a pipeline
    *    touches 121-133 classes in the same order every pass, so a
    *    100-entry LRU evicts each class before it comes round again and
    *    every run recompiles everything (and the JIT discards its work).
    *    `tools.CodegenSizeAudit` counts the classes the whole `SparkEntry`
    *    surface compiles (2,053 at sf0.001); 4096 holds all of them with
    *    2x headroom. This is a static, JVM-global setting: Spark reads it
    *    once, when the `CodeGenerator` object is first used. Set here it
    *    lands in SparkConf, which is how it reaches executor JVMs (tasks
    *    carry the session conf, which SparkConf seeds).
    *  - `spark.sql.artifact.isolation.enabled`: Spark keys that cache on
    *    (thread context classloader, source). With artifact isolation on,
    *    a cloned session runs its tasks under a classloader of its own,
    *    and `foreachBatch` hands every streaming query a new clone
    *    (`streaming.Upsert.streamUpsert` merges on `batch.sparkSession`),
    *    so each run's micro-batch merge recompiled source the cache
    *    already held. The engine adds no session artifacts, so isolation
    *    buys it nothing. A deployment that adds per-session jars through
    *    Spark Connect needs isolation back on. */
  val codegenResidency: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** The local filesystem, for both Hadoop APIs, as
    * [[graft.sources.NioRawLocalFileSystem]] in Hadoop's own checksummed
    * wrappers: permission work through `java.nio` instead of a forked
    * `chmod`/`ls`/`readlink` per file. Without the native Hadoop library
    * the stock local filesystem forks one process per file or directory
    * it creates, per status whose permission anything reads and per
    * FileContext link status: ~2.1 ms a `chmod` through Hadoop's `Shell`
    * against 0.002 ms for `Files.setPosixFilePermissions` and 0.02 ms
    * for the no-follow stat that replaces `ls -ld` (4-core host). A warm
    * pass of the forecast DAG forked 280 times (237 `chmod`, 32
    * `readlink`, 11 `ls`; JFR `jdk.ProcessStart`) and a warm pass of the
    * corpus curation 55; with these settings neither forks. As
    * `spark.hadoop.*` entries they reach every Hadoop configuration the
    * session hands out, before the first `file:` filesystem is created
    * and cached. */
  val localFileSystem: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.NioLocalFs].getName)

  /** Every setting an engine session runs with, as one table: [[build]]
    * applies it, and so does the test session, which changes only its
    * warehouse directory — tests run the session production runs. */
  def settings(shufflePartitions: Int): Map[String, String] =
    codegenResidency ++ localFileSystem ++ Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // 64 MB broadcast budget (default 10 MB is sized for small-heap
      // executors): lets AQE broadcast mid-size build sides it measures
      // at runtime — e.g. e4's 50k-doc gram-array table at sf1 (~55 MB),
      // which otherwise drags ~7 GB of candidate×array rows through a
      // sort-merge shuffle. Sides that outgrow the budget at real scale
      // fall back to shuffle automatically, so this is a per-run
      // decision from measured sizes, not a plan-time gamble.
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
      // Scan-partition granularity sized to the parallelism (SURVEY §5,
      // round 9): the defaults (128 MB max + 4 MB open cost) PACK small
      // part-files until a mid-size table scans in 3-5 tasks — at sf10
      // the 57 MB documents table read on 4 of 32 cores and every
      // narrow map-only operator paid ~4x (e10 17.5 -> ~4 s solo). At
      // 100 TB the same math holds per executor: partitions should be
      // sized so the WAVE COUNT matches the cluster, not the file
      // layout. 16 MB / 512 KB keeps small-file packing (thousands of
      // tiny files still coalesce) while letting tables from ~0.5 GB
      // up scan at full parallelism.
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
      // Round 13 probe: lowering the open-cost floor to 64 KB (so the
      // 594 KB sf0.1 documents file scans ~10-way instead of 2-way for
      // the regex-heavy passes) was measured-REJECTED — e8 1.07→1.55 s,
      // e53 1.81→2.30 s, e56 10.7→12.8 s at an equal d15 control:
      // parquet assigns a row group to one split, so sub-row-group
      // splits dispatch tasks that read nothing while the real work
      // still lands on the row-group-holding tasks. Scan parallelism
      // is row-group-bound; at deployment scale files carry many row
      // groups and 16 MB splits already give full wave parallelism.
      "spark.sql.files.openCostInBytes" -> (512 * 1024).toString,
      // collect_set/collect_list run on ObjectHashAggregate, which falls
      // back to SORT-based aggregation after only 128 distinct groups per
      // partition — every signature-building aggregation (gram sets,
      // minhash bands) would pay an extra sort of the exploded rows.
      // 128k keeps those hash-based with a safety valve for genuinely
      // huge per-partition group counts.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
      // hugeMethodLimit stays at Spark's 64 KB default DELIBERATELY
      // (round 12): tools/CodegenSizeAudit found 3 stages surface-wide
      // whose largest generated method exceeds the JVM JIT's ~8 KB
      // threshold (e3/e53/e56 at 8.3-9.1 KB). Setting the limit to
      // 8000 de-fuses those stages — measured STRICTLY WORSE at sf0.1
      // (e3 1.21→7.52 s, e53 1.66→4.25 s min-of-3): a slightly-over
      // glue method still runs its hot inner loops through JIT-compiled
      // sub-methods, while losing whole-stage fusion costs per-row
      // virtual calls everywhere. The real cure for a GROSSLY oversized
      // method is shrinking the kernel (the e62 PqReconstruct fusion,
      // 5x), never de-fusing the stage.
      "spark.sql.session.timeZone" -> "UTC",
      // Feeds carrying TIMESTAMP(NANOS) parquet timestamps (events) are
      // read as nanos-since-epoch longs — set once at session build so
      // table loaders never mutate session state (racy as a library).
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // bucketed tables (Sources.writeBucketed) land outside the repo
      "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
      // native expressions as SQL functions (array_dot, array_norm2)
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false")

  def build(master: String, shufflePartitions: Int,
            appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config(settings(shufflePartitions))
      .getOrCreate()
}
