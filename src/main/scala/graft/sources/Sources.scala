package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks — the reference's CSV save / object-store layout
  * (data_extraction.py:135-172, airflow_dag.py upload paths)
  * re-expressed as schema-enforced Spark IO.
  *
  * Reads take an EXPLICIT schema (never inferSchema — a schema-inference
  * pass over 100 TB is a full extra scan, and drifting inputs should
  * fail loudly, not silently re-type). Malformed rows are quarantined
  * via PERMISSIVE mode + corrupt-record capture instead of killing the
  * job. Sinks write parquet partitioned by business keys — the layout
  * that turns downstream time/key predicates into partition pruning —
  * with CSV kept for interop parity with the reference.
  */
object Sources {

  val corruptCol = "_corrupt_record"

  /** Seconds-precision timestamp text of every CSV/JSON-lines source and
    * sink: keeps the roundtrip lossless for the canonical feed. */
  private val TimestampFormat = "yyyy-MM-dd HH:mm:ss"

  /** Schema-enforced CSV read; malformed lines land in `_corrupt_record`
    * instead of aborting (PERMISSIVE). Pair with validRecords /
    * corruptRecords to split the quarantine. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("timestampFormat", TimestampFormat)
      .schema(schema.add(corruptCol, "string"))
      .csv(path)

  /** Both split helpers cache the parsed frame first: Spark disallows
    * queries whose only referenced column from a raw CSV scan is the
    * corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — column
    * pruning reduces a quarantine count to exactly that), and the
    * documented remedy is materializing the parse. A quarantine split
    * wants that anyway: one parse pass feeds both sides. cache() is
    * idempotent on the same plan, so valid + corrupt share one entry.
    * At 100 TB, land the parsed frame to parquet once instead. */
  def validRecords(df: DataFrame): DataFrame =
    df.cache().filter(col(corruptCol).isNull).drop(corruptCol)

  def corruptRecords(df: DataFrame): DataFrame =
    df.cache().filter(col(corruptCol).isNotNull)

  /** Plant a raw CSV part file into a landed directory — the
    * fault-injection fixture for the g12 rescue audit: a crashed or
    * buggy upstream writer leaves a torn part alongside the good ones,
    * and the rescue read must quarantine its rows rather than abort
    * the scan or silently coerce garbage. Driver-side write through
    * the Hadoop FS API so the same call works on any filesystem the
    * session can reach. */
  def appendRawCsvPart(spark: SparkSession, dirPath: String, name: String,
                       content: String): Unit =
    writeUtf8(fileSystem(spark, dirPath), new Path(dirPath, name), content, overwrite = true)

  /** CSV sink (save_data_to_csv parity). Seconds-precision timestamp
    * format keeps the roundtrip lossless for the canonical feed. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", TimestampFormat)
      .csv(path)

  /** Partitioned parquet sink: the at-scale layout (one directory per
    * partition key value; downstream filters on the key prune entire
    * partitions at planning time). */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Read parquet: the engine's one parquet reader. The schema comes from
    * the footer of the first data file (in path order, the file Spark's
    * own inference would pick), read on the driver, and is handed to
    * `spark.read.schema`; partition columns (`page=`, `bucket=`) are
    * still discovered from the paths. So the frame, its plan and its
    * results are the ones `spark.read.parquet(paths: _*)` gives, without
    * the one-task schema-inference job Spark runs for every read that
    * names no schema (7 of the 60 jobs of a warm forecast-DAG pass).
    * Where no data file is listed (a missing path, an empty or
    * only-uncommitted directory, a glob) the read is Spark's own, so it
    * raises Spark's own error (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`). */
  def readParquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap { p =>
      val path = new Path(p)
      if (path.getFileSystem(conf).exists(path)) ParquetStats.parquetFiles(conf, p) else Nil
    }.map(_.getPath)
    if (files.isEmpty) spark.read.parquet(paths: _*)
    else spark.read.schema(ParquetStats.footerSchema(spark, conf, files.minBy(_.toString)))
      .parquet(paths: _*)
  }

  /** Dynamic-partition-overwrite re-land — the idempotent form of the
    * reference's scheduled full re-land to the object store
    * (airflow_dag.py's extract task re-writing the bucket via
    * save_to_minio, data_extraction.py:140): `overwrite` mode with
    * `partitionOverwriteMode=dynamic` replaces ONLY the partitions the
    * batch actually contains, byte-leaving every sibling partition in
    * place. This is the re-land a scheduled pipeline needs at 100 TB —
    * re-running one day can never truncate the other 36,499 day
    * directories the static mode would drop. The option is set on the
    * write (not the session), so surrounding jobs keep static
    * semantics. */
  def relandPartitions(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** JSON-lines sink (one object per line — the interchange format
    * most raw corpora land in). Seconds-precision timestamps keep the
    * roundtrip lossless for the canonical feed. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", TimestampFormat)
      .json(path)

  /** Schema-enforced JSON-lines read with PERMISSIVE corrupt-record
    * quarantine — same contract as [[readCsv]]: explicit schema (no
    * inference scan at 100 TB), malformed lines land in
    * `_corrupt_record` instead of aborting. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("timestampFormat", TimestampFormat)
      .schema(schema.add(corruptCol, "string"))
      .json(path)

  /** Schema-evolution read: union the schemas of every file in a
    * parquet sink whose batches were written under DIFFERENT (widening)
    * schemas — columns absent in older batches surface as nulls. This
    * is how a long-lived 100 TB corpus actually looks after a year of
    * pipeline changes. `mergeSchema` reads every file FOOTER (not data)
    * at planning time — bounded but not free at millions of files, so
    * production tables pin the merged schema in a catalog; this read is
    * the discovery/backfill path. */
  def readMergedParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC sink — the columnar interchange format for engines outside the
    * parquet ecosystem (Hive/Trino warehouses). Same footprint rules as
    * the parquet sink: columnar, compressed, splittable. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-enforced ORC read — explicit schema like every other read
    * here (no inference pass; ORC carries types but the declared schema
    * is the contract drifting inputs are checked against). */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Bucketed table sink — the 100 TB fact-fact join layout: rows are
    * hash-bucketed (and sorted) on the join key at WRITE time, so a
    * later equi-join of two tables bucketed into the same count plans
    * with ZERO Exchange — bucket co-location replaces the shuffle that
    * would otherwise move both fact tables. `saveAsTable` is required:
    * bucket metadata lives in the catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a location left behind by a previous session (not in THIS catalog)
    // still blocks CTAS with LOCATION_ALREADY_EXISTS — clear it
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    deletePath(fileSystem(spark, loc.toString), loc, recursive = true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol).saveAsTable(table)
  }

  /** Small-file compaction — the maintenance chore every scheduled
    * pipeline accumulates: each incremental land (a5/a8) writes a few
    * files, and after a year a day-partition holds thousands of
    * kilobyte parquet files whose per-file open/footer cost dominates
    * scans (and whose listing dominates planning). Rewrites a directory
    * into ceil(bytes / targetBytes) files of even size.
    *
    * Sizing comes from the filesystem (a listing — no data read),
    * summing the data files the reader reads ([[ParquetStats
    * .parquetFiles]], partition directories included): _SUCCESS / .crc
    * sidecars and uncommitted debris would inflate the byte total and
    * over-split the output.
    * The file count tracks the REAL byte volume, not a guessed row
    * count — though targetBytes is approximate under compression-ratio
    * shift: the round-robin shuffle destroys whatever value clustering
    * the source files had, so when that clustering compressed unusually
    * well the rewritten files can overshoot targetBytes by the ratio
    * change (sortWithinPartitions before the write if tight output
    * sizing matters). The rewrite uses `repartition(n)`
    * (round-robin): one full shuffle, but every output file lands
    * within a row of even — `coalesce(n)` would skip the shuffle and
    * glue adjacent input files, inheriting whatever skew the small
    * files had (and capping read parallelism at n for the whole
    * rewrite). Compaction is a bytes-bound batch job; the shuffle IS
    * the cost you signed up for, and it buys deterministic layout.
    * Content is layout-invariant: the read-back equals the source
    * row-for-row (the g8 oracle), only the file boundaries move.
    *
    * At 100 TB this runs per-partition (compact yesterday's partition
    * after the last late batch), never over the whole table; pass the
    * partition directory as `srcPath`. */
  def compactParquet(spark: SparkSession, srcPath: String, dstPath: String,
                     targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = ParquetStats.parquetFiles(spark.sessionState.newHadoopConf(), srcPath)
      .map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    readParquet(spark, srcPath).repartition(n)
      .write.mode("overwrite").parquet(dstPath)
    readParquet(spark, dstPath)
  }

  /** Range-sorted data layout — the scan-pruning lever compaction
    * alone doesn't give. `repartitionByRange` on the clustering key
    * slices the domain into `nFiles` DISJOINT key ranges (one range
    * exchange — sampled boundaries, no full sort), and the
    * within-partition sort makes every row group's footer min/max
    * tight. A predicate on the key then skips whole files and row
    * groups at READ time via exactly those stats — on an unsorted
    * layout every file spans the whole domain and nothing can skip.
    * At 100 TB this is the difference between a time-range query
    * touching one day's files and touching all 36,500: layout work is
    * one extra shuffle at write time, amortized over every read.
    * Content is layout-invariant (the oracle is the plain feed);
    * the disjointness property itself is asserted from footer stats
    * ([[ParquetStats.columnRange]]) in SourcesSpec.
    *
    * The file boundaries are not a function of the data alone: Spark's
    * `RangePartitioner` seeds its boundary sample with the id of the RDD
    * it samples, so anything that changes how many RDDs the session
    * created before this write (one job more or fewer anywhere earlier)
    * moves the boundaries, and with them the per-file ranges, the files
    * a pruned read keeps and the compressed bytes — never the content. */
  def writeSortedLayout(df: DataFrame, path: String, rangeCol: String,
                        nFiles: Int): DataFrame = {
    df.repartitionByRange(nFiles, col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode("overwrite").parquet(path)
    readParquet(df.sparkSession, path)
  }

  /** Grid bits per column of [[writeZorderLayout]]; the z-value interleaves both. */
  private val ZorderBits = 16

  /** Z-order (Morton-interleaved) TWO-column layout (round 8) — the
    * multi-dimensional pruning lever [[writeSortedLayout]] cannot give:
    * a single-key range sort makes predicates on THAT key skip files,
    * but every file still spans the full domain of every other column.
    * Interleaving the bits of both columns' normalized values into one
    * z-value and range-partitioning on IT gives every file a tight
    * min/max box in BOTH dimensions (a 16-file layout ≈ a 4×4 grid),
    * so a point/range predicate on EITHER column skips ~√nFiles of the
    * files via footer stats alone — the Delta/Iceberg OPTIMIZE ZORDER
    * move, done with one range exchange at write time.
    *
    * Both columns quantize to [[ZorderBits]]-bit grid cells by min/max affine
    * scaling (decimal intermediates, no overflow at any span); the
    * z-value is a codegen'd fold of shift/mask terms — no UDF. The
    * domain [min, max] pair comes from one metadata-cheap aggregate;
    * a production deployment reads it from catalog/footer stats
    * ([[ParquetStats.columnRange]]) instead. Content is
    * layout-invariant (the oracle is the plain feed); the two-sided
    * pruning property is asserted from footer stats in SourcesSpec,
    * z-ordered vs single-key-sorted control. */
  def writeZorderLayout(df: DataFrame, path: String, colA: String,
                        colB: String, nFiles: Int): DataFrame = {
    require(nFiles > 0, "nFiles must be positive")
    val stats = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    require(!stats.anyNull, s"z-order columns $colA/$colB are all-null")
    val m = (1L << ZorderBits) - 1
    def quant(c: Column, mn: Long, mx: Long): Column = {
      val span = math.max(mx - mn, 1L)
      floor(((c.cast("long") - mn).cast("decimal(38,0)") * m) / span).cast("long")
    }
    val qa = quant(col(colA), stats.getLong(0), stats.getLong(1))
    val qb = quant(col(colB), stats.getLong(2), stats.getLong(3))
    val z = (0 until ZorderBits).foldLeft(lit(0L): Column) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(qa, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(qb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    readParquet(df.sparkSession, path)
  }

  /** Names of the data files under a sink path, as the reader sees them
    * ([[ParquetStats.parquetFiles]]) — the compaction spec's file-count
    * probe. */
  def dataFiles(spark: SparkSession, path: String): Seq[String] =
    ParquetStats.parquetFiles(spark.sessionState.newHadoopConf(), path).map(_.getPath.getName)

  // ------------------------------------------------------------------
  // Versioned snapshot table (round 9) — manifest-gated, append-only.
  // ------------------------------------------------------------------

  /** Append a new VERSION to a manifest-gated snapshot table — the
    * portable re-expression of a lakehouse table's time travel, and
    * the atomic-publish discipline the reference's object-store
    * re-lands lack (a crashed writer must never leave a half-visible
    * dataset). Layout: data lands under `data/v<N>/` (never rewritten
    * — versions share history by construction), then the manifest
    * `manifest_<N>` is written LAST, listing every data directory the
    * version comprises. The manifest write is the publish point:
    * readers resolve versions ONLY through manifests, so a crash
    * after the data write but before the manifest leaves an orphan
    * directory that no read will ever see (SourcesSpec plants one and
    * proves it invisible). Returns the new version number.
    *
    * The manifest itself publishes atomically: it is written to a
    * dot-prefixed temp name (which the `manifest_` prefix filter in
    * [[currentVersion]] ignores) and renamed into place — rename is
    * atomic on HDFS and local filesystems, so a crash mid-write leaves
    * only an invisible temp file, never a partial manifest that
    * [[currentVersion]] would count as published.
    *
    * Scale shape: the manifest is a few hundred bytes regardless of
    * data volume; a version read opens exactly the listed directories
    * (no full-table listing); history costs nothing until read.
    * Concurrent writers are out of scope here — serialize them with
    * [[LandingLease]] like the a8/f8 sinks. */
  def appendVersion(df: DataFrame, spark: SparkSession, table: String): Long =
    publishVersion(df, spark, table, chain = true)

  /** Publish a full-snapshot REWRITE as the next version: the manifest
    * lists ONLY the new data directory, cutting the chain to every
    * older directory. This is the compaction/rewrite move of a real
    * snapshot store (squash N appends into one laid-out snapshot —
    * pair with [[writeSortedLayout]]-style rewrites); history is still
    * intact (older manifests keep reading their own snapshots) until
    * [[retainVersions]] expires them — at which point the pre-rewrite
    * directories become unreferenced and reclaimable, which is what
    * gives retention GC real bytes to free. */
  def overwriteVersion(df: DataFrame, spark: SparkSession, table: String): Long =
    publishVersion(df, spark, table, chain = false)

  /** Land `df` as `data/v<N>`, N = newest published version + 1, then
    * publish `manifest_<N>`: the body of [[appendVersion]] and
    * [[overwriteVersion]], which differ only in the directory list.
    * With `chain` the new manifest extends the PREVIOUS version's list
    * (not a blind v1..vN enumeration): after an [[overwriteVersion]]
    * the chain restarts from the rewrite, so retention can actually
    * free the pre-rewrite directories. Pure-append tables still
    * produce manifest_N = v1..vN, byte-identical to the round-9 form. */
  private def publishVersion(df: DataFrame, spark: SparkSession, table: String,
                             chain: Boolean): Long = {
    val fs = fileSystem(spark, table)
    val prev = versions(fs, table).lastOption.getOrElse(0L)
    val next = prev + 1
    val dir = s"data/${versionDir(next)}"
    df.write.mode("overwrite").parquet(s"$table/$dir")
    val kept = if (chain && prev > 0) manifestDirs(fs, table, prev) else Seq.empty
    publishManifest(fs, table, next, kept :+ dir)
    next
  }

  /** Keep-newest-N retention GC for a versioned snapshot table — the
    * reference's cleanup_old_files chore (airflow_dag.py:570-631)
    * re-expressed against the manifest store: expire every version
    * older than the newest `keepLast`, then reclaim data directories
    * no surviving manifest references. Returns
    * (expired version numbers, deleted data directory names).
    *
    * Crash-ordered for the publish contract: expired MANIFESTS are
    * deleted first (removing the publish points — after this the
    * versions read as never-published), and only then are
    * unreferenced data directories reclaimed. A crash between the two
    * phases leaves orphan directories that no read can see (the g13
    * invisibility contract) and that the next retention run sweeps —
    * the operation is idempotent. Reclamation also sweeps orphans
    * from torn publishes, but ONLY directories numbered at or below
    * the newest live version: an in-flight writer's landed-but-not-
    * yet-published directory is always numbered above it and is never
    * touched. Lease-guarded ([[LandingLease]]) like every directory
    * mutator, so two schedulers firing the same target serialize.
    *
    * Scale shape: pure metadata work — one directory listing plus one
    * few-hundred-byte manifest read per live version; data deletes are
    * directory-level. Nothing scans table bytes. */
  def retainVersions(spark: SparkSession, table: String,
                     keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val fs = fileSystem(spark, table)
    if (!fs.exists(new Path(table))) (Seq.empty, Seq.empty)
    else LandingLease.held(fs, table) {
      val all = versions(fs, table)
      val live = all.takeRight(keepLast)
      val expired = all.dropRight(keepLast)
      expired.foreach(v => deletePath(fs, new Path(table, s"manifest_$v"), recursive = false))
      val referenced = live.flatMap(v => manifestDirs(fs, table, v)).toSet
      val maxLive = live.lastOption.getOrElse(0L)
      val removable = dataDirs(fs, table).filter { n =>
        !referenced.contains(s"data/$n") && dirVersion(n).exists(_ <= maxLive)
      }.map(n => s"data/$n")
      removable.foreach(d => deletePath(fs, new Path(table, d), recursive = true))
      (expired, removable)
    }
  }

  /** Version `v`'s directory name under `data/`, and its parser: only
    * `v` plus digits names a version; retention keeps any other name. */
  private def versionDir(v: Long): String = s"v$v"
  private val VersionDir = "v([0-9]+)".r
  private def dirVersion(name: String): Option[Long] =
    VersionDir.unapplySeq(name).flatMap(_.head.toLongOption)

  /** All published (manifest-gated) versions, ascending. */
  def listVersions(spark: SparkSession, table: String): Seq[Long] =
    versions(fileSystem(spark, table), table)

  private def versions(fs: FileSystem, table: String): Seq[Long] =
    children(fs, new Path(table)).map(_.getPath.getName)
      .filter(_.startsWith("manifest_"))
      .map(_.stripPrefix("manifest_").toLong)
      .sorted

  /** Highest published (manifest-gated) version, 0 when none. */
  def currentVersion(spark: SparkSession, table: String): Long =
    listVersions(spark, table).lastOption.getOrElse(0L)

  /** Data directory names currently on disk under `table/data` —
    * retention-spec probe (referenced and orphaned alike). */
  def versionDataDirs(spark: SparkSession, table: String): Seq[String] =
    dataDirs(fileSystem(spark, table), table)

  private def dataDirs(fs: FileSystem, table: String): Seq[String] =
    children(fs, new Path(table, "data")).filter(_.isDirectory).map(_.getPath.getName).sorted

  /** Read a snapshot AS OF `version` — exactly the directories its
    * manifest lists, nothing else (orphan data from torn writes is
    * invisible; later versions do not leak in). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    readParquet(spark, manifestDirs(fileSystem(spark, table), table, version)
      .map(d => s"$table/$d"): _*)

  /** Atomic manifest publish: write to a dot-prefixed temp (invisible
    * to the `manifest_` prefix filter) and rename into place. */
  private def publishManifest(fs: FileSystem, table: String, version: Long,
                              dirs: Seq[String]): Unit = {
    val tmp = new Path(table, s".manifest_$version.tmp")
    writeUtf8(fs, tmp, dirs.mkString("\n"), overwrite = true)
    if (!fs.rename(tmp, new Path(table, s"manifest_$version")))
      throw new java.io.IOException(s"failed to publish manifest_$version in $table")
  }

  /** The directory list a published manifest carries; throws on a
    * never-published version and rejects empty (torn) manifests. */
  private def manifestDirs(fs: FileSystem, table: String, version: Long): Seq[String] = {
    val mf = new Path(table, s"manifest_$version")
    require(fs.exists(mf), s"version $version was never published in $table")
    val dirs = readUtf8(fs, mf).split("\n").toSeq.filter(_.nonEmpty)
    require(dirs.nonEmpty, s"manifest_$version in $table is empty (torn publish?)")
    dirs
  }

  // ------------------------------------------------------------------
  // File-system rules shared by every sink, lease and version store.
  // ------------------------------------------------------------------

  /** The filesystem of `path`, resolved on the Hadoop conf Spark's own
    * file reads use (`sessionState.newHadoopConf()`: the context's conf
    * plus the session's SQL-level overrides), so every driver-side
    * mutation reaches a path the way the session's reads do. */
  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The entries directly under `dir`; none when `dir` does not exist. */
  private[graft] def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty

  /** Delete `p`; throw naming it when the delete fails and `p` is still
    * there (a bare `fs.delete` leaves it silently). Absent `p`: no-op. */
  private[graft] def deletePath(fs: FileSystem, p: Path, recursive: Boolean): Unit =
    if (!fs.delete(p, recursive) && fs.exists(p))
      throw new java.io.IOException(s"could not delete $p")

  /** The whole content of a small UTF-8 file (a manifest, a lease marker). */
  private[sources] def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Write a small UTF-8 file. With `overwrite = false` the create throws
    * a `FileAlreadyExistsException` when `p` already exists. */
  private[sources] def writeUtf8(fs: FileSystem, p: Path, text: String,
                                 overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}
