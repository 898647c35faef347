package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Catalog-style statistics read from parquet FOOTER metadata — no
  * Spark job, no data pages, just the per-file footer each writer
  * already produced. This is the "catalog row-count stat" the
  * LSH-banding gates (e22/e37/e38) need to size `autoPlanes`: a
  * `df.count()` there is a whole column-pruned scan JOB per query
  * invocation, while the footer total is a driver-side metadata read —
  * the same numbers a real lakehouse catalog (HMS/Iceberg/Delta)
  * serves from its table stats.
  *
  * Scale contract: cost is O(files) driver-side footer opens, not
  * O(rows) — at 100 TB a partition-pruned directory is thousands of
  * files, and a catalog would cache this per snapshot; here the read
  * itself is the cache-miss path. Parquet footers are REQUIRED by the
  * format to carry exact row counts per row group, so the total is
  * exact, not an estimate — it can only diverge from a scan while a
  * writer is mid-commit, which is exactly when a catalog snapshot
  * would not have been published either. */
object ParquetStats {

  /** The parquet data files under `path`, recursively, as Spark's reader
    * sees them: nothing below `path` whose name is hidden by
    * `InMemoryFileIndex`'s rule — it starts with `.`, or with `_` and
    * holds no `=` — is read or descended into. So sidecars (_SUCCESS,
    * .crc) are skipped, and so are the part files under `_temporary/…`
    * (a crashed or in-flight commit) and `.spark-staging-*` (a dynamic
    * partition overwrite), while `page=3`-style partition directories
    * are read. This is the engine's one rule for what a data file is:
    * reads, footer stats, compaction sizing and the file-count probe
    * all list through it. Plain `listStatus` calls, as Spark lists: no
    * `LocatedFileStatus`, whose constructor reads every file's
    * permission; each file's listed status (path, length) is returned. */
  private[sources] def parquetFiles(conf: org.apache.hadoop.conf.Configuration,
                                    path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String) = name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def walk(dir: Path): Iterator[FileStatus] = fs.listStatus(dir).iterator.flatMap { st =>
      val name = st.getPath.getName
      if (hidden(name)) Iterator.empty
      else if (st.isDirectory) walk(st.getPath)
      else if (name.endsWith(".parquet")) Iterator.single(st)
      else Iterator.empty
    }
    val top = fs.getFileStatus(root)
    if (top.isDirectory) walk(top.getPath).toSeq
    else Seq(top).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** One parquet footer, opened and closed (on the driver, or in an
    * [[analyzeTable]] task). */
  private def withFooter[A](conf: org.apache.hadoop.conf.Configuration, f: Path)(
      body: ParquetMetadata => A): A = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try body(rd.getFooter) finally rd.close()
  }

  /** The Spark schema of one data file, from its footer alone, by Spark's
    * own footer-to-schema step: the Spark schema the writer stored, else
    * the parquet schema converted under the session's binary-as-string,
    * INT96, NTZ-inference and nanosAsLong settings. That is the step
    * schema inference runs on the same file, without the job. */
  private[sources] def footerSchema(spark: SparkSession,
                                    conf: org.apache.hadoop.conf.Configuration,
                                    f: Path): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(f, withFooter(conf, f)(identity)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Exact row count of a parquet file or directory (recursive), summed
    * from footer metadata over the data files [[parquetFiles]] lists. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(conf, path).iterator.map { st =>
      withFooter(conf, st.getPath)(_.getBlocks.asScala.iterator.map(_.getRowCount).sum)
    }.sum
  }

  /** (min, max) of one integer-physical (INT32/INT64) column chunk from
    * its footer statistics; None when the chunk holds no non-null value.
    * Fails loudly on a writer that omitted the stats and on non-integer
    * stats. */
  private def intRange(st: Statistics[_], column: String, f: Path): Option[(Long, Long)] = {
    require(st != null && !st.isEmpty, s"writer omitted stats for $column in $f")
    if (!st.hasNonNullValue) None
    else (st.genericGetMin, st.genericGetMax) match {
      case (mn: java.lang.Long, mx: java.lang.Long) => Some((mn.toLong, mx.toLong))
      case (mn: java.lang.Integer, mx: java.lang.Integer) => Some((mn.toLong, mx.toLong))
      case other => sys.error(s"non-integer stats for $column: $other")
    }
  }

  /** Per-file (min, max) of an integer-physical column (INT32/INT64 —
    * which covers longs and µs timestamps), read from footer statistics
    * only. This is the metadata a reader's predicate pushdown skips
    * whole files/row groups WITH — so it is also the honest way to TEST
    * a data layout: after [[Sources.writeSortedLayout]], these ranges
    * must be pairwise disjoint (each file owns one key range); on an
    * unsorted write every file spans ~the whole domain and nothing can
    * skip. Driver-side footer opens, O(files), no data pages. A chunk
    * without stats or without a non-null value fails the call. */
  def columnRange(spark: SparkSession, path: String,
                  column: String): Seq[(String, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(conf, path).iterator.map(_.getPath).map { f =>
      withFooter(conf, f) { footer =>
        val ranges = footer.getBlocks.asScala.iterator.flatMap { block =>
          block.getColumns.asScala.iterator
            .filter(_.getPath.toDotString == column)
            .map(cc => intRange(cc.getStatistics, column, f)
              .getOrElse(sys.error(s"no non-null $column value in a row group of $f")))
        }.toSeq
        (f.getName, ranges.map(_._1).min, ranges.map(_._2).max)
      }
    }.toSeq
  }

  /** Distributed ANALYZE from footers only (round 8) — the
    * table-stats catalog build: per integer-physical column, exact
    * (n_rows, n_nulls, min_v, max_v) assembled purely from parquet
    * footer statistics. ZERO data pages are read: each task opens its
    * files' footers (a few KB apiece), emits per-column partials, and
    * a tiny groupBy folds them — the op that keeps every other
    * operator honest about "read the catalog, not the corpus"
    * (autoPlanes sizing, g9/g10 pruning proofs, a12 planning). Footer
    * stats are exact by format contract (row counts required;
    * min/max/null_count written by every mainstream writer — we
    * REQUIRE them and fail loudly on a writer that omitted them,
    * because a silent fallback to scanning would defeat the point).
    *
    * Scale shape: the driver touches only the file LISTING; footer
    * opens are distributed (one partition per ~file — at 100 TB the
    * work is thousands of independent KB-sized reads, the
    * embarrassingly-parallel case mapPartitions exists for). The
    * partial-stats table is files×columns rows; its groupBy is
    * column-cardinality-bounded. */
  def analyzeTable(spark: SparkSession, path: String,
                   columns: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(columns.nonEmpty, "at least one column")
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val files = parquetFiles(conf, path).map(_.getPath.toString)
    require(files.nonEmpty, s"no parquet data files under $path")
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val cols = columns
    spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        val c = bc.value.value
        it.flatMap { file =>
          val f = new Path(file)
          withFooter(c, f) { footer =>
            val blocks = footer.getBlocks.asScala.toSeq
            cols.map { colName =>
              var rows = 0L
              var nulls = 0L
              var mn: Option[Long] = None
              var mx: Option[Long] = None
              var found = false
              blocks.foreach { block =>
                rows += block.getRowCount
                block.getColumns.asScala
                  .filter(_.getPath.toDotString == colName).foreach { cc =>
                    found = true
                    val range = intRange(cc.getStatistics, colName, f)
                    nulls += cc.getStatistics.getNumNulls
                    range.foreach { case (a, b) =>
                      mn = Some(mn.fold(a)(math.min(_, a)))
                      mx = Some(mx.fold(b)(math.max(_, b)))
                    }
                  }
              }
              require(found, s"column $colName absent from $f")
              (colName, rows, nulls, mn, mx)
            } // strict Seq.map: fully materialized before the footer closes
          }
        }
      }
      .toDF("column_name", "__rows", "__nulls", "__mn", "__mx")
      .groupBy(F.col("column_name"))
      .agg(F.sum(F.col("__rows")).as("n_rows"),
        F.sum(F.col("__nulls")).as("n_nulls"),
        F.min(F.col("__mn")).as("min_v"), F.max(F.col("__mx")).as("max_v"))
  }
  private val F = org.apache.spark.sql.functions

  /** Snapshot stats drift (round 11, b22): compare two table
    * snapshots' per-column footer stats — the schema/profile gate a
    * pipeline runs BEFORE accepting a re-land (the reference re-lands
    * its full extract every run; this is the "did the new extract's
    * profile move" check, priced at footer reads only). Emits per
    * column both sides' (rows, nulls, min, max) plus two flags:
    * `range_extended` (the new snapshot's value range escapes the
    * old's — new ids/regions appeared) and `null_rate_up` (null rate
    * more than doubled, decided in exact integer cross-multiplication
    * — n_nulls_b·n_rows_a > 2·n_nulls_a·n_rows_b; products stay under
    * 2⁶³ through ~10⁹-row × 10⁹-null snapshots, far past any single
    * snapshot this gate prices). All-null columns carry null min/max;
    * the range flag treats an unknowable range as not-extended
    * (coalesce false) rather than poisoning the verdict. */
  def statsDrift(spark: SparkSession, pathA: String, pathB: String,
                 columns: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val a = analyzeTable(spark, pathA, columns).select(col("column_name"),
      col("n_rows").as("n_rows_a"), col("n_nulls").as("n_nulls_a"),
      col("min_v").as("min_a"), col("max_v").as("max_a"))
    val b = analyzeTable(spark, pathB, columns).select(col("column_name"),
      col("n_rows").as("n_rows_b"), col("n_nulls").as("n_nulls_b"),
      col("min_v").as("min_b"), col("max_v").as("max_b"))
    a.join(b, Seq("column_name"))
      .withColumn("range_extended",
        coalesce(col("min_b") < col("min_a"), lit(false)) ||
          coalesce(col("max_b") > col("max_a"), lit(false)))
      .withColumn("null_rate_up",
        col("n_nulls_b") * col("n_rows_a") > col("n_nulls_a") * col("n_rows_b") * 2)
  }
}
