package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also writes
  * VERIFY_SUMMARY.json ({name: {rows, ok}}) next to the dump AND into
  * the repo cwd — rounds 9/10 both shipped an empty driver
  * CORRECTNESS_r*.json, so the per-query execution record must survive
  * repo-side (the BENCH.json precedent); tools/compare_oracle.py merges
  * its oracle verdicts into the same file. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for targeted
    // re-verification (e.g. after fixing one oracle)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump queries concurrently (Spark actions are thread-safe; the
    // scheduler interleaves their jobs): the dump is wall-clock bound by
    // per-query fixed overhead, not CPU, at verification scale.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val attempted = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val futures = attempted.map { case (name, fn) =>
      scala.concurrent.Future {
        // repartition(1), NOT coalesce(1): both land the single file the
        // compare expects, but coalesce collapses the query's FINAL
        // stage (joins/aggregates included) onto one task — at sf30 the
        // e43 dump spent 40+ min single-threaded in the pair aggregate
        // that Bench finishes in 7. The extra 1-partition shuffle is
        // noise next to that.
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-query execution summary: rows from the written parquet
    // FOOTERS (no Spark job), ok = the query ran to a landed dump.
    // Oracle verdicts are merged in later by tools/compare_oracle.py.
    val summary = attempted.map { case (name, _) =>
      val ok = !failed.contains(name)
      val rows =
        if (!ok) -1L
        else try graft.sources.ParquetStats.rowCount(spark, s"$outDir/$name")
        catch { case _: Throwable => -1L }
      s"""${q(name)}: {"rows": $rows, "ok": $ok}"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_SUMMARY.json"), summary)
    // repo-local copy only for FULL (unfiltered) runs — a targeted
    // re-verify must not shrink the round artifact to its subset.
    // Path anchored by SPARK_GRAFT_REPO when set (round-11 advice: a
    // spark-submit launched outside the repo root silently dropped the
    // relative-path artifact); the absolute path is logged either way.
    if (only.isEmpty) {
      val repoCopy = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO", "."), "VERIFY_SUMMARY.json")
      Files.writeString(repoCopy, summary)
      System.err.println(
        s"[verify] summary written to ${repoCopy.toAbsolutePath}")
    }
    spark.stop()
  }
}
