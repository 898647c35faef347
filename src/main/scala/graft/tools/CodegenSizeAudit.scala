package graft.tools

/** Whole-surface audit for the silent JIT huge-method cliff (round 12).
  *
  * A whole-stage-codegen function between ~8 KB (the JVM JIT's
  * DontCompileHugeMethods threshold) and 64 KB (Spark's default
  * `spark.sql.codegen.hugeMethodLimit`) compiles fine, logs nothing,
  * and runs the ENTIRE fused stage in the bytecode interpreter — the
  * failure mode found on e61/e62's PQ encode (45.8 vs 9.6 task-seconds
  * at sf1 after fusing the kernel). This main sets hugeMethodLimit to
  * 8000 so Spark itself reports (and de-fuses) every such stage, runs
  * every registered query on a small SF through the bench sink, and
  * brackets each with stderr markers so the WARN lines attribute to a
  * query. Caveat: Spark caches compiled classes by source, in a cache
  * GraftSession sizes to hold every class the surface compiles, so a
  * stage shared verbatim with an earlier query warns only once — read
  * the report as "first query that compiles the oversized stage".
  *
  * It ends with `AUDIT_CLASSES <n>`: the number of classes the run
  * compiled (the `CodegenMetrics` count delta), i.e. the engine's codegen
  * working set that `GraftSession.codegenResidency` must hold.
  * Not part of the library surface. */
object CodegenSizeAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val spark = graft.GraftSession.build(s"local[$cpus]", cpus.toInt, "codegen-audit")
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    spark.sparkContext.setLogLevel("WARN")
    // the "Found too long generated codes" report is logInfo in Spark 4
    // — surface just that logger above the session's WARN floor
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.WholeStageCodegenExec",
      org.apache.logging.log4j.Level.INFO)
    def compiled() = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiledBefore = compiled()
    graft.SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        System.err.println(s"AUDIT_BEGIN $name")
        System.err.flush()
        try graft.Bench.materialize(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"AUDIT_FAIL $name: ${e.getMessage}")
        }
        System.err.println(s"AUDIT_END $name")
        System.err.flush()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    System.err.println(s"AUDIT_CLASSES ${compiled() - compiledBefore}")
    spark.stop()
  }
}
