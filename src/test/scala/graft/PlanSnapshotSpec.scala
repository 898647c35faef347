package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Plan-snapshot regression lock (round-9 verdict item 7): PlanAuditSpec
  * pins ~40 scale-critical shapes; the OTHER ~115 queries' plans could
  * silently regress (a broadcast flipping to SortMergeJoin, a pushed
  * filter lost) and only surface as a decade-probe mystery rounds
  * later. This spec normalizes the STATIC formatted physical plan of
  * every registered query at the spec scale factor and diffs it against
  * a checked-in snapshot under `plans/`.
  *
  * Regenerating after an INTENTIONAL plan change:
  * {{{ SPARK_GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec" }}}
  * then review `git diff plans/` — the diff IS the review artifact: it
  * shows exactly which operators' plans the code change moved.
  *
  * Generation and comparison run in the SAME session (this suite's),
  * so session config can never skew the diff. Normalization strips
  * every run-varying token (expression/plan/RDD ids, object addresses,
  * lambda names, absolute paths, row-count/size statistics) but keeps
  * the plan SHAPE: operators, join strategies, pushed filters, read
  * schemas, partitioning. Static (pre-AQE) plans are compared — they
  * are deterministic without executing the query; AQE-finalized shapes
  * for the scale-critical set stay PlanAuditSpec's job.
  *
  * Checkpoints print by operator name, not by source line: every
  * checkpoint in the engine goes through [[graft.Checkpoint]]'s
  * `checkpointAs`, so a checkpointed intermediate reads
  * `MapPartitionsRDD[N] at graft.checkpoint: <Object>.<operator>[.<part>]`
  * and moving code moves no snapshot. New code calls the helper; a
  * plan that pins a checkpoint to a line (`at localCheckpoint at
  * <File>.scala:<n>`) fails the snapshot test.
  */
class PlanSnapshotSpec extends SparkSpec {

  private val snapDir = Paths.get("plans")
  private val regen = sys.env.get("SPARK_GRAFT_REGEN_PLANS").contains("1")

  private def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("\\bid=#?\\d+", "id=N")
    // identity hashes are usually 6-8 hex chars but CAN be shorter
    // (observed live: [[D@62a78 — 5 chars — survived {6,} and made the
    // e59 snapshot flaky across JVMs); 3+ plus the object-ref context
    // ("@" after a type tag) keeps this from eating legitimate tokens
    .replaceAll("@[0-9a-fA-F]{3,}", "@x")
    .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-fA-F]+", "\\$\\$Lambda")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda")
    .replaceAll("(file:)?/[-A-Za-z0-9_./]*(testdata|graft_sources|graft_warehouse|graft_maintained|tmp)[-A-Za-z0-9_./]*", "PATH")
    .replaceAll("\\brdd_\\d+", "rdd_N")
    // lambda variable names carry a JVM-GLOBAL counter — any suite
    // running earlier in the same test JVM shifts them
    .replaceAll("\\blambda ([a-zA-Z]+)_\\d+", "lambda \\$1_N")
    .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[N]")
    .replaceAll("ExistingRDD\\[\\d+\\]", "ExistingRDD[N]")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(N)")
    .replaceAll("size=\\S+", "size=N")
    .replaceAll("rowCount=\\d+", "rowCount=N")
    .replaceAll("(?m)[ \\t]+$", "")

  private val lineAnchored = "at localCheckpoint at \\w+\\.scala:\\d+".r

  private def staticPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
  }

  test("every query's static plan matches its checked-in snapshot") {
    if (regen) Files.createDirectories(snapDir)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan =
        try staticPlan(name)
        catch { case e: Throwable => s"PLAN BUILD FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val file = snapDir.resolve(s"$name.txt")
      lineAnchored.findFirstIn(plan).foreach { site =>
        failures += s"$name: checkpoint pinned to a source line ($site); " +
          "call graft.Checkpoint's checkpointAs instead of localCheckpoint"
      }
      if (regen) {
        Files.writeString(file, plan)
      } else if (!Files.exists(file)) {
        failures += s"$name: no snapshot (run with SPARK_GRAFT_REGEN_PLANS=1 to create)"
      } else {
        val expected = Files.readString(file)
        if (expected != plan) {
          // persist the observed plan so the diff is one command away
          val obs = Paths.get("target", "plan-diffs")
          Files.createDirectories(obs)
          Files.writeString(obs.resolve(s"$name.txt"), plan)
          failures += s"$name: plan drifted (diff plans/$name.txt target/plan-diffs/$name.txt; " +
            "regenerate via SPARK_GRAFT_REGEN_PLANS=1 if intentional)"
        }
      }
    }
    assert(failures.isEmpty, s"${failures.size} plan(s) drifted:\n${failures.mkString("\n")}")
  }

  test("checkpointAs names the checkpoint and restores the caller's call site") {
    import graft.Checkpoint._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error}
    val sc = spark.sparkContext
    def callSite = (sc.getLocalProperty("callSite.short"), sc.getLocalProperty("callSite.long"))
    def checkpointRdd(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.toString }.get
    // call sites of the RDDs in every submitted stage
    val stageSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => stageSites.add(r.callSite))
    }
    val before = callSite
    sc.setCallSite("caller short")
    sc.setLocalProperty("callSite.long", "caller long")
    sc.addSparkListener(listener)
    try {
      val frame = spark.range(0, 100, 1, 2).select(col("id"), (col("id") % 7).as("k"))
      val eager = frame.checkpointAs("PlanSnapshotSpec.eager", eager = true)
      assert(callSite == (("caller short", "caller long")))
      assert(checkpointRdd(eager).endsWith(" at graft.checkpoint: PlanSnapshotSpec.eager"))
      val lazyCp = frame.checkpointAs("PlanSnapshotSpec.lazy")
      assert(callSite == (("caller short", "caller long")))
      assert(checkpointRdd(lazyCp).endsWith(" at graft.checkpoint: PlanSnapshotSpec.lazy"))
      assert(lazyCp.count() == 100 && eager.count() == 100)
      val failing = spark.range(0, 4, 1, 2)
        .select(raise_error(concat(lit("boom "), col("id").cast("string"))).as("x"))
      intercept[Exception](failing.checkpointAs("PlanSnapshotSpec.failing", eager = true))
      assert(callSite == (("caller short", "caller long")))
      // the failed job ran over the checkpoint RDD, named by the helper
      val deadline = System.nanoTime() + 30000000000L
      while (!stageSites.contains("graft.checkpoint: PlanSnapshotSpec.failing") &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(stageSites.contains("graft.checkpoint: PlanSnapshotSpec.failing"))
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty("callSite.short", before._1)
      sc.setLocalProperty("callSite.long", before._2)
    }
  }

  test("snapshot directory carries no orphaned or missing entries") {
    if (!regen) {
      val snaps =
        if (Files.isDirectory(snapDir))
          Files.list(snapDir).iterator().asScala
            .map(_.getFileName.toString)
            // only snapshot files count — a stray tooling directory
            // (e.g. an accidental sbt launch creating plans/target)
            // must not fail an otherwise-green suite (r9 verdict)
            .filter(_.endsWith(".txt"))
            .map(_.stripSuffix(".txt")).toSet
        else Set.empty[String]
      val registered = SparkEntry.queries.keySet
      assert(snaps == registered,
        s"orphaned: ${snaps -- registered}; missing: ${registered -- snaps}")
    }
  }
}
