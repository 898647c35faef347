package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.GraftSession

/** Benchmark program. One JVM, one client thread, closed loop: the next
  * pass of the workload's stages starts only after the previous one ends.
  *
  *   probe                          build the session, print READY, halt
  *   run <workload> <data> <work> <seconds> <trace> <result.json>
  *
  * `run` prints READY once the session is up (the parent times set-up up
  * to that line), runs one cold pass and then warm passes for `seconds`,
  * and writes every measurement and output location to `result.json`.
  * Output checks happen in the parent, after this process has exited. */
object Main {
  private val cores = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    val spark = GraftSession.build(s"local[$cores]", cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    args.headOption match {
      case Some("probe") =>
        session()
        println("READY")
        System.out.flush()
        // the probe only measures set-up: skip the orderly shutdown
        Runtime.getRuntime.halt(0)
      case Some("run") if args.length == 7 =>
        val Array(_, workload, data, work, seconds, trace, result) = args
        run(workload, data, work, seconds.toDouble, trace == "1", result)
      case _ =>
        System.err.println("usage: probe | run <workload> <data> <work> <seconds> <0|1> <result.json>")
        sys.exit(2)
    }
  }

  /** Fixed pure-JVM integer loop: a host-speed control independent of
    * Spark. Same work every call, so its time only moves with the host. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) {
      h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
      i += 1
    }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Heap still live at a pass boundary: a full collection (outside the
    * timed region, so every pass also starts from a collected heap), then
    * the used heap in MB. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def codegen(): (Double, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def run(workload: String, data: String, work: String, seconds: Double,
                  trace: Boolean, result: String): Unit = {
    val spark = session()
    println("READY")
    System.out.flush()
    // after READY, so the control is not part of the timed set-up
    val calibBefore = calibrate()
    val wl = Workloads(workload)
    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[JObject]

    def call(st: Stage, c: Ctx): JObject = {
      val (ok, dt, err) = tracer.call(st.layer, st.name)(st.body(c))
      if (!ok) System.err.println(s"[perfbench] pass ${c.pass} ${st.name} failed: $err")
      ("name" -> st.name) ~ ("layer" -> st.layer) ~ ("ok" -> ok) ~ ("seconds" -> dt) ~
        ("error" -> Option(err))
    }

    def onePass(p: Int, traced: Boolean): Ctx = {
      val c = new Ctx(spark, data, s"$work/pass$p", p, tracer)
      val gc0 = gcSeconds()
      val (cg0, cl0) = codegen()
      tracer.startPass(p, traced)
      val t0 = System.nanoTime()
      val stages = wl.stages.map(call(_, c)).toList
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.endPass()
      val (cg1, cl1) = codegen()
      passes += ("pass" -> p) ~ ("traced" -> traced) ~ ("seconds" -> wall) ~ ("dir" -> c.dir) ~
        ("stages" -> stages) ~ ("gc_s" -> (gcSeconds() - gc0)) ~
        ("codegen_s" -> (cg1 - cg0)) ~ ("codegen_classes" -> (cl1 - cl0)) ~
        ("stream_batches" -> c.streamBatches) ~ ("retained_heap_mb" -> retainedHeapMb()) ~
        ("values" -> c.values.toMap) ~ ("layers" -> (if (traced) Some(layerJson(tracer)) else None))
      c
    }

    val firstCtx = onePass(0, traced = false)
    // references only feed per-layer metrics, so only the traced run pays
    val references = if (trace) wl.references else Nil
    val refs = references.map(call(_, firstCtx)).toList
    retainedHeapMb()
    heapPools.foreach(_.resetPeakUsage())
    val warmStart = System.nanoTime()
    var p = 1
    // at least three warm passes, so pass_s is a median; in the traced
    // run four, alternating traced / untraced, so the difference of
    // their medians is the tracing overhead
    val minPasses = if (trace) 4 else 3
    while (p <= minPasses || (System.nanoTime() - warmStart) / 1e9 < seconds && p <= 40) {
      onePass(p, traced = trace && p % 2 == 1)
      p += 1
    }
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    spark.stop()
    if (trace) {
      val spans = tracer.allSpans.map { s =>
        compact(render(("id" -> s.id) ~ ("parent" -> s.parent) ~ ("kind" -> s.kind) ~
          ("name" -> s.name) ~ ("pass" -> s.pass) ~ ("start_ns" -> s.startNs) ~
          ("end_ns" -> s.endNs)))
      }
      Files.write(Paths.get(work, "spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val oracles = (wl.stages ++ references).flatMap { st =>
      st.oracle.map { case (q, tables) =>
        ("stage" -> st.name) ~ ("query" -> q) ~ ("sql" -> graft.SparkEntry.oracleSql(q)) ~
          ("tables" -> tables)
      }
    }.toList
    val out = ("first_pass_s" -> passes.head \ "seconds") ~ ("references" -> refs) ~
      ("peak_heap_mb" -> peakHeapMb) ~ ("calib_before_s" -> calibBefore) ~
      ("calib_after_s" -> calibrate()) ~ ("cores" -> cores) ~ ("passes" -> passes.toList) ~
      ("oracles" -> oracles)
    Files.write(Paths.get(result), compact(render(out)).getBytes(UTF_8))
  }

  private def layerJson(t: Tracer): JObject =
    JObject(t.layers.toList.map { case (name, c) =>
      name -> (("busy_s" -> c.busyS) ~ ("plan_s" -> c.planS) ~ ("task_s" -> c.taskS) ~
        ("tasks" -> c.tasks) ~ ("shuffle_bytes" -> c.shuffleBytes) ~
        ("spill_bytes" -> c.spillBytes) ~ ("rows_out" -> c.rowsOut) ~ ("failed" -> c.failed))
    })
}
