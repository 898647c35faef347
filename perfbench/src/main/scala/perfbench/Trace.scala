package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counters of one layer, summed over the calls of one pass. */
final class LayerCounters {
  var busyS = 0.0
  var planS = 0.0
  var taskS = 0.0
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsOut = 0L
  var failed = 0L
}

/** One recorded span: a layer call, or a Spark job that ran inside one. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      pass: Int, startNs: Long, endNs: Long)

/** Links Spark jobs and tasks to the layer span that submitted them.
  *
  * The benchmark sets the local property [[Tracer.SpanKey]] on the driver
  * thread around each layer call; jobs inherit it (streaming threads too,
  * since Spark local properties are inheritable), so every job start
  * carries the id of its span and every task end maps to it through the
  * job's stage ids. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val spanTasks = new ConcurrentHashMap[Long, Array[Long]]()
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    id.foreach { s =>
      jobSpan.put(e.jobId, s.toLong)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, s.toLong))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobSpan.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (s != null && t0 != null) jobSpans.add((s.longValue, e.jobId, t0.longValue, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val acc = spanTasks.computeIfAbsent(s.longValue, _ => new Array[Long](5))
      acc.synchronized {
        acc(0) += m.executorRunTime
        acc(1) += 1
        acc(2) += m.shuffleWriteMetrics.bytesWritten
        acc(3) += m.memoryBytesSpilled + m.diskBytesSpilled
        acc(4) += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** Span recorder for the traced run. Disabled, every hook is a no-op
  * apart from the wall clock that untraced passes also need. */
final class Tracer(spark: SparkSession) {
  private var nextId = 1L
  private var current: Option[(Long, String)] = None
  private var listener: Option[SpanListener] = None
  private var pass = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanLayer = mutable.Map.empty[Long, String]
  // layer spans are timed with nanoTime, job spans come with wall-clock
  // millis from the listener bus: record both on the wall-clock axis
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val layers: mutable.Map[String, LayerCounters] = mutable.LinkedHashMap.empty

  def enabled: Boolean = listener.isDefined

  def startPass(p: Int, traced: Boolean): Unit = {
    pass = p
    layers.clear()
    if (traced) {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
  }

  /** Drain the listener bus, fold task counters into the layers and
    * detach the listener. */
  def endPass(): Unit = listener.foreach { l =>
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    l.spanTasks.forEach { (span, acc) =>
      spanLayer.get(span).foreach { layer =>
        val c = layers.getOrElseUpdate(layer, new LayerCounters)
        c.taskS += acc(0) / 1000.0
        c.tasks += acc(1)
        c.shuffleBytes += acc(2)
        c.spillBytes += acc(3)
        c.rowsOut += acc(4)
      }
    }
    l.jobSpans.forEach { case (span, job, t0, t1) =>
      spans += Span(nextId, span, "job", s"job-$job", pass, t0 * 1000000L, t1 * 1000000L)
      nextId += 1
    }
    listener = None
  }

  /** Run one layer call as a span; returns whether it succeeded. */
  def call(layer: String, name: String)(body: => Unit): (Boolean, Double, String) = {
    val id = nextId
    nextId += 1
    val c = layers.getOrElseUpdate(layer, new LayerCounters)
    val sc = spark.sparkContext
    if (enabled) {
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      spanLayer(id) = layer
    }
    current = Some((id, layer))
    val t0 = System.nanoTime()
    val err = try { body; null } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    }
    val t1 = System.nanoTime()
    current = None
    if (enabled) {
      sc.setLocalProperty(Tracer.SpanKey, null)
      spans += Span(id, 0L, "layer", s"$layer/$name", pass, t0 + epochOffsetNs, t1 + epochOffsetNs)
    }
    c.busyS += (t1 - t0) / 1e9
    if (err != null) c.failed += 1
    (err == null, (t1 - t0) / 1e9, err)
  }

  /** Traced passes plan the stage's frame once more before the write:
    * `plan_s` is the time of that extra planning of the same frame (the
    * write then plans its own command again), and `trace.overhead_s`
    * includes it. Untraced passes leave planning to the write alone. */
  def plan(df: DataFrame): Unit = if (enabled) {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    current.foreach { case (_, layer) =>
      layers.getOrElseUpdate(layer, new LayerCounters).planS += (System.nanoTime() - t0) / 1e9
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}
