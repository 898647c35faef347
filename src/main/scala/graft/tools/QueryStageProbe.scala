package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Generic per-stage probe for ANY registered SparkEntry query (round
  * 12) — the round-9 d15 stage listener (BASELINE.md) generalized so
  * an optimization round can see, for a named query, where the task
  * time, shuffle volume and spill actually land without hand-writing a
  * probe per query. Runs the query against SPARK_GRAFT_SF_DIR through
  * the pruning-proof bench sink and prints the per-stage table. Not part of the library
  * surface; numbers are for optimization work, never a bench record
  * (single run, no warm pass). */
object QueryStageProbe {
  private final class StageTable extends SparkListener {
    case class Row(id: Int, name: String, tasks: Int, taskSec: Double,
                   gcSec: Double,
                   inRec: Long, srMB: Double, swMB: Double,
                   spillMemMB: Double, spillDiskMB: Double, outRec: Long)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      rows += Row(si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
        m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
        m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.memoryBytesSpilled / 1e6, m.diskBytesSpilled / 1e6,
        m.shuffleWriteMetrics.recordsWritten)
    }
    def dump(): Unit = {
      println(f"${"stage"}%5s ${"tasks"}%5s ${"taskSec"}%8s ${"gcSec"}%8s ${"inRec"}%12s ${"shRdMB"}%9s ${"shWrMB"}%9s ${"spillM"}%9s ${"spillD"}%9s ${"shWrRec"}%12s  name")
      rows.sortBy(_.id).foreach { r =>
        println(f"${r.id}%5d ${r.tasks}%5d ${r.taskSec}%8.1f ${r.gcSec}%8.1f ${r.inRec}%12d ${r.srMB}%9.1f ${r.swMB}%9.1f ${r.spillMemMB}%9.1f ${r.spillDiskMB}%9.1f ${r.outRec}%12d  ${r.name}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: QueryStageProbe <query_name>"))
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.build(s"local[$cpus]", cpus.toInt, "query-stage-probe")
    spark.sparkContext.setLogLevel("WARN")
    val listener = new StageTable
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobDescription(s"probe: $name")
    val t0 = System.nanoTime()
    graft.Bench.materialize(fn(spark, sfDir))
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000) // let the last stage-completed events drain
    println(f"\n=== $name on $sfDir: $dt%.1f s ===")
    listener.dump()
    spark.stop()
  }
}
