package graft

import org.apache.spark.sql.Dataset

/** The engine's one checkpoint, for every shared or iterated
  * intermediate (SURVEY §8 rule 3). It runs under the call site
  * `graft.checkpoint: <name>`, `name` a fixed per-call-site
  * `<Object>.<operator>[.<intermediate>]` literal, so plans print
  * `MapPartitionsRDD[N] at graft.checkpoint: <name>` instead of a source
  * line and eager jobs carry the operator's name. A local checkpoint
  * truncates lineage: losing an executor fails the job instead of
  * recomputing its blocks (README, fault-tolerance trade). */
object Checkpoint {

  implicit class CheckpointOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint(eager)` under the named call site, lazy unless
      * asked (unlike Spark's eager default). The caller's call site is
      * restored afterwards, also when the checkpoint's job fails. */
    def checkpointAs(name: String, eager: Boolean = false): Dataset[T] = {
      val sc = ds.sparkSession.sparkContext
      val short = sc.getLocalProperty("callSite.short")
      val long = sc.getLocalProperty("callSite.long")
      sc.setCallSite(s"graft.checkpoint: $name")
      try ds.localCheckpoint(eager)
      finally {
        sc.setLocalProperty("callSite.short", short)
        sc.setLocalProperty("callSite.long", long)
      }
    }
  }
}
