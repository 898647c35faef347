package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.cents

/** Skew-mitigation utilities (SURVEY §5).
  *
  * A hot key (one region producing half the feed) turns a groupBy into
  * one straggler task. Salted aggregation splits every key into
  * `salts` deterministic sub-keys for the first (heavy) shuffle, then
  * merges the tiny per-salt partials — the classic two-phase pattern,
  * exact for any algebraic aggregate. AQE's skew-join handling covers
  * joins; this covers aggregations, where AQE cannot re-split a
  * running hash aggregate.
  */
object Skew {

  /** Two-phase salted sum/count per key. `saltSrcCol` must be any
    * column that varies within a key (a record id); the salt is a
    * deterministic hash of it, so re-runs produce identical partials.
    */
  def saltedAggregate(df: DataFrame, keyCol: String, saltSrcCol: String,
                      valueCol: String, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col(saltSrcCol)), lit(salts)))
      // exact integer cents: the two-phase re-ordering of the sum must
      // not perturb a float result, so partials are long sums
      .withColumn("__cents", cents(col(valueCol)).cast("long"))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col("__cents")).as("__s"), count(lit(1)).as("__n"))
      .groupBy(col(keyCol))
      .agg((sum(col("__s")) / 100.0).as("sum_value"), sum(col("__n")).as("n"))
}
