package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoint._
import graft.functions.micros

/** Deterministic corpus sampling for training-data curation.
  *
  * A 100 TB corpus build needs reproducible, engine-independent
  * sampling — re-running the pipeline (or auditing it from another
  * engine) must select the SAME documents. `rand()` is neither, so
  * rows are bucketed by a Knuth multiplicative hash of the record id
  * (id × 2654435761 mod 10000 — plain 64-bit integer arithmetic any
  * engine reproduces bit-exactly) and kept when the bucket falls under
  * the stratum's rate. Entirely narrow: the predicate sits on the
  * scan, no shuffle, no state.
  */
object Sampling {

  private val buckets = 10000L

  /** Hash bucket in [0, 10000) from a non-negative integral id.
    * OVERFLOW-SAFE FORM (round 12, the Cluster.seedHash precedent):
    * the id is reduced mod 10⁴ BEFORE the multiply and the Knuth
    * constant is pre-reduced (2654435761 ≡ 5761 mod 10⁴), so the
    * intermediate product is ≤ 9999·5761 < 2²⁶ for EVERY id — the
    * plain `id * 2654435761` overflows int64 (ANSI
    * ArithmeticException; a DuckDB error) for ids above ~3.47e9,
    * exactly the large-id corpora this sampler targets. Congruence
    * mod 10⁴ means every bucket VALUE is unchanged wherever the old
    * form was defined, so all derived samples are identical. */
  def hashBucket(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(buckets)) * lit(2654435761L % buckets),
      lit(buckets))

  /** Per-stratum deterministic sampling: keep a row when its id bucket
    * is below `rates(stratum) * 10000` (`defaultRate` for strata not in
    * the map). Rates are a compile-time literal map — the whole filter
    * is one codegen'd predicate, no join. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rate = coalesce(
      element_at(typedLit(rates), col(strataCol).cast("string")),
      lit(defaultRate))
    df.filter(hashBucket(col(idCol)) < rate * buckets)
  }

  /** Per-group top-quantile filter (round 8) — the quality-filtering
    * step every pretraining corpus build runs (CCNet/FineWeb shape):
    * within each group keep the rows whose `valueCol` lands in the top
    * `keepNum/keepDen` fraction, ties at the boundary ALL kept (so the
    * kept count is ⌈keepFrac·n⌉ plus boundary ties — deterministic,
    * never an arbitrary tie pick).
    *
    * Exactness and scale come from the same move: the quantile is NOT
    * computed by ranking the corpus (a per-group global sort — the
    * window-on-unbounded-key anti-pattern) but from a value HISTOGRAM.
    * Values quantize to integer micro-units (⌊v·10⁶⌋ — one double
    * multiply + floor, bit-identical cross-engine), the per-(group,
    * value) counts partial-aggregate map-side into a tiny table
    * (groups × distinct values), a cumulative window over THAT finds
    * each group's threshold — smallest value whose top-down cumulative
    * count reaches ⌈n·keepNum/keepDen⌉, in pure integer arithmetic —
    * and the G-row threshold table broadcasts back as a narrow filter.
    * The corpus is scanned twice (histogram + filter) and never
    * shuffled. Null values never count toward n and are never kept;
    * null group keys are dropped (no quantile is defined for them). */
  def quantileTopFilter(df: DataFrame, valueCol: String, groupCol: String,
                        keepNum: Long, keepDen: Long): DataFrame = {
    require(keepNum > 0 && keepDen >= keepNum,
      "keep fraction must be in (0, 1]")
    val withU = df
      .withColumn("__vu", micros(col(valueCol)))
      .filter(col("__vu").isNotNull)
    val hist = withU.groupBy(col(groupCol), col("__vu"))
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy(groupCol).orderBy(col("__vu").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCol)))
      .filter(col("__cum") >= expr(s"(__n * $keepNum + $keepDen - 1) div $keepDen"))
      .groupBy(col(groupCol)).agg(max(col("__vu")).as("__thr"))
    withU.join(broadcast(thr), Seq(groupCol))
      .filter(col("__vu") >= col("__thr"))
      .drop("__vu", "__thr")
  }

  /** Exact per-group cap (round 8) — keep EXACTLY min(cap, n) rows per
    * group, chosen by a deterministic pseudo-random order: the
    * FineWeb-style per-domain cap against over-represented sources,
    * and equally an exact-count stratified sampler ([[stratifiedSample]]
    * keeps a hash FRACTION; this keeps a COUNT).
    *
    * The order key is an affine hash of the id ((a·(id mod p) + b)
    * mod p, p = 2³¹−1 — bijective on [0, p), every intermediate under
    * 2⁶² so the SQL oracle reproduces it bit-exactly), tie-broken by
    * id. Exactness without a per-group sort, same histogram discipline
    * as [[quantileTopFilter]]: hash values coarsen into `buckets`
    * ranges, per-(group, bucket) counts partial-aggregate into a tiny
    * table whose ascending cumulative marks each bucket WHOLLY kept
    * (cum ≤ cap), wholly dropped (previous cum ≥ cap), or the ONE
    * boundary bucket per group — and only the boundary bucket's rows
    * (≈ n/buckets of the group) enter a rank window for the remaining
    * k = cap − cum_prev slots. The corpus itself never sorts and never
    * shuffles; the bucket-cum table broadcasts back. Null ids/groups
    * are dropped (no deterministic order is defined for them). */
  def groupCapSample(df: DataFrame, idCol: String, groupCol: String,
                     cap: Long, nBuckets: Int = 4096): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(nBuckets > 0, "bucket count must be positive")
    val p = graft.text.Dedup.AffineP
    val q = (p + nBuckets - 1) / nBuckets // bucket width: b = r div q
    val withR = df
      .withColumn("__r",
        graft.text.Dedup.affineHash(pmod(col(idCol).cast("long"), lit(p)), "e47", 0))
      .filter(col("__r").isNotNull && col(groupCol).isNotNull)
      .withColumn("__bk", floor(col("__r") / q).cast("long"))
    val cum = withR.groupBy(col(groupCol), col("__bk"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(groupCol).orderBy(col("__bk").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", col("__cum") - col("__c"))
      // buckets past the cap never reach the corpus join
      .filter(col("__prev") < cap)
      .select(col(groupCol), col("__bk"), col("__cum"), col("__prev"))
    val joined = withR.join(broadcast(cum), Seq(groupCol, "__bk"))
    val whole = joined.filter(col("__cum") <= cap)
    val rankW = Window.partitionBy(groupCol)
      .orderBy(col("__r").asc, col(idCol).asc)
    val boundary = joined.filter(col("__cum") > cap)
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") <= lit(cap) - col("__prev"))
      .drop("__rk")
    whole.unionByName(boundary).drop("__r", "__bk", "__cum", "__prev")
  }

  /** Deterministic global shuffle into training shards (round 8) — the
    * LAST step of a corpus build: every example gets a pseudo-random
    * (shard, position) so trainers stream shards sequentially and still
    * see a well-mixed order, reproducibly (re-running the build — or
    * auditing it from another engine — yields the identical layout).
    *
    * Order key is the e47 affine-hash family (bijective mod 2³¹−1,
    * oracle-reproducible); shard = key mod nShards, position = rank by
    * (key, id) within the shard. The rank is exact but never sorts a
    * whole shard (a shard is corpus/nShards — a window partitioned by
    * shard alone is the unbounded-key anti-pattern): keys coarsen into
    * `nBuckets` ranges, the tiny per-(shard, bucket) histogram's
    * running sum gives each bucket its starting offset, and a
    * row_number window partitioned by (shard, BUCKET) — partitions of
    * ~n/(nShards·nBuckets) rows — ranks only within buckets;
    * position = bucket offset + intra-bucket rank. One hash exchange
    * of the corpus on (shard, bucket) — the same exchange that
    * physically co-locates a shard's rows for the write — plus a
    * broadcast of the offset table. Null ids are dropped (no
    * deterministic position is defined for them). */
  def shuffleShard(df: DataFrame, idCol: String, nShards: Int,
                   nBuckets: Int = 4096): DataFrame = {
    require(nShards > 0, "shard count must be positive")
    require(nBuckets > 0, "bucket count must be positive")
    val p = graft.text.Dedup.AffineP
    val q = (p + nBuckets - 1) / nBuckets
    val keyed = df
      .withColumn("__r",
        graft.text.Dedup.affineHash(pmod(col(idCol).cast("long"), lit(p)), "e48", 0))
      .filter(col("__r").isNotNull)
      .withColumn("shard", pmod(col("__r"), lit(nShards.toLong)))
      .withColumn("__bk", floor(col("__r") / q).cast("long"))
    val offsets = keyed.groupBy(col("shard"), col("__bk"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(
        Window.partitionBy(col("shard")).orderBy(col("__bk").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("__c"))
      .select(col("shard"), col("__bk"), col("__off"))
    val rankW = Window.partitionBy(col("shard"), col("__bk"))
      .orderBy(col("__r").asc, col(idCol).asc)
    keyed.join(broadcast(offsets), Seq("shard", "__bk"))
      .withColumn("position", (col("__off") + row_number().over(rankW) - 1).cast("long"))
      .drop("__r", "__bk", "__off")
  }

  /** Temperature-scaled mixture sampling (T = 2): derive each source's
    * sampling rate from the corpus itself so the sampled mixture
    * up-weights small sources relative to their raw share — the
    * standard multilingual/multi-source training-data mixing move
    * (weight ∝ n^(1/T); T = 2 is the sqrt form, hardwired because
    * IEEE-754 requires sqrt correctly rounded, so every engine
    * computes the identical weight — a general-T pow() carries no such
    * guarantee). The overall take targets `budgetNum/budgetDen` of the
    * corpus; a source's per-row rate is
    *   rate_s = budget · N · w_s / (W · n_s),  w_s = ⌊√n_s·1000⌋,
    * capped at 1, applied via the same deterministic id-hash bucket as
    * [[stratifiedSample]]. Thresholds are computed entirely in integer
    * arithmetic (decimal(38,0) here, HUGEINT in the SQL oracle) so the
    * bucket comparison is bit-identical across engines — no float
    * normalizer whose summation order could flip a boundary row.
    *
    * Scale shape: per-source counts are one partial-aggregated
    * groupBy over a column that is typically low-cardinality (sources
    * number thousands, not billions); the S-row rate table broadcasts
    * back and selection is a narrow filter — the corpus itself never
    * shuffles. Intermediate products stay under 10^4·num·N·w_s ≈
    * 10^23·num at N = 10^11 docs — inside decimal(38,0)/HUGEINT range.
    */
  def temperatureMixSample(df: DataFrame, idCol: String, srcCol: String,
                           budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget must be a positive fraction")
    val dec = "decimal(38,0)"
    // S rows, but TWO consumers (the totals aggregate and the rate
    // table) — without materialization each consumer re-runs the full
    // corpus count scan, turning a two-pass operator into three passes
    val stats = df.groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n").cast("double")) * 1000).cast("long"))
      .checkpointAs("Sampling.temperatureMixSample.stats")
    val tot = stats.agg(sum(col("__n")).as("__totn"), sum(col("__w")).as("__totw"))
    val rates = stats.crossJoin(broadcast(tot))
      .withColumn("__t", least(lit(buckets),
        floor((lit(buckets).cast(dec) * lit(budgetNum).cast(dec) *
                col("__totn").cast(dec) * col("__w").cast(dec)) /
              (lit(budgetDen).cast(dec) * col("__totw").cast(dec) *
                col("__n").cast(dec))).cast("long")))
      .select(col(srcCol), col("__t"))
    df.join(broadcast(rates), Seq(srcCol))
      .filter(hashBucket(col(idCol)) < col("__t"))
      .drop("__t")
  }
}
