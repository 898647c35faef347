package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates the sf0.1 corpus `reps`×
  * into an sf1-shaped dataset for scale-proof runs.
  *
  * A naive copy would be WRONG for the similarity/dedup queries: 10
  * identical copies of every document make each near-dup cluster 10×
  * larger, so pair counts (and pair-join cost) grow 100×, not 10× — the
  * scaled dataset would measure a different problem. Replicas are
  * therefore decorrelated while keeping every replica internally
  * isomorphic to the original:
  *
  * - **documents**: replica r applies a character-permutation cipher
  *   (seeded Fisher–Yates over letters/digits via `translate`) — a
  *   bijection on the alphabet, so char n-gram and word-shingle
  *   structure WITHIN a replica is exactly isomorphic to sf0.1 (same
  *   dup clusters, same gram frequencies), while cross-replica grams
  *   share almost nothing at ANY replica count (a rotation cipher
  *   worked only below 27 replicas — period 26).
  *   Text length is preserved, so `n_chars` stays valid.
  * - **embeddings**: replica r multiplies each vector by a deterministic
  *   ±1 diagonal matrix. An orthogonal transform applied to BOTH sides
  *   preserves every within-replica dot product EXACTLY in float
  *   arithmetic (signs cancel per term), so cosine-dup/ANN structure
  *   replicates bit-for-bit; cross-replica cosines collapse toward 0.
  * - **facts** (events, orders, lineitem, customer): keys shift by
  *   r·SHIFT — 10× independent series/orders over the SAME dimension
  *   tables, which is how real data actually scales (dims are bounded).
  * - **dims** (region, nation, supplier, part): copied unchanged.
  *
  * Replica 0 is the identity, so sf0.1 is a strict subset of the output.
  */
object ScaleGen {

  private val Shift = 10000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase
  private val digits = "0123456789"

  /** Seeded Fisher–Yates permutation of `s` (replica 0 = identity).
    * The round-5 rotation cipher had PERIOD 26 on letters: at ≥27
    * replicas, r and r+26 would share the full letter mapping and
    * mostly-alphabetic documents would become cross-replica near-dups —
    * the exact correlation ScaleGen exists to avoid. Distinct random
    * permutations share few fixed points at any replica count
    * (collisions of whole 26-char permutations are ~1/26! events). */
  private def permute(s: String, r: Int): String =
    if (r == 0) s
    else {
      val arr = s.toCharArray
      var h = r.toLong * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
      def next(): Long = { h ^= h >>> 27; h *= 0x3C79AC492BA7B653L; h ^= h >>> 33; h }
      var i = arr.length - 1
      while (i > 0) {
        val j = math.floorMod(next(), i + 1).toInt
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  private val cipherFrom = lower + upper + digits
  /** Upper case reuses the lower-case permutation so case pairs map
    * together (a bijection either way; this keeps capitalization
    * structure isomorphic within a replica). */
  private def cipherTo(r: Int): String = {
    val lp = permute(lower, r)
    lp + lp.toUpperCase + permute(digits, r)
  }

  /** Deterministic ±1 sign for (replica, dim) — replica 0 is identity. */
  private def signs(r: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      if (r == 0) 1.0
      else {
        val h = (i + 1).toLong * (2 * r + 1) * 0x9E3779B97F4A7C15L
        if (((h >>> 17) & 1L) == 0L) 1.0 else -1.0
      }
    }

  private def replicate(base: DataFrame, reps: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until reps).map(r => f(base, r)).reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // keys from different replicas must never collide, or joins pair
    // rows ACROSS replicas and the scaled dataset measures a different
    // (partly merged) problem with no signal — fail fast instead
    def requireBelowShift(df: DataFrame, keys: String*): Unit = keys.foreach { k =>
      val mx = df.agg(max(col(k).cast("long"))).head().getLong(0)
      require(mx < Shift, s"source $k max $mx >= replica shift $Shift — raise Shift")
    }

    // dimensions: unchanged (real corpora scale facts, not dims)
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(Tables.table(spark, src, t), t)
    }

    val customer = Tables.table(spark, src, "customer")
    requireBelowShift(customer, "c_custkey")
    write(replicate(customer, reps) { (t, r) =>
      t.withColumn("c_custkey", col("c_custkey") + lit(r * Shift))
    }, "customer")

    val orders = Tables.table(spark, src, "orders")
    requireBelowShift(orders, "o_orderkey", "o_custkey")
    write(replicate(orders, reps) { (t, r) =>
      t.withColumn("o_orderkey", col("o_orderkey") + lit(r * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(r * Shift))
    }, "orders")

    val lineitem = Tables.table(spark, src, "lineitem")
    requireBelowShift(lineitem, "l_orderkey")
    write(replicate(lineitem, reps) { (t, r) =>
      t.withColumn("l_orderkey", col("l_orderkey") + lit(r * Shift))
    }, "lineitem")

    // events.ts replicates verbatim in whatever physical form the source
    // corpus carries (nanos-long or µs timestamp) — Tables.events
    // normalizes either on read, so the scaled table round-trips
    val events = Tables.table(spark, src, "events")
    requireBelowShift(events, "event_id", "user_id")
    write(replicate(events, reps) { (t, r) =>
      t.withColumn("event_id", col("event_id") + lit(r * Shift))
        .withColumn("user_id", col("user_id") + lit(r * Shift))
    }, "events")

    val documents = Tables.table(spark, src, "documents")
    requireBelowShift(documents, "doc_id")
    write(replicate(documents, reps) { (t, r) =>
      t.withColumn("doc_id", col("doc_id") + lit(r * Shift))
        .withColumn("text", translate(col("text"), cipherFrom, cipherTo(r)))
    }, "documents")

    val embeddings = Tables.table(spark, src, "embeddings")
    requireBelowShift(embeddings, "vec_id")
    val dim = embeddings
      .filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    write(replicate(embeddings, reps) { (t, r) =>
      val s = signs(r, dim)
      t.withColumn("vec_id", col("vec_id") + lit(r * Shift))
        .withColumn("embedding",
          transform(col("embedding"),
            (x, i) => (x * element_at(typedLit(s.toSeq), i + 1)).cast("float")))
    }, "embeddings")

    spark.stop()
  }
}
