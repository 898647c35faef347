package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.text.Dedup

/** Embedding similarity search.
  *
  * Brute-force cosine top-k is the exact baseline: the (small) query
  * side is broadcast against the 100 TB corpus — a narrow map + per-query
  * top-k, no corpus shuffle. The scale path is random-hyperplane LSH:
  * bucket signatures computed in a narrow pass, candidate join only
  * inside buckets.
  *
  * Every operator pre-materializes each row's squared norm ONCE before
  * pairing, so the per-pair work is a single dot product. Dots, norms
  * and plane signatures are native codegen'd expressions
  * ([[graft.functions.VectorExpressions]]) — the HOF equivalents are
  * interpreted with boxed Doubles and dominated these queries' cost —
  * and the raw float vectors flow through the joins uncast (half the
  * shuffle width of a double array; promotion to double happens
  * per-element inside the primitive loops, which is bit-identical to
  * casting the array first).
  */
object Similarity {

  /** Dimensionality probe: one 1-row job over a non-null vector (a null
    * sampled row would NPE on getInt). Mixed-dimension inputs are out of
    * contract — the probe just fixes the plane-matrix width. */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Near-duplicate embedding pairs (cosine ≥ threshold) inside blocks.
    * Block column bounds the pair space — and is the operator's whole
    * scale contract: in-block work is quadratic in block size, so
    * blocks must SHRINK (or at least hold constant) as the corpus
    * grows. The round-7 full sf10 sweep measured exactly this going
    * wrong: with fixed label blocks and a 100× corpus, e5 read
    * 92×/decade (732 s) while [[cosineDupPairsLsh]] — whose LSH blocks
    * re-tune with corpus size — held 6×/decade. Use an LSH bucket or
    * cluster id at scale, never a static category column. */
  def cosineDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, threshold: Double,
                     maxBlockSize: Option[Long] = None): DataFrame = {
    // round-8 guard rail for the block-size contract above: when set,
    // one cheap aggregate on the block column fails fast naming the
    // oversized blocks BEFORE the quadratic join can melt the cluster,
    // with the fix spelled out. Default None = exact-baseline
    // semantics unchanged.
    maxBlockSize.foreach { cap =>
      Dedup.requireGroupsAtMost(emb, blockCol, cap, "",
        s"cosineDupPairs blocks exceed maxBlockSize=$cap (quadratic pair space): ",
        " -- use cosineDupPairsLsh (e22) or a finer block column")
    }
    val pre = TopK.normed(emb, Seq(col(blockCol).as("block"), col(idCol).as("id")),
      col(vecCol), "v", "n2")
    val a = pre.select(col("block"), col("id").as("id_a"), col("v").as("va"), col("n2").as("na2"))
    val b = pre.select(col("block"), col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(TopK.cosine("va", "na2", "vb", "nb2"), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact brute-force cosine top-k neighbors for a query set.
    * The query side is broadcast; ranking is deterministic (rounded
    * cosine desc, then neighbor id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    TopK.windowed(crossScored(
      TopK.normed(corpus, Seq(col(idCol).as("neighbor_id")), col(vecCol), "cv", "cn2"),
      TopK.normed(queries, Seq(col(idCol).as("query_id")), col(vecCol), "qv", "qn2")), k)

  /** Every corpus row (neighbor_id, cv, cn2) scored against the
    * broadcast query set (query_id, qv, qn2), self pairs excluded: the
    * candidate stage of the exact scans. */
  private def crossScored(c: DataFrame, q: DataFrame): DataFrame =
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(TopK.cosine("qv", "qn2", "cv", "cn2"), 6))

  /** Symmetric int8 quantization of an embedding column — the 4×/8×
    * (vs float/double) storage and shuffle-width reduction that makes
    * billion-vector ANN corpora fit executor memory. Per vector:
    * scale = max|v_i|, code_i = floor(v_i/scale·127 + 0.5) — native
    * codegen'd expressions, no HOFs. Cosine is SCALE-INVARIANT, so the
    * quantized codes feed the existing ArrayDot/ArrayNorm2 primitives
    * directly (no dequantization pass); only magnitude-sensitive uses
    * (L2 distance) need the scale back. Null vectors are excluded (no
    * codes can exist for them). */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .withColumn("scale", VectorExpressions.arrayAbsMax(col(vecCol)))
      .withColumn("qvec", VectorExpressions.quantizeInt8(col(vecCol), col("scale")))
      .drop(vecCol)

  /** Exploded view of [[quantizeInt8]] for engine-parity checks:
    * (vec_id, pos, code, scale) — one row per vector component. */
  def quantizeInt8Flat(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8(emb, vecCol)
      .select(col(idCol), col("scale"), posexplode(col("qvec")).as(Seq("pos", "code")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("code"), col("scale"))

  /** Brute-force cosine top-k over QUANTIZED codes — identical plan
    * shape to [[bruteForceTopK]] (broadcast query side, corpus never
    * shuffles) but every vector moves as int8-ranged codes instead of
    * floats. Recall vs the exact float ranking is bounded by the
    * quantization angle error (spec-checked), not by the plan. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame =
    // rule-7 salted two-stage rank (round 12, the round-11 verdict's
    // quantizedTopK flag): this is the path a user copies for a
    // quantized corpus scan, so it must carry the scale-safe shape —
    // a per-query window over the WHOLE corpus's scores funnels N rows
    // through one task per query. Output identical (e42 exactness).
    TopK.salted(crossScored(quantizedSide(corpus, idCol, vecCol, "neighbor_id", "cv", "cn2"),
      quantizedSide(queries, idCol, vecCol, "query_id", "qv", "qn2")), k)

  /** One side of [[quantizedTopK]] as a single projection over the
    * codes, norm read from `qvec` itself: [[TopK.normed]]'s
    * alias-then-norm form plans the aliases into the quantizing
    * projection instead. */
  private def quantizedSide(df: DataFrame, idCol: String, vecCol: String,
                            id: String, v: String, n2: String): DataFrame =
    quantizeInt8(df, vecCol).select(col(idCol).as(id), col("qvec").as(v),
      VectorExpressions.arrayNorm2(col("qvec")).as(n2))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 folded to [-1, 1). Computed ONCE on the driver with the
    * exact arithmetic of the catalyst `xxhash64(lit, lit, lit)`
    * expression (same fold order, same seed), so the derived planes are
    * identical on every executor and across engine versions with zero
    * driver state beyond the (numPlanes × dim)-double matrix. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    val h = Dedup.xxhashChain("graft-lsh", plane, dim)
    val m = 2000001L
    (((h % m) + m) % m - 1000000L).toDouble / 1000000.0
  }

  /** The hyperplane matrix for a given dimensionality. Public so the
    * DuckDB oracle can embed the identical plane values as SQL
    * literals (every component is exactly n/1e6, which both a decimal
    * literal parse and this division round to the same double). */
  def planeMatrix(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((p, i) => planeComponent(p, i))

  /** Hyperplane-LSH banding: `bands` OR-amplification bands of `per`
    * planes each; band b's key is the sign bits of planes
    * b·per .. b·per+per−1 as one long. */
  private final class Banding(val planes: Array[Array[Double]], val bands: Int, val per: Int) {
    /** One [[VectorExpressions.PlaneSignature]] per band. */
    def keys(v: Column): Seq[Column] = (0 until bands).map { b =>
      VectorExpressions.planeSignature(v, planes.slice(b * per, (b + 1) * per))
    }
  }

  /** The banding for `numPlanes` planes over `df`'s dimensionality: the
    * dimensionality probe is one 1-row job, then the plane matrix is a
    * driver constant shipped with the task closures. */
  private def banding(df: DataFrame, vecCol: String, numPlanes: Int, bands: Int): Banding = {
    require(numPlanes % bands == 0)
    val per = numPlanes / bands
    require(per <= 62, s"bits per band must stay off the long sign bit, got $per")
    new Banding(planeMatrix(numPlanes, probeDim(df, vecCol)), bands, per)
  }

  /** Expected LSH bucket occupancy [[autoPlanes]] sizes for; the
    * e22/e37/e38 DuckDB oracles re-derive the plane count from it. */
  val TargetBucket = 500L

  /** Plane count keeping expected LSH bucket occupancy ≤ TargetBucket
    * at corpus size n, with `bands` OR-amplification bands: bits per
    * band = the smallest b ≥ 2 with TargetBucket·2^b ≥ n (i.e.
    * max(2, ceil(log2(n / TargetBucket)))). Integer-exact on purpose:
    * the DuckDB oracle re-derives the same count from its own
    * `count(*)`, and a float `ceil(log2(...))` can flip at exact
    * powers of two.
    *
    * Band keys are INDEPENDENT longs since round 6 (one
    * [[VectorExpressions.PlaneSignature]] per band), so bits per band
    * is bounded at 62 — keeping `1L << bit` off the sign bit and
    * inside DuckDB's BIGINT — NOT at 64/bands. The old shared-64-bit
    * signature capped 8 bands at 8 bits each, saturating at
    * n ≈ TargetBucket·2^8 = 128k vectors, after which mean bucket
    * occupancy (and with it the QUADRATIC within-bucket pair work)
    * grew linearly with n — measured at sf10 (200k vectors): 27.3 s
    * vs a ~12 s linear extrapolation (BASELINE.md). 62 bits covers
    * TargetBucket·2^62 vectors — no realistic corpus saturates it.
    * Deployments re-derive this as the corpus grows; the e22 driver
    * gate does exactly that from the corpus count. */
  def autoPlanes(n: Long, bands: Int): Int = {
    require(bands >= 1 && bands <= 64, s"bands must be in [1, 64], got $bands")
    val maxBits = 62
    // ((n-1) >> b) < TargetBucket  ⟺  TargetBucket * 2^b >= n, overflow-free
    var bits = 2
    while (bits < maxBits && ((n - 1) >> bits) >= TargetBucket) bits += 1
    bands * math.min(bits, maxBits)
  }

  /** Vectors past which an embedding-LSH (band, key) bucket is
    * degenerate, dropped before its quadratic self-join. */
  private val LshMaxBucket = 10000

  /** Embedding near-duplicate pairs with LSH-bucket blocking — the
    * 100 TB form of [[cosineDupPairs]]: instead of a caller-supplied
    * block column (O(block²) when blocks grow), candidates come only
    * from shared (band, signature-chunk) buckets of the hyperplane LSH.
    * Degenerate buckets above [[LshMaxBucket]] (all-near-zero or
    * boilerplate embeddings) are dropped, mirroring the MinHash path.
    * Exact cosine (native codegen'd dot) is computed only on
    * candidates, so every emitted pair truly clears the threshold —
    * blocking affects recall, never precision.
    *
    * SCALING RULE (measured at sf1, BASELINE.md): bucket occupancy is
    * n / 2^(numPlanes/bands) per band, and candidate volume grows with
    * occupancy SQUARED — so bits-per-band must grow as
    * log2(n / TargetBucket) or a 10× corpus costs ~100× the pair work.
    * [[autoPlanes]] computes that. The recall/bits trade-off is set by
    * how similar the pairs you must keep are (P[bit agrees] =
    * 1 − θ/π per plane): tight thresholds (0.8+, true near-dups)
    * tolerate wide bands; loose thresholds approach random sign
    * agreement, where the candidate set — like the output itself — is
    * inherently near-quadratic and no blocking scheme is sub-quadratic
    * in the output. */
  def cosineDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                        numPlanes: Int, bands: Int, threshold: Double): DataFrame = {
    val lsh = banding(emb, vecCol, numPlanes, bands)
    // Band keys outgrow one 64-bit signature when autoPlanes asks for
    // more than 64/bands bits: the old always-folded form capped
    // bands × bits at 64, so autoPlanes saturated at
    // n ≈ TargetBucket·2^(64/bands) — 128k vectors at 8 bands — after
    // which bucket occupancy and the quadratic within-bucket work grew
    // with n (27.3 s at sf10 vs ~12 s linear, BASELINE.md). Two paths,
    // provably identical keys (bit i of band b = sign of plane
    // b·per+i, spec-pinned):
    //  - numPlanes ≤ 64: ONE folded signature, band keys sliced by
    //    shifts — one narrow cached long, the round-5 shape, kept
    //    because it is the measured-fastest form at every gate SF
    //    through sf1 (the per-band form measured +1.3 s at sf1 under
    //    the full Bench lifecycle, 4.00 vs 2.74 s, BASELINE.md round 6);
    //  - numPlanes > 64 (first reached between sf1 and sf10): one
    //    PlaneSignature per band as `bands` PRIMITIVE LONG columns
    //    (primitive, not array<long> — the columnar cache encodes
    //    longs natively while an array column pays per-row
    //    UnsafeArrayData (de)serialization on every read).
    val folded = numPlanes <= 64
    val sigd = {
      val base = TopK.normed(emb, Seq(col(idCol).as("id")), col(vecCol), "v", "n2")
      if (folded)
        base.withColumn("__sig", VectorExpressions.planeSignature(col("v"), lsh.planes))
      else
        base.select(Seq(col("id"), col("v"), col("n2")) ++
          lsh.keys(col("v")).zipWithIndex.map { case (k, b) => k.as(s"__k$b") }: _*)
    }
    // Persisted ONE ROW PER VECTOR (id, v, n2, signature long(s)): the
    // signatures are the expensive map work (numPlanes × dim products
    // per row), so they run exactly once — both the bucket-size branch
    // and the pair join derive (band, key) from the cached longs with
    // constant projections only, and the cache never holds ×bands
    // exploded copies of the vector. PERSIST here, not the
    // localCheckpoint the other two-branch shapes use (SURVEY §8 rule
    // 3): the bucket-size branch reads ONLY the signature longs, and
    // the columnar cache serves that column-pruned — checkpoint
    // blocks would deserialize every 64-float vector just to count
    // buckets (measured 7.4 vs 2.8 s for the query at sf1).
    // Disk-backed at corpus scale.
    sigd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val per = lsh.per
    val bandStructs = array((0 until bands).map { b =>
      val key =
        if (folded) shiftright(col("__sig"), b * per).bitwiseAND((1L << per) - 1L)
        else col(s"__k$b")
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
    val pre = sigd.select(col("id"), col("v"), col("n2"), explode(bandStructs).as("bk"))
      .select(col("id"), col("v"), col("n2"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Degenerate-bucket prune (near-zero / boilerplate embeddings that
    // collapse onto one signature), the MinHash path's partial-aggregated
    // prune: its size branch reads the cached sigd with the vector
    // column pruned, so only (band, key, count) partials shuffle.
    // Explicit shuffle barrier on the bucket key (the e4 repartition
    // trick): the banded table otherwise inherits the SCAN's
    // partitioning — a handful of input splits at bench scale, and
    // whatever the file layout gives in general — and when AQE picks a
    // broadcast self-join there is no exchange left to spread the
    // buckets, so the quadratic pair generation runs at scan
    // parallelism (measured 2.2× the whole query on one core; the old
    // count window inserted this exchange as a side effect). The
    // barrier also hands AQE a materialized stage with real sizes.
    val pruned = Dedup.pruneHotBuckets(pre, Seq("band", "key"), LshMaxBucket)
      .repartition(col("band"), col("key"))
    val a = pruned.select(col("band"), col("key"),
      col("id").as("id_a"), col("v").as("va"), col("n2").as("na2"))
    val b = pruned.select(col("band"), col("key"),
      col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2"))
    // score before dedup: the native dot is cheaper per duplicate
    // candidate (≤ bands copies) than shuffling the vectors through a
    // distinct, and the dedup row is then just (id_a, id_b, cosine)
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(TopK.cosine("va", "na2", "vb", "nb2"), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** ANN top-k via hyperplane-LSH buckets: exact cosine computed only
    * against same-bucket candidates. Recall/latency trades on
    * numPlanes; multi-probe = OR of per-band signatures. */
  def annLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, numPlanes: Int, bands: Int, k: Int): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, None, numPlanes, bands, k)

  /** Hard-negative mining for contrastive training (round 9): for
    * each anchor vector, the top-k most-similar corpus vectors whose
    * label DIFFERS from the anchor's — the negatives that sit right
    * at the decision boundary, which is exactly what a contrastive /
    * embedding-training loop wants batched next to each anchor
    * (random negatives are trivially easy; same-label neighbors are
    * false negatives — both filtered here).
    *
    * Scale shape: the e7 hyperplane-LSH bucket path end to end —
    * candidates come from same-(band, key) buckets only, never an
    * all-pairs scan; the anchor side broadcasts; exact cosine is
    * computed only inside buckets; per-anchor top-k is a bounded
    * window over the candidate set. The label filter runs BEFORE
    * scoring, so same-label candidates (the common case near an
    * anchor) never cost a dot product. Rows with null labels are
    * excluded on both sides — an unknown label can neither anchor
    * nor be proven negative. Ranking is deterministic (rounded
    * cosine desc, then neighbor id), the e6/e7 contract. */
  def hardNegativesLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, labelCol: String,
                       numPlanes: Int, bands: Int, k: Int): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, Some(labelCol), numPlanes, bands, k)

  /** The LSH top-k of [[annLshTopK]] and [[hardNegativesLsh]]: per-band
    * signatures on both sides (one PlaneSignature per band, not one
    * folded 64-bit long — see [[cosineDupPairsLsh]]: unbounds
    * bands × bits at corpus scale), a same-(band, key) join against the
    * broadcast query side, candidates deduplicated across bands, exact
    * cosine, salted top-k. With a `labelCol`, null-label rows drop on
    * both sides, each side carries its label (`query_label`,
    * `neighbor_label`), and a candidate must differ from the query's
    * label before it is scored. */
  private def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                      labelCol: Option[String], numPlanes: Int, bands: Int,
                      k: Int): DataFrame = {
    val lsh = banding(corpus, vecCol, numPlanes, bands)
    val labels = labelCol.toSeq
    def banded(df: DataFrame, role: String): DataFrame = {
      val names = s"${role}_id" +: labels.map(_ => s"${role}_label")
      val (v, n2) = (s"${role}_v", s"${role}_n2")
      val carried = (idCol +: labels).zip(names).map { case (c, n) => col(c).as(n) }
      TopK.normed(labels.foldLeft(df)((d, l) => d.filter(col(l).isNotNull)), carried,
          col(vecCol), v, n2)
        .select((names :+ v :+ n2).map(col) :+
          posexplode(array(lsh.keys(col(v)): _*)).as(Seq("band", "key")): _*)
    }
    val c = banded(corpus, "neighbor")
    val q = banded(queries, "query")
    val keys = ("query_id" +: labels.map(_ => "query_label")) ++
      ("neighbor_id" +: labels.map(_ => "neighbor_label"))
    val cand = c.join(broadcast(q), Seq("band", "key"))
      .filter(labels.map(_ => col("neighbor_label") =!= col("query_label"))
        .foldLeft(col("query_id") =!= col("neighbor_id"))(_ && _))
      .select((keys ++ Seq("query_v", "query_n2", "neighbor_v", "neighbor_n2")).map(col): _*)
      .distinct()
    // rule-7 salted two-stage rank (round 12): a query's same-bucket
    // candidate set grows with occupancy (corpus/2^bits per band), so
    // the plain per-query window funnels it through one task at scale.
    // Output identical (e42 exactness).
    TopK.salted(cand.withColumn("cosine",
      round(TopK.cosine("query_v", "query_n2", "neighbor_v", "neighbor_n2"), 6)), k, keys)
  }

  /** Index-quality gate: recall@k of the LSH ANN path against the exact
    * brute-force ranking, per query. The operational question every ANN
    * deployment must answer — "how much does the approximate index
    * lose?" — expressed as the engine's own two paths joined: exact
    * top-k ([[bruteForceTopK]]) left-joined to the LSH top-k
    * ([[annLshTopK]]) on (query, neighbor), recall = matched/k. Both
    * paths share their tie-break (rounded cosine desc, then neighbor
    * id), so the intersection — and therefore the recall — is
    * deterministic and oracle-checkable. At 100 TB the cost profile is
    * the two underlying operators' (query side broadcast both times;
    * the corpus never shuffles); the recall join itself touches only
    * |queries|·k rows. Tune numPlanes/bands until the recall row
    * clears the quality bar, then ship the index parameters. */
  def annRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, numPlanes: Int, bands: Int, k: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annLshTopK(corpus, queries, idCol, vecCol, numPlanes, bands, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        count(col("__hit")).as("n_matched"),
        round(count(col("__hit")).cast("double") / count(lit(1)), 4).as("recall"))
  }
}
