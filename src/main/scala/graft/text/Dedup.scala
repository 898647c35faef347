package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.Checkpoint._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Exact dedup is a hash-groupBy (one shuffle). Near-dup families
  * (MinHash+LSH, SimHash, n-gram Jaccard) all follow the same scale
  * pattern: per-doc signatures computed in a narrow pass, candidate
  * pairs generated only inside small buckets/blocks — never an O(n²)
  * cross join — then exact similarity only on candidates.
  */
object Dedup {

  /** Exact dedup groups via md5 of normalized text: canonical doc =
    * min id, plus group size. */
  def exactDedupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(normalizeText(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: admit only rows of `batch` whose
    * normalized-text hash appears neither in the already-ingested
    * corpus (`seen`) nor earlier (lower id) in the batch itself — the
    * "dedup the new crawl against everything we already have" step a
    * continuously-growing training corpus runs per ingest, instead of
    * re-deduplicating 100 TB from scratch ([[exactDedupGroups]] is the
    * from-scratch form).
    *
    * Scale shape: the seen corpus is projected to its 16-byte md5
    * BEFORE anything moves — text never shuffles on either side — and
    * the anti-join + keep-min groupBy both hash-partition on the same
    * hash column, so AQE coalesces them into one exchange lineage. A
    * production pipeline maintains the distinct seen-hash table
    * incrementally (union the admitted hashes back per batch, the
    * [[graft.ingest.Ingest.aggState]] pattern), replacing the re-scan
    * of `seen` with a read of that table; the operator's join side is
    * exactly that shape. Batch self-dedup keeps the min-id row per
    * hash with attrs carried by `min_by` (id unique → deterministic).
    */
  def incrementalExactDedup(batch: DataFrame, seen: DataFrame, idCol: String,
                            textCol: String, keepCols: Seq[String]): DataFrame =
    incrementalExactDedupFromTable(batch, seenHashTable(seen, textCol), idCol, textCol, keepCols)

  /** The distinct seen-hash table [[incrementalExactDedupFromTable]]
    * probes — and the maintenance API that builds its per-batch
    * appends: after admitting a batch, append the admitted rows'
    * `text_hash` column (already carried in the operator's output).
    * Appends preserve distinctness BY CONSTRUCTION: an admitted hash
    * survived the anti-join (so it is not in the table) and the
    * in-batch keep-min (so the batch contributes it once). */
  def seenHashTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(md5(normalizeText(col(textCol))).as("text_hash")).distinct()

  /** The MAINTAINED-TABLE form of [[incrementalExactDedup]] — the
    * production shape its scaladoc promises: the accumulated corpus
    * arrives as a persisted distinct `text_hash` table instead of raw
    * docs, so the per-crawl cost is one narrow hash pass over the
    * batch plus an anti-join against 16-byte keys — the corpus text is
    * never re-read, let alone re-hashed, per ingest. Unlike the
    * recompute path there is NO distinct on the seen side: the table's
    * contract (see [[seenHashTable]]) is that appends keep it distinct,
    * and a left-anti join is correct against duplicates anyway — so
    * the one shuffle the recompute form spent distinct-ing the corpus
    * vanishes entirely. Maintenance loop per admitted batch:
    * `table.append(admitted.select("text_hash"))`.
    *
    * Storage tip for the last shuffle: the anti-join still
    * hash-partitions BOTH sides on text_hash (the batch is tiny but a
    * left-anti cannot broadcast its left side, and the corpus-side key
    * table is the big one). Persist the maintained table BUCKETED on
    * text_hash ([[graft.sources.Sources.writeBucketed]], the g3
    * layout) and the join co-locates: only the batch's hashes move,
    * the billion-row key table is read in place. */
  def incrementalExactDedupFromTable(batch: DataFrame, seenHashes: DataFrame,
                                     idCol: String, textCol: String,
                                     keepCols: Seq[String]): DataFrame = {
    val hash = md5(normalizeText(col(textCol)))
    val fresh = batch
      .select(col(idCol) +: keepCols.map(col) :+ hash.as("text_hash"): _*)
      .join(seenHashes.select(col("text_hash")), Seq("text_hash"), "left_anti")
    fresh.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol),
        keepCols.map(c => min_by(col(c), col(idCol)).as(c)): _*)
  }

  /** Bloom-prefiltered incremental exact dedup (round 8) — EXACT-OUTPUT
    * twin of [[incrementalExactDedup]] (same oracle, same rows) whose
    * accumulated corpus NEVER crosses the network. The seen side's
    * xxhash64 text keys compress into a Bloom filter built distributed
    * (`DataFrameStatFunctions.bloomFilter`: per-partition partial
    * filters, OR-merged — map-side work, filters move, rows don't);
    * the filter broadcasts into a codegen'd membership probe
    * ([[graft.functions.SketchExpressions.BloomMightContainLong]])
    * over the batch:
    *
    *  - probe = false (or null key) ⟹ PROVABLY unseen — a Bloom
    *    filter has no false negatives, and the key is the same
    *    deterministic xxhash64 both sides — admitted with no join;
    *  - probe = true ⟹ maybe-seen (fpp 1%, `BloomFpp`) — only these rows
    *    reach the exact check: the corpus is scanned once more and
    *    semi-probed against the BROADCAST maybe-hash set, so the
    *    second pass also moves nothing corpus-sized.
    *
    * The filter only ever prunes the expensive path; membership is
    * decided by the exact md5 check, so output — including keep-min
    * canonicalization — is byte-identical to e32's. Versus e32's
    * anti-join, which hash-partitions a billion 16-byte corpus keys
    * across the cluster every crawl, this trades that exchange for a
    * second corpus SCAN — the right trade when the corpus is
    * storage-backed columnar (scan is pruned to one column and
    * pipelined) and the wrong one only when scans dominate exchanges.
    * In production the filter is a persistable per-epoch artifact
    * (`BloomFilter.writeTo`/`readFrom` — [[bloomFilterFor]] builds
    * it), amortizing the build scan across crawls entirely.
    *
    * `expectedSeen` sizes the filter — read it from catalog/footer
    * stats ([[graft.sources.ParquetStats]], the e22 pattern), never
    * from a count() pre-scan; an overestimate just widens the filter
    * (1.2 B/item at 1% fpp), an underestimate raises fpp and with it
    * the exact-path traffic, never correctness. */
  def bloomPrefilterDedup(batch: DataFrame, seen: DataFrame, idCol: String,
                          textCol: String, keepCols: Seq[String],
                          expectedSeen: Long): DataFrame = {
    val bf = bloomFilterFor(seen, textCol, expectedSeen)
    val hash = md5(normalizeText(col(textCol)))
    val batchH = batch
      .select(col(idCol) +: keepCols.map(col) :+ hash.as("text_hash") :+
        xxhash64(normalizeText(col(textCol))).as("__bk"): _*)
      .checkpointAs("Dedup.bloomPrefilterDedup.batch") // maybe + definite branches
    val probe = graft.functions.SketchExpressions
      .bloomMightContainLong(col("__bk"), bf)
    val maybe = batchH.filter(probe)
    val definite = batchH.filter(!coalesce(probe, lit(false)))
    val maybeHashes = maybe.select(col("text_hash")).distinct()
    // corpus scan #2, pruned to the hash column, semi-probed against
    // the broadcast maybe-set: emits only hashes the batch might have
    val confirmed = seen
      .select(md5(normalizeText(col(textCol))).as("text_hash"))
      .join(broadcast(maybeHashes), Seq("text_hash"), "left_semi")
      .distinct()
    val fresh = maybe.join(broadcast(confirmed), Seq("text_hash"), "left_anti")
      .unionByName(definite)
      .drop("__bk")
    fresh.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol),
        keepCols.map(c => min_by(col(c), col(idCol)).as(c)): _*)
  }

  /** The per-epoch Bloom artifact [[bloomPrefilterDedup]] probes:
    * distributed build over the corpus's xxhash64 text keys. Persist
    * with `BloomFilter.writeTo` and reload with `readFrom` to amortize
    * the build scan across crawls. */
  def bloomFilterFor(seen: DataFrame, textCol: String,
                     expectedItems: Long): org.apache.spark.util.sketch.BloomFilter =
    seen.select(xxhash64(normalizeText(col(textCol))).as("__bk"))
      .filter(col("__bk").isNotNull)
      .stat.bloomFilter("__bk", math.max(expectedItems, 1L), BloomFpp)

  /** False-positive rate the Bloom artifact is sized for. */
  private val BloomFpp = 0.01

  /** Prime moduli for the engine-reproducible hash family: every
    * intermediate stays under 2^62, so DuckDB (which raises on BIGINT
    * overflow) computes bit-identical values for the oracles. */
  val PolyP = 1000000007L
  val AffineP = 2147483647L // 2^31 - 1

  /** Deterministic affine-family constant in [1, AffineP-1], derived
    * from xxhash64 on the driver exactly once — the same literal is
    * embedded in the Spark plan and in the DuckDB oracle SQL, so the
    * generator never needs to be replicated cross-engine. */
  def hashConst(salt: String, i: Int): Long = {
    val h = xxhashChain(s"graft-$salt", i)
    val m = AffineP - 1
    ((h % m) + m) % m + 1
  }

  /** The catalyst `xxhash64(lit(tag), lit(i0), lit(i1), …)` value (seed
    * 42, same fold order), computed on the driver: the one generator
    * behind [[hashConst]] and the LSH hyperplanes
    * ([[graft.vector.Similarity.planeMatrix]]). */
  private[graft] def xxhashChain(tag: String, ints: Int*): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    ints.foldLeft(XxHash64Function.hash(UTF8String.fromString(tag), StringType, 42L))(
      (h, i) => XxHash64Function.hash(i, IntegerType, h))
  }

  /** i-th affine hash of a column below P: (a_i*h0 + b_i) mod P — the
    * minhash of a poly fingerprint (h0 < 2^30) and the e47/e48 order key
    * of an id (h0 = pmod(id, P)). h0, a_i < 2^31 keep the product under 2^62. */
  private[graft] def affineHash(h0: Column, salt: String, i: Int): Column =
    (lit(hashConst(s"$salt-a", i)) * h0 + lit(hashConst(s"$salt-b", i))) % AffineP

  /** Order-sensitive fold of hash columns into one band signature —
    * (((0*31+h_0) mod PolyP)*31+h_1) mod PolyP ... (SQL-expressible). */
  private def foldSig(cols: Seq[Column]): Column =
    cols.foldLeft(lit(0L): Column)((acc, h) => (acc * 31L + h) % PolyP)

  /** (doc_id, mh_0..mh_{k-1}) minhash vectors over word shingles. */
  private def minhashVectors(docs: DataFrame, idCol: String, textCol: String,
                             shingleSize: Int, numHashes: Int): DataFrame = {
    val mhAggs = (0 until numHashes).map(i =>
      min(affineHash(col("h0"), "mh", i)).as(s"mh_$i"))
    shingleRows(docs, idCol, textCol, shingleSize, "h0")
      .groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** MinHash + LSH banding candidate pairs.
    *
    * k minhashes over word shingles, grouped into bands; docs sharing
    * any band signature become a candidate pair. Pair generation is a
    * self-join on (band, signature) — linear in bucket sizes. Bucket
    * skew at 100 TB is handled by dropping degenerate buckets (all-equal
    * boilerplate) above [[MinhashMaxBucket]].
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    // The banded table (two consumers: hot-list agg + self-join) is a
    // lazy localCheckpoint, NOT a persist (SURVEY §8 rule 3): measured
    // at sf0.1 interleaved, persist's columnar encode + cache-scan
    // plumbing cost e2 1.04 s vs 0.65 s with checkpoint blocks (equal
    // to recompute, which ReuseExchange dedupes; the checkpoint makes
    // the sharing explicit rather than canonicalization-dependent).
    bucketPairs(bandSignatures(docs, idCol, textCol, shingleSize, numHashes, bands)
      .checkpointAs("Dedup.minhashLshPairs.banded"))

  /** (doc_id, h) rows, one per word shingle of the normalized text.
    * Shingle hashes come from ONE native pass per doc
    * ([[graft.functions.StringExpressions.ShingleHashes]]): each
    * shingle string is a contiguous window of the normalized text, so
    * its polynomial hash folds in place — the explode+slice+concat
    * chain this replaced allocated a words array plus a string per
    * shingle through interpreted lambdas. */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, hashAs: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.StringExpressions.shingleHashes(
        normalizeText(col(textCol)), k)).as(hashAs))

  /** Fold each band of a minhash-vector table into one (doc_id, band,
    * sig) row: sig = order-sensitive fold of the band's minhash tuple. */
  private def bandRows(vecs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    vecs.select(col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          foldSig((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i")))
            .as("sig"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Docs past which a MinHash (band, sig) bucket is degenerate
    * all-equal boilerplate, dropped before its quadratic self-join. */
  private val MinhashMaxBucket = 1000

  /** (doc_a < doc_b) pairs sharing a (band, sig) bucket after the
    * hot-bucket prune — the bucket self-join of every banded operator.
    *
    * Explicit shuffle barrier on the bucket key before the self-join
    * (SURVEY §8 rule 8, the e22/e4 shape): the checkpoint's LogicalRDD
    * carries the PRE-checkpoint size estimate, so without an exchange
    * below it the join strategy is chosen STATICALLY from rigged
    * numbers — the e43 crash mechanism, here ~10× past sf30 because
    * band rows are 20× narrower. The barrier gives AQE a materialized
    * stage with REAL sizes (broadcast at bench scales, shuffle at
    * corpus scale — a per-run decision), and spreads the quadratic
    * within-bucket pair generation across the cluster instead of the
    * checkpoint's scan-split parallelism. */
  private def bucketPairs(banded: DataFrame): DataFrame = {
    val pruned = pruneHotBuckets(banded, Seq("band", "sig"), MinhashMaxBucket)
      .repartition(col("band"), col("sig"))
    val a = pruned.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** (doc_id, band, sig) LSH band-signature table shared by the
    * from-scratch ([[minhashLshPairs]]) and incremental
    * ([[incrementalMinhashPairs]]) near-dup forms — and PUBLIC because
    * it is also the maintenance API of the maintained-table path
    * ([[incrementalMinhashPairsFromTable]]): after a batch is admitted,
    * append `bandSignatures(admittedBatch, ...)` (same parameters) to
    * the persisted signature table instead of ever recomputing the
    * corpus side. */
  def bandSignatures(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    bandRows(minhashVectors(docs, idCol, textCol, shingleSize, numHashes),
      numHashes, bands)

  /** MinHash Jaccard ESTIMATE for LSH candidate pairs (round 8) — the
    * cheap middle tier of the near-dup funnel: e2 proposes candidates,
    * THIS scores them from signature agreement alone (est = matching
    * minhash components / k, the unbiased MinHash estimator), and only
    * survivors need e4/e36's exact gram verify. The estimate costs two
    * narrow joins against the k-column minhash table — no shingle sets
    * ever move for scoring, which at 100 TB is the difference between
    * shipping 16 longs and shipping a document's gram array per
    * candidate. Same banding/prune parameters as [[minhashLshPairs]] ⇒
    * the candidate set is e2's exactly; est_jaccard is the half-up-e4
    * integer ratio. The shared minhash-vector table materializes once
    * (banding + both estimate joins).
    *
    * On the estimator: each minhash component agrees with probability
    * J(a, b), so n_agree/k is a mean of k Bernoulli(J) draws — stderr
    * √(J(1−J)/k) ≈ 0.12 at k = 16, which ranks candidates and gates
    * the exact verify; it is NOT the final dedup decision (that is
    * e36's exact pass). */
  def minhashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val vecs = minhashVectors(docs, idCol, textCol, shingleSize, numHashes)
      .checkpointAs("Dedup.minhashEstimatePairs.vectors") // banding + two score joins
    val aSide = vecs.select(col("doc_id").as("doc_a") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"__a_$i")): _*)
    val bSide = vecs.select(col("doc_id").as("doc_b") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"__b_$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"__a_$i") === col(s"__b_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val banded = bandRows(vecs, numHashes, bands)
      .checkpointAs("Dedup.minhashEstimatePairs.banded") // agg + self-join
    bucketPairs(banded).join(aSide, Seq("doc_a")).join(bSide, Seq("doc_b"))
      .withColumn("n_agree", agree)
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        fracE4(col("n_agree"), lit(numHashes)).as("est_jaccard"))
  }

  /** Drop the rows of buckets (`keys`: (band, sig) for MinHash, (chunk,
    * key) for SimHash, (band, key) for the embedding LSH) holding more than `maxBucket` docs (degenerate
    * all-equal boilerplate) via PARTIAL-AGGREGATED sizes, not a count
    * window (SURVEY §8 skew playbook): a window partitioned by the
    * bucket would fully co-locate the pathological one just to measure
    * it. The groupBy collapses bucket counts map-side, the hot list is
    * tiny by construction (at most n/maxBucket buckets can exceed
    * maxBucket), so it broadcasts and the hot rows are dropped map-side
    * by the anti-join — the bucketed table never shuffles for the
    * prune. */
  private[graft] def pruneHotBuckets(rows: DataFrame, keys: Seq[String],
                              maxBucket: Int): DataFrame =
    rows.join(broadcast(hotGroups(rows, keys, maxBucket).select(keys.map(col): _*)),
      keys, "left_anti")

  /** The `keys` groups of `rows` holding more than `cap` rows, sized as
    * `__n`: the size pass of the bucket prune and the size guards. */
  private def hotGroups(rows: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)

  /** Fail fast when a `key` group of `rows` holds more than `cap` rows,
    * naming the five largest as `<itemPrefix><key>=<size>` between
    * `head` and `tail`. */
  private[graft] def requireGroupsAtMost(rows: DataFrame, key: String, cap: Long,
                                         itemPrefix: String, head: String,
                                         tail: String): Unit = {
    val over = hotGroups(rows, Seq(key), cap).orderBy(col("__n").desc).limit(5)
      .collect().map(r => s"$itemPrefix${r.get(0)}=${r.getLong(1)}")
    require(over.isEmpty, head + over.mkString(", ") + tail)
  }

  /** The (doc_a, doc_b) pairs of `inter` (shared-shingle count in
    * `interCol`) whose Jaccard over `grams`' distinct (doc_id, h) sets
    * is at least `threshold`, gated in EXACT integers: j ≥ t ⇔
    * inter·10⁴ ≥ (t·10⁴)·union (t is 4-decimal by contract). A
    * round(j,4) ≥ t gate could flip at an x.00005 boundary between
    * Spark and the oracle (the b19/c26 double-rounding pattern). */
  private def jaccardAtLeast(inter: DataFrame, interCol: String, grams: DataFrame,
                             threshold: Double): DataFrame = {
    val counts = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("__na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("__nb")), Seq("doc_b"))
      .filter(col(interCol) * 10000L >=
        lit(math.round(threshold * 10000)) * (col("__na") + col("__nb") - col(interCol)))
      .select(col("doc_a"), col("doc_b"))
  }

  /** LSH recall gate (round 8) — the text-dedup analogue of the e41
    * ANN recall gate: measures what fraction of TRUE near-dup pairs
    * the [[minhashLshPairs]] banding actually proposes, so a pipeline
    * can validate its (numHashes, bands) tuning against a ground-truth
    * sample BEFORE trusting the candidate set over the full corpus.
    * Ground truth = exact word-shingle Jaccard ≥ `threshold` among the
    * fixed eval set (`idCol` < `sampleMax` — an absolute sample, like
    * e6/e41's query set, so the evaluated pair space stays constant as
    * the corpus grows); candidates = the production banding over the
    * WHOLE corpus, restricted to eval-set pairs — pruned hot buckets
    * and banding misses count against recall, exactly as they would in
    * production. One row: (n_exact, n_candidates, n_hit, recall),
    * recall half-up-e4 and null when the sample holds no true pair.
    *
    * Sets compare by shingle POLY HASH, not shingle string — both
    * engines apply the same hash, so collisions are part of the
    * mirrored semantics (the e30/e44 window-hash contract; per-pair
    * shingle populations are far below the √PolyP birthday bound).
    *
    * Scale shape: the exact-Jaccard self-join is deliberately bounded
    * by the FIXED eval set (sample² worst case, constant in corpus
    * size); the corpus-side banding is e2's own plan. The tiny gram
    * and candidate tables materialize once each (two consumers). */
  def lshRecall(docs: DataFrame, idCol: String, textCol: String,
                shingleSize: Int, numHashes: Int, bands: Int,
                sampleMax: Long, threshold: Double): DataFrame = {
    val sample = docs.filter(col(idCol).isNotNull && col(idCol) < sampleMax)
    // the eval set's shingle-hash sets, distinct per doc (a doc's
    // repeated shingles count once in its Jaccard)
    val grams = shingleRows(sample, idCol, textCol, shingleSize, "h")
      .distinct()
      .checkpointAs("Dedup.lshRecall.grams") // counts + both sides of the pair join
    val inter = grams.select(col("doc_id").as("doc_a"), col("h"))
      .join(grams.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val exact = jaccardAtLeast(inter, "inter", grams, threshold)
      .checkpointAs("Dedup.lshRecall.exact") // count + hit semi-join
    val cand = minhashLshPairs(docs, idCol, textCol, shingleSize, numHashes, bands)
      .filter(col("doc_a") < sampleMax && col("doc_b") < sampleMax)
      .checkpointAs("Dedup.lshRecall.candidates") // count + hit semi-join
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nHit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nExact.crossJoin(nCand).crossJoin(nHit)
      .withColumn("recall", when(col("n_exact") > 0, fracE4(col("n_hit"), col("n_exact"))))
  }

  /** Per-source exact-duplication profile (round 8) — the curation
    * dashboard row answering "WHICH feed is flooding the corpus with
    * copies": per source, total docs, distinct normalized texts, docs
    * beyond the first of each duplicate group, and the duplicate rate
    * (half-up-e4). e1 dedups; THIS attributes the duplication, which
    * is what decides crawl/licensing budget. Null texts hash to one
    * group per source (the e1 contract); a null source profiles as its
    * own row.
    *
    * Scale shape: two nested partial-aggregated groupBys — (source,
    * md5) collapses map-side to one row per distinct text per source
    * (16-byte hashes move, never text), then the per-source rollup
    * aggregates the already-tiny hash table. No joins, no windows. */
  def dupRateBySource(docs: DataFrame, idCol: String, textCol: String,
                      srcCol: String): DataFrame = {
    val g = docs.filter(col(idCol).isNotNull)
      .groupBy(col(srcCol), md5(normalizeText(col(textCol))).as("__h"))
      .agg(count(lit(1)).as("__c"))
    g.groupBy(col(srcCol)).agg(
        sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") - 1L).as("n_dup_docs"))
      .withColumn("dup_rate", fracE4(col("n_dup_docs"), col("n_docs")))
  }

  /** Cross-source NEAR-duplication matrix (round 8) — the pairwise
    * attribution on top of [[dupRateBySource]]: verified near-dup pair
    * counts per (source, source) cell, the feed Venn diagram that
    * tells a corpus build which crawls/licenses are re-buying each
    * other's documents. (Exact-hash overlap is the wrong key here —
    * cross-feed copies get re-formatted, so they land as NEAR dups;
    * in this corpus 24 of 25 true shingle-Jaccard pairs cross
    * sources while exact-md5 cross-source overlap is zero.)
    *
    * Funnel: e2's production banding proposes candidates over the
    * whole corpus; each candidate is verified by EXACT word-shingle
    * Jaccard ≥ `threshold` (shingle poly hashes — the mirrored-hash
    * contract); verified pairs attribute to the (least, greatest)
    * source pair, diagonal included (within-feed near-dups are a cell
    * too, and the contrast against off-diagonal cells is the point).
    *
    * Scale shape: candidates come from the banding (never all-pairs);
    * the verify joins move gram hashes ONLY for docs named in a
    * candidate (left-semi against the broadcast candidate-id list —
    * the e36 discipline), so verify volume is O(Σ candidate grams),
    * not O(corpus); source attribution broadcasts the verified pair
    * list against the narrow (id, source) projection. */
  def crossSourceNeardup(docs: DataFrame, idCol: String, textCol: String,
                         srcCol: String, shingleSize: Int, numHashes: Int,
                         bands: Int, threshold: Double): DataFrame = {
    val base = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull &&
      col(srcCol).isNotNull)
    val cand = minhashLshPairs(base, idCol, textCol, shingleSize, numHashes, bands)
      .checkpointAs("Dedup.crossSourceNeardup.candidates") // id list + inter + count joins
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // verify sets: distinct shingle hashes per doc, built ONLY for docs
    // named in a candidate (left-semi against the broadcast id list) —
    // verify volume is O(Σ candidate grams), not O(corpus)
    val g = shingleRows(base, idCol, textCol, shingleSize, "h")
      .distinct()
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .checkpointAs("Dedup.crossSourceNeardup.grams") // counts + both sides of the inter join
    val inter = cand
      .join(g.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("__i"))
    val ver = jaccardAtLeast(inter, "__i", g, threshold)
    val src = base.select(col(idCol).as("doc_id"), col(srcCol).as("__src"))
    ver.join(src.select(col("doc_id").as("doc_a"), col("__src").as("__sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("__src").as("__sb")), Seq("doc_b"))
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental near-dup candidate generation: (batch doc, seen doc)
    * pairs sharing ≥1 LSH band signature — the MinHash analogue of
    * [[incrementalExactDedup]], run per crawl ingest so the new batch
    * is checked against the accumulated corpus WITHOUT re-running the
    * all-corpus self-join of [[minhashLshPairs]]. Batch-internal pairs
    * are NOT emitted (run minhashLshPairs on the batch alone for
    * those); identical parameters produce signature-compatible tables.
    *
    * Scale shape: the batch band table is small by definition, so it
    * BROADCASTS into the candidate join — the seen corpus's band table
    * never shuffles (and in production is a maintained signature
    * table, appended per admitted batch, not recomputed; this operator
    * recomputes it only because its input contract is raw docs).
    * Degenerate buckets prune on the seen side via the same
    * partial-aggregated hot list as [[minhashLshPairs]] (SURVEY §8 —
    * boilerplate lives in the accumulated corpus, and a batch doc
    * landing in a hot bucket would otherwise fan out to millions of
    * candidate rows). */
  def incrementalMinhashPairs(batch: DataFrame, seen: DataFrame, idCol: String,
                              textCol: String, shingleSize: Int, numHashes: Int,
                              bands: Int): DataFrame =
    incrementalMinhashPairsFromTable(batch,
      bandSignatures(seen, idCol, textCol, shingleSize, numHashes, bands)
        .checkpointAs("Dedup.incrementalMinhashPairs.seenBands"), // hot-list agg + candidate join
      idCol, textCol, shingleSize, numHashes, bands)

  /** The MAINTAINED-TABLE form of [[incrementalMinhashPairs]] — the
    * production shape its scaladoc promises: the accumulated corpus's
    * signatures arrive as a persisted `(doc_id, band, sig)` table
    * (built and appended per admitted batch via [[bandSignatures]]),
    * so the per-crawl cost is O(batch) signature computation plus a
    * broadcast probe of the table — the 100 TB corpus's TEXT is never
    * re-read, let alone re-shingled, per ingest.
    *
    * Contract: `seenBands` must come from [[bandSignatures]] runs with
    * the SAME (shingleSize, numHashes, bands) parameters — signatures
    * from different parameters are incompatible garbage, which is why
    * the parameters stay in this signature even though only the batch
    * side uses them. Maintenance loop per admitted batch:
    * `table.append(bandSignatures(admitted, ...))`; the composition
    * spec proves recompute ≡ maintained-table across consecutive
    * batches.
    *
    * Scale shape: identical to [[incrementalMinhashPairs]] (batch side
    * broadcasts into the candidate join, hot buckets prune via the
    * partial-aggregated hot list) except the seen side is a TABLE SCAN,
    * not a computation — its two consumers (hot-list agg + candidate
    * join) are two column-pruned reads of materialized storage, so no
    * checkpoint materialization is needed or wanted here. */
  def incrementalMinhashPairsFromTable(batch: DataFrame, seenBands: DataFrame,
                                       idCol: String, textCol: String,
                                       shingleSize: Int, numHashes: Int,
                                       bands: Int): DataFrame = {
    // hot buckets prune on the SEEN side only: boilerplate lives in the
    // accumulated corpus, and a batch doc in a hot bucket would fan out
    // to millions of candidate rows
    val pruned = pruneHotBuckets(seenBands.select(col("doc_id"), col("band"),
      col("sig")), Seq("band", "sig"), MinhashMaxBucket)
    val batchBands = bandSignatures(batch, idCol, textCol, shingleSize, numHashes, bands)
    pruned.select(col("band"), col("sig"), col("doc_id").as("seen_doc"))
      .join(broadcast(batchBands.select(col("band"), col("sig"),
        col("doc_id").as("batch_doc"))), Seq("band", "sig"))
      .select(col("batch_doc"), col("seen_doc")).distinct()
  }

  /** Verified incremental near-dup ADMIT GATE — the decision step the
    * candidate generators feed: a new-crawl batch doc is admitted to
    * the corpus iff no [[incrementalMinhashPairs]] candidate against
    * the accumulated corpus survives exact char-n-gram Jaccard
    * verification at `minJaccard` (the e4 scoring semantics — same
    * packed-gram codes, same two-pointer intersect, same 4-decimal
    * rounding). Together with [[incrementalExactDedup]] (exact twin)
    * this is the complete per-crawl dedup pass: candidates → verify →
    * admit, never an all-corpus self-join.
    *
    * Scale shape: candidates come from the banding join (batch side
    * broadcast, seen side never shuffles, hot buckets pruned); the
    * verify step re-reads the SEEN side once more but ONLY for docs
    * named in a candidate pair — a broadcast semi-join of candidate
    * seen-ids against the corpus scan, so the second pass moves
    * `O(candidates)` gram arrays, not the corpus. Candidate pairs
    * localCheckpoint once (two consumers: the seen-id semi-join and
    * the verify join — SURVEY §8 rule 3). Batch docs whose text
    * normalizes to null/short produce no shingles, hence no
    * candidates, and are admitted — identical on the oracle side.
    * Within-batch near-dups are out of scope here (admit the batch,
    * then run the batch-internal [[ngramJaccardPairs]] — the batch is
    * small by definition). */
  def incrementalNeardupFilter(batch: DataFrame, seen: DataFrame, idCol: String,
                               textCol: String, keepCols: Seq[String],
                               shingleSize: Int, numHashes: Int, bands: Int,
                               gramSize: Int, minJaccard: Double): DataFrame = {
    val cands = incrementalMinhashPairs(batch, seen, idCol, textCol,
      shingleSize, numHashes, bands)
      .checkpointAs("Dedup.incrementalNeardupFilter.candidates")
    def grams(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), normalizeText(col(textCol)).as("norm"))
      .select(col(outId), packedGramsOrEmpty(col("norm"), gramSize).as(s"grams_$outId"))
    val batchGrams = grams(batch, "batch_doc")
    val seenIds = cands.select(col("seen_doc")).distinct()
    val seenGrams = grams(
      seen.join(broadcast(seenIds.withColumnRenamed("seen_doc", idCol)),
        Seq(idCol), "left_semi"), "seen_doc")
    val ga = col("grams_batch_doc")
    val gb = col("grams_seen_doc")
    val dupIds = cands
      .join(broadcast(batchGrams), "batch_doc")
      .join(seenGrams, "seen_doc")
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCount(ga, gb).cast("int"))
      .filter(round(col("inter").cast("double") /
        (size(ga) + size(gb) - col("inter")), 4) >= minJaccard)
      .select(col("batch_doc").as(idCol)).distinct()
    batch.select(col(idCol) +: keepCols.map(col): _*)
      .join(broadcast(dupIds), Seq(idCol), "left_anti")
  }

  /** Sorted distinct packed n-gram codes; null text is an empty set. */
  private def packedGramsOrEmpty(norm: Column, n: Int): Column =
    when(norm.isNotNull, graft.functions.StringExpressions.packedGrams(norm, n))
      .otherwise(array().cast("array<bigint>"))

  /** Train/benchmark contamination detection — the decontamination pass
    * every LLM training-data pipeline runs before training (the
    * word-n-gram overlap method of the GPT-3/PaLM data cards): a train
    * doc is contaminated by a benchmark doc when they share at least
    * `minShared` distinct word n-grams.
    *
    * Scale shape: the benchmark side is small by definition (eval sets),
    * so its distinct gram set BROADCASTS; the 100 TB train side is one
    * narrow normalize+shingle pass into a broadcast-hash join — the
    * corpus never shuffles, and the only exchange is the partial-
    * aggregated (doc, bench) overlap count. Grams travel as packed
    * poly-hash longs (never shingle strings), hashed in one native pass
    * per doc like [[minhashLshPairs]] ([[graft.functions
    * .StringExpressions.ShingleHashes]]). */
  def contaminationPairs(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, minShared: Int): DataFrame = {
    // Dedup order matters at scale: distinct-ing the TRAIN gram table
    // first would shuffle the whole exploded corpus. Instead the raw
    // train grams broadcast-join against the (small, deduped) benchmark
    // gram set — a narrow filter keeping only matching grams — and the
    // count_distinct dedupes the tiny matched remainder, so the one
    // real shuffle carries contaminated-gram rows only.
    shingleRows(train, idCol, textCol, n, "__g")
      .join(broadcast(shingleRows(bench, idCol, textCol, n, "__g")
        .withColumnRenamed("doc_id", "bench_id").distinct()), Seq("__g"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count_distinct(col("__g")).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Distinct docs a window must appear in to count as duplicated:
    * within-doc repetition alone never marks one. */
  private val MinDupDocs = 2

  /** Corpus-internal repeated-window statistics — the span-level dedup
    * signal of the ExactSubstr method (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * the fraction of its rolling `windowTokens`-token windows whose
    * content (by rolling poly-hash) also appears in at least
    * [[MinDupDocs]]-1 OTHER documents. High-fraction docs are boilerplate /
    * template mass a span-dedup pass should cut; within-doc repetition
    * is deliberately excluded (that is e25's repetition-stats signal).
    * Docs shorter than the window produce no windows and drop.
    *
    * Scale shape: windows are packed poly-hash longs from ONE native
    * pass per doc ([[graft.functions.StringExpressions.ShingleHashes]]
    * — never window strings); level-1 groups by (doc, hash) so
    * within-doc repeats collapse map-side before anything shuffles
    * (SURVEY §8 rule 1); the (doc, hash) table feeds two branches
    * (cross-doc hash counts + the mark join-back) so it materializes
    * once as a lazy localCheckpoint (rule 3). The mark join keys on
    * the near-uniform window hash; a boilerplate window shared by
    * millions of docs is exactly the AQE skew-split case, and its
    * join output stays bounded by the (doc, hash) table itself. */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int): DataFrame = {
    val perDoc = shingleRows(docs, idCol, textCol, windowTokens, "h")
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("__k"))
      .checkpointAs("Dedup.dupSpanStats.perDoc")
    // rows are one-per-(doc, hash), so a plain count IS distinct docs
    val dupHashes = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= MinDupDocs)
      .select(col("h"), lit(1L).as("__dup"))
    perDoc.join(dupHashes, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("n_windows"),
        sum(when(col("__dup").isNotNull, col("__k")).otherwise(lit(0L)))
          .as("dup_windows"))
      .withColumn("dup_fraction",
        round(col("dup_windows") / col("n_windows"), 4))
  }

  /** ExactSubstr-style duplicate-span SCRUB (round 8) — the removal
    * step [[dupSpanStats]]'s statistics motivate (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * duplicated substrings are REMOVED from the corpus, not whole
    * docs): rewrite each document's normalized token stream with every
    * token covered by a cross-doc duplicated `windowTokens`-token
    * window dropped, preserving the order of the survivors. A window
    * is duplicated when its content appears in ≥ [[MinDupDocs]] distinct
    * documents (within-doc repetition alone never triggers removal —
    * same contract as e30; that signal is e25's). Docs shorter than
    * the window scrub nothing; null/empty text yields an empty clean
    * text with zero tokens. Output: (doc_id, clean_text, n_tokens,
    * removed_tokens) — clean_text is the single-space rejoin, i.e.
    * the op rewrites the NORMALIZED stream the hashes are defined on.
    *
    * Scale shape: window hashes come from the same one-native-pass
    * [[graft.functions.StringExpressions.ShingleHashes]] as e30, with
    * START POSITIONS via posexplode (the array is position-ordered by
    * construction). The duplicated-hash set builds through the e30
    * two-level aggregate (per-(doc, hash) collapse before anything
    * shuffles — SURVEY §8 rule 1); marking is a semi-join on the
    * near-uniform hash (AQE skew-split country). Coverage explodes
    * ONLY duplicated window starts ×windowTokens (bounded fanout on
    * the dup mass, never the corpus), and duplicate cover rows need
    * no distinct — the LEFT ANTI join they feed is multiplicity-
    * insensitive. The rebuild is the one corpus-linear shuffle a
    * rewrite op cannot avoid (you cannot rewrite 100 TB of text
    * without moving it once): per-doc collect of (pos, token) structs
    * — groups bounded by document length, the sanctioned bounded-
    * group case — sorted and rejoined. The windows table materializes
    * once (lazy localCheckpoint, rule 3) for its two consumers. */
  def dupSpanScrub(docs: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int): DataFrame = {
    val w = windowTokens
    val base = docs.select(col(idCol).as("doc_id"),
        coalesce(normalizeText(col(textCol)), lit("")).as("norm"))
      .select(col("doc_id"),
        when(col("norm") === "", array().cast("array<string>"))
          .otherwise(split(col("norm"), " ")).as("words"),
        graft.functions.StringExpressions.shingleHashes(col("norm"), w).as("hs"))
      .checkpointAs("Dedup.dupSpanScrub.windows")
    val starts = base.select(col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    // two-level: collapse within-doc repeats map-side, then count DOCS
    val perDocHash = starts.select(col("doc_id"), col("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("__k"))
    val dupHashes = perDocHash.groupBy(col("h"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= MinDupDocs)
      .select(col("h"))
    val covered = starts.join(dupHashes, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + w - 1)).as("pos"))
    val tokens = base.select(col("doc_id"),
      posexplode(col("words")).as(Seq("pos", "token")))
    val rebuilt = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token")), " ").as("clean_text"))
    base.select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("removed_tokens"))
  }

  /** Width-generalized SimHash: `words`×64 sign-aggregated bit votes of
    * token hashes, packed into long columns sim_0..sim_{words-1}
    * (global bit g lives in word g/64 at position g%64). One narrow
    * pass + one shuffle on doc_id at any corpus size and any width.
    * The affine bit family is indexed by the GLOBAL bit, so word 0 of
    * any width is bit-identical to the 64-bit fingerprint.
    *
    * The votes run as ONE fused native aggregate
    * ([[graft.functions.SimhashVotes]], round 13): the previous
    * `words`·64 parallel sum aggregates generated a HashAggregate
    * update method of ~9 KB (64-bit) / ~18 KB (128-bit) — past the JVM
    * JIT's ~8 KB compile threshold, the silent interpreted-glue cliff
    * the round-12 CodegenSizeAudit flagged on e3/e29. The fused update
    * is a tight JIT-compiled loop over the same affine-constant family;
    * votes, sign rule, and null handling are bit-identical
    * (spec-pinned against the composed form). */
  private def simhashWords(docs: DataFrame, idCol: String, textCol: String,
                           words: Int): DataFrame = {
    val tokens = docs.select(col(idCol).as("doc_id"),
      explode(split(normalizeText(col(textCol)), "\\s+")).as("token"))
    // token bits from the affine family over the poly fingerprint —
    // engine-reproducible (no 64-bit wraparound), so the DuckDB oracle
    // computes the identical fingerprints
    val hashed = tokens.select(col("doc_id"), polyFingerprint(col("token")).as("h0"))
    // bit b of the fingerprint = 1 iff sum over tokens of
    // (+1 if bit set else -1) > 0
    val aArr = (0 until words * 64).map(i => hashConst("sim-a", i)).toArray
    val bArr = (0 until words * 64).map(i => hashConst("sim-b", i)).toArray
    val votes = hashed.groupBy(col("doc_id")).agg(
      graft.functions.SimhashVoteAgg.simhashWords(col("h0"), aArr, bArr, words)
        .as("__sw"))
    val wordCols = (0 until words).map(w => element_at(col("__sw"), w + 1).as(s"sim_$w"))
    votes.select(col("doc_id") +: wordCols: _*)
  }

  /** 64-bit SimHash per doc (the e3 fingerprint). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWords(docs, idCol, textCol, 1)
      .select(col("doc_id"), col("sim_0").as("simhash"))

  /** 128-bit SimHash per doc: same construction, twice the depth. The
    * point is not tighter similarity — it is WIDER pigeonhole chunk
    * keys at the same radius (radius 3: 32-bit keys = 4.3B buckets vs
    * the 64-bit fingerprint's 16-bit keys = 65,536), which restores
    * constant expected bucket occupancy at billion-document corpora —
    * the structural ceiling the 64-bit form documents. Word 0 is
    * bit-identical to [[simhash]]'s fingerprint. */
  def simhash128(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWords(docs, idCol, textCol, 2)

  /** Near-dup pairs within a Hamming radius of SimHash fingerprints.
    * Pigeonhole blocking: split 64 bits into `radius+1` chunks; any pair
    * within the radius must agree on ≥1 chunk — join per chunk, then
    * exact Hamming filter.
    *
    * SCALING RULE: the chunk-key space is FIXED at 2^(64/(radius+1))
    * per chunk (radius 3 → 16-bit keys → 65,536 buckets), so expected
    * occupancy grows linearly with the corpus and within-bucket pair
    * work with its square — unlike MinHash banding there is no knob
    * that widens the key. The radius ↔ bucket-width trade-off is
    * structural: a smaller radius means fewer, wider chunks (radius 1
    * → 32-bit keys) and exponentially sparser buckets; a larger radius
    * narrows every key. `maxBucket` bounds the quadratic by dropping
    * buckets above it (recall loss only inside degenerate mass — the
    * same contract as e2/e22), computed skew-safely (SURVEY §8): bucket
    * sizes partial-aggregate map-side, the tiny hot list broadcasts,
    * and the anti-join drops hot rows without the chunk table ever
    * co-locating a pathological bucket. Past maxBucket's reach, the
    * remaining levers are a deeper fingerprint — [[simhashPairs128]],
    * whose radius-3 chunk keys are 32-bit — or pre-blocking by a
    * metadata key, both of which widen the key space.
    *
    * The exact Hamming filter runs BEFORE the pair `.distinct()`: a
    * bucket collision is only evidence, so candidates outnumber
    * within-radius pairs by orders of magnitude — filtering first means
    * the dedup shuffle carries only the (far fewer) true pairs.
    * Hamming distance is functionally dependent on the pair, so the
    * reorder is semantics-preserving. */
  def simhashPairs(sim: DataFrame, radius: Int, maxBucket: Int = 100000): DataFrame =
    pigeonholePairs(sim, Seq("simhash"), radius, maxBucket)

  /** Near-dup pairs within a Hamming radius of 128-bit SimHash
    * fingerprints ([[simhash128]] output). Radius 3 blocks on 32-bit
    * chunk keys — 2^32 buckets, so expected occupancy stays constant
    * out to billions of documents where the 64-bit form's 16-bit keys
    * saturate. Same skew-safe prune and filter-before-distinct shape
    * as [[simhashPairs]]. */
  def simhashPairs128(sim: DataFrame, radius: Int, maxBucket: Int = 100000): DataFrame =
    pigeonholePairs(sim, Seq("sim_0", "sim_1"), radius, maxBucket)

  /** Shared pigeonhole blocking over a multi-word fingerprint: split
    * 64*words bits into radius+1 equal chunks (each chunk must lie
    * within one word); any pair within the radius agrees on ≥1 chunk.
    * Exact Hamming (summed per word) filters candidates BEFORE the
    * dedup `.distinct()`, and degenerate buckets prune via the
    * partial-aggregated hot list (see the scaling rules above, shared
    * by both widths). */
  private def pigeonholePairs(sim: DataFrame, simCols: Seq[String], radius: Int,
                              maxBucket: Int): DataFrame = {
    val words = simCols.length
    val chunks = radius + 1
    require(words * 64 % chunks == 0 && 64 % (words * 64 / chunks) == 0,
      s"radius $radius does not chunk ${words * 64} bits evenly within words")
    val bitsPer = words * 64 / chunks
    val perWord = 64 / bitsPer
    // mask as -1L >>> (64 - bitsPer): (1L << 64) - 1 would be 0 on the
    // JVM (shift is mod 64), silently emptying the bitsPer == 64 case
    // (e.g. 128-bit fingerprints at radius 1)
    val keyOf: Int => Column = c =>
      shiftright(col(simCols(c / perWord)), (c % perWord) * bitsPer)
        .bitwiseAND(-1L >>> (64 - bitsPer))
    val simRefs = simCols.map(col)
    val withChunks = sim.select((col("doc_id") +: simRefs :+
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"), keyOf(c).as("key"))
      }: _*)).as("ck")): _*)
      .select((col("doc_id") +: simRefs :+
        col("ck.chunk").as("chunk") :+ col("ck.key").as("key")): _*)
    // Shared across the size branch and the pair join as a lazy
    // localCheckpoint (SURVEY §8 rule 3): the upstream per-bit simhash
    // vote aggregation must not run twice, and persist's columnar
    // cache measured 1.48 s vs 1.15 s for the whole query at sf0.1
    // (recompute also 1.48 s — the vote agg re-runs per branch there).
    val withChunksM = withChunks.checkpointAs("Dedup.pigeonholePairs.chunks")
    // Shuffle barrier before the self-join (SURVEY §8 rule 8, the
    // e22/e4 shape): without an exchange below the checkpoint the join
    // strategy is chosen statically from the LogicalRDD's rigged
    // pre-checkpoint estimate; the barrier gives AQE real sizes and
    // spreads within-bucket pair work beyond scan-split parallelism.
    val pruned = pruneHotBuckets(withChunksM, Seq("chunk", "key"), maxBucket)
      .repartition(col("chunk"), col("key"))
    val a = pruned.select((col("chunk") +: col("key") +:
      col("doc_id").as("doc_a") +: simCols.map(s => col(s).as(s"__a_$s"))): _*)
    val b = pruned.select((col("chunk") +: col("key") +:
      col("doc_id").as("doc_b") +: simCols.map(s => col(s).as(s"__b_$s"))): _*)
    val hamming = simCols.map(s => hamming64(col(s"__a_$s"), col(s"__b_$s")))
      .reduce(_ + _)
    a.join(b, Seq("chunk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** Measured-size join planning for the gram operators.
    *
    * Join strategy CANNOT be left to Catalyst's size estimates here:
    * every stream descends from the gram table's localCheckpoint,
    * whose LogicalRDD carries the PRE-checkpoint estimate — and that
    * estimate prices the packed-gram array column at a few bytes.
    * Measured consequences, both directions, on the same operator: at
    * sf10 the planner priced e43's container stream under the 64 MB
    * broadcast budget and died building a 13.2 GiB broadcast (n=5;
    * 8.4 GiB at the registered n=3) against the 8 GiB exchange cap;
    * at sf30 the estimate crossed the budget and the same query fell
    * to a sort-merge join that sorts hundreds of millions of gram
    * rows a hash build would stream past.
    *
    * So the operators price their own joins from EXACT quantities —
    * row count and total gram count of the materialized gram table
    * (one cheap aggregate that merely front-loads the checkpoint
    * materialization the query pays anyway) — against an honest
    * budget:
    *
    *  - local master (single JVM): a broadcast hand-off is same-heap,
    *    so sf1-scale relations (~1 GB, probe-measured faster than the
    *    hash join) take the fast path. The budget is maxMemory/8
    *    capped at 1 GiB rather than the earlier heap-proportional
    *    4 GiB: an interleaved 16g/64g-driver A/B on e43's sf10 leg
    *    (the one query whose ~2 GiB prefix relation straddled the old
    *    heap-derived caps) measured overlapping 67-109 s either way —
    *    broadcast vs shuffled-hash is a wash at that size locally, so
    *    the cap buys regime REPRODUCIBILITY (the chosen plan no longer
    *    flips with SPARK_DRIVER_MEM) and is the honest scale proxy: a
    *    distributed deployment would never broadcast a multi-GiB
    *    relation (single-threaded driver build + per-executor copy).
    *  - distributed master: the session's configured
    *    autoBroadcastJoinThreshold — at 100 TB the corpus-sized
    *    streams always exceed it and take the shuffled-hash path,
    *    whose build sides are bounded (prefix stream or per-partition
    *    array-table slice), shrinking as shuffle.partitions scales
    *    with the cluster.
    *
    * The byte models below are UnsafeRow layout (8-byte null bitmap +
    * one 8-byte slot per field + 8-byte-aligned variable payload) over
    * MEASURED string bytes — a flat per-row constant is not enough:
    * the first cut priced rows at 48 B and let the sf10 container
    * stream through its 6 GiB cap when the real relation was 8.4 GiB,
    * still over Spark's hard 8 GiB exchange limit. */
  private def broadcastCap(spark: org.apache.spark.sql.SparkSession): Long =
    if (spark.sparkContext.isLocal)
      math.min(Runtime.getRuntime.maxMemory() / 8, 1L << 30)
    else
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))

  /** Exact quantities of the materialized gram table, priced into the
    * dataSize BroadcastExchange would observe for each derived stream.
    * varGramBytes = per-exploded-row aligned (doc_id + block) payload
    * summed over all gram rows; varDocBytes = per-doc aligned doc_id
    * payload. */
  private final case class GramStats(nDocs: Long, totalGrams: Long,
                                     varGramBytes: Long, varDocBytes: Long) {
    /** The FULL exploded gram stream (block, gram, doc, n[, pos]):
      * bitmap + up to five fixed slots + measured string payload, then
      * ×2 for the HashedRelation's page/map overhead — the exchange's
      * 8 GiB check runs against relation.estimatedSize, NOT raw row
      * bytes. Probe-calibrated: sf1 relation 0.973 GB vs 0.456 GB raw
      * (2.13×); sf10 crash 8.4 GiB vs ~4.5 GB raw (1.98×). */
    def fullStreamBytes: Long = (totalGrams * 48L + varGramBytes) * 2
    /** The prefix-pruned stream — only n − ⌈t·n⌉ + 1 grams per doc
      * survive, so scale the full stream by the surviving fraction. */
    def prefixStreamBytes(t: Double): Long =
      if (totalGrams == 0) 0L
      else {
        val rows = ((1 - t) * totalGrams).toLong + nDocs
        (fullStreamBytes.toDouble * rows / totalGrams).toLong
      }
    /** The (doc_id, grams array<bigint>) side of exact verification:
      * bitmap + two slots + array header/null-bits per doc, 8 B per
      * packed gram, measured doc_id payload. The map overhead swings
      * with BytesToBytesMap capacity doubling (probe: 1.13× raw at
      * sf1, 1.80× at sf10) — ×2 bounds it. */
    def arrayTableBytes: Long = (nDocs * 56L + varDocBytes + totalGrams * 8L) * 2
  }

  private def pad8(e: Column): Column = floor((e + lit(7)) / lit(8)) * lit(8)

  private def gramStats(grams: DataFrame): GramStats = {
    val docB = pad8(octet_length(col("doc_id")))
    val blockB = pad8(octet_length(col("block")))
    val r = grams.agg(count(lit(1)), sum(col("n_grams")),
      sum(col("n_grams") * (docB + blockB)), sum(docB)).head()
    if (r.isNullAt(1)) GramStats(r.getLong(0), 0L, 0L, 0L)
    else GramStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The gram index both n-gram operators prune and verify on: the
    * materialized per-doc gram table, its exact stats, the broadcast
    * budget, its exploded (doc, gram) stream and the rare-first prefix
    * grams of every doc at threshold `t`. */
  private final case class GramIndex(grams: DataFrame, st: GramStats, cap: Long,
                                     exploded: DataFrame, prefixes: DataFrame) {
    /** The prefix stream keyed for a candidate join, one side's names:
      * doc_<s>, n<s>, pos_<s>. */
    def prefixSide(s: String): DataFrame =
      prefixes.select(col("block"), col("gram"), col("doc_id").as(s"doc_$s"),
        col("n_grams").as(s"n$s"), col("pos").as(s"pos_$s"))
  }

  /** (doc_id, block, grams, n_grams) per doc, step 1 of
    * [[ngramJaccardPairs]]: exact packed gram codes in ONE NARROW PASS,
    * no shuffle — a native primitive byte loop per doc
    * ([[graft.functions.StringExpressions.PackedGrams]]; the HOF
    * split/transform/array_distinct chain it replaces was
    * CodegenFallback, one UTF8String allocation per character plus a
    * boxed lambda per gram, and dominated the sf1 base build). Codes
    * come out SORTED distinct, so verification intersects per PAIR with
    * an allocation-free two-pointer merge (SortedIntersectCount). Docs
    * shorter than n (and null text: an empty gram set) yield no grams,
    * as SQL range() does. Block columns join with U+0001 — the oracles'
    * `chr(1)` — so ("a", "bc") and ("ab", "c") stay apart. */
  private def gramBase(docs: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], n: Int): DataFrame = {
    require(n >= 1 && n <= 7, "gram packing supports 1 <= n <= 7")
    docs
      .select(col(idCol).as("doc_id"),
        concat_ws("\u0001", blockCols.map(col): _*).as("block"),
        normalizeText(col(textCol)).as("norm"))
      .select(col("doc_id"), col("block"), packedGramsOrEmpty(col("norm"), n).as("grams"))
      .withColumn("n_grams", size(col("grams")))
  }

  /** Character n-gram Jaccard similarity with prefix + positional
    * filtering (AllPairs / PPJoin; Bayardo et al. WWW'07, Xiao et al.
    * WWW'08).
    *
    * A naive gram self-join is quadratic in block size: every common
    * 3-gram ("the") pairs nearly all docs in its block. This stays
    * linear-ish instead:
    *
    *  1. Grams are packed into EXACT long codes (8 bits/char, n <= 7)
    *     so every downstream shuffle/join/intersect moves longs, not
    *     strings. Injective, so Jaccard is identical.
    *  2. Each doc's grams are ordered by per-block document frequency
    *     (rarest first); only the first `n - ceil(t*n) + 1` participate
    *     in the candidate join. Any pair with J >= t provably shares a
    *     prefix gram, and prefix grams are the rare ones, so join
    *     buckets stay tiny.
    *  3. A matched prefix gram at sorted positions (pa, pb) bounds the
    *     achievable overlap by min(na-pa, nb-pb); pairs that cannot
    *     reach the required overlap t/(1+t)*(na+nb) are dropped before
    *     any array is shuffled (PPJoin positional filter).
    *  4. Exact Jaccard via array_intersect on the long arrays, only for
    *     surviving candidates.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], n: Int, minJaccard: Double): DataFrame = {
    // The final filter rounds to 4 decimals, so a pair with true J in
    // [minJaccard - 5e-5, minJaccard) still qualifies; loosen the prune
    // threshold so borderline pairs reach exact scoring.
    val t = minJaccard - 1e-4
    val idx = gramIndex(gramBase(docs, idCol, textCol, blockCols, n), n, t)
    val a = idx.prefixSide("a")
    val b = idx.prefixSide("b")
    // required overlap: J >= t  =>  inter >= t/(1+t) * (na+nb)
    val minOverlap = lit(t / (1 + t)) * (col("na") + col("nb"))
    // Candidate join, priced from measured bytes (broadcastCap doc):
    // under the budget, broadcasting the build side keeps the probe
    // side on its existing partitioning (zero shuffles — the measured
    // fast path at bench scales); over it, SHUFFLE_HASH with build =
    // the prefix side, whose per-partition build shrinks as
    // shuffle.partitions scales with the cluster. Never sort-merge:
    // sorting hundreds of millions of gram rows measured ~2.8× slower
    // than the hash paths at sf1.
    val candidates = (
      if (idx.st.prefixStreamBytes(t) <= idx.cap) a.join(broadcast(b), Seq("block", "gram"))
      else a.hint("shuffle_hash").join(b, Seq("block", "gram")))
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J >= t implies |smaller| >= t * |larger|
      .filter(least(col("na"), col("nb")) >= lit(t) * greatest(col("na"), col("nb")))
      // positional filter: overlap from here on cannot reach minOverlap
      .filter(least(col("na") - col("pos_a"), col("nb") - col("pos_b")) >= minOverlap)
      // pre-score distinct, deliberately: a pair re-appears once per
      // shared prefix gram and the duplicate factor is LARGE for true
      // near-dups (their prefixes mostly coincide), so deduping after
      // scoring re-verifies each hot pair many times — measured 2.3x
      // slower at sf1 than paying this one id-pair shuffle up front
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyJoinBack(candidates, idx)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("grams_a")) + size(col("grams_b")) - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Step 2 of [[ngramJaccardPairs]] over a [[gramBase]] table:
    * hash-partitioned on doc_id and checkpointed once; the exact-stats
    * aggregate is the first action on it, so it materializes the
    * checkpoint the later branches read. */
  private def gramIndex(base: DataFrame, n: Int, t: Double): GramIndex = {
    // Explicit shuffle barrier: the gram build is narrow, so without it
    // downstream join planning sees no materialized stage and falls back
    // to sort-merge over the exploded grams (the doc-keyed array rows
    // are tiny — this exchange is cheap and gives AQE real sizes). The
    // gram table feeds three branches (document frequency, the prefix
    // join, both sides of exact scoring), so it materializes once (cf.
    // MLlib approxSimilarityJoin caching its hashed datasets). Lazy
    // localCheckpoint, not persist (SURVEY §8 rule 3): the grams column
    // is a wide bigint array, the worst case for the columnar cache's
    // per-row array (de)serialization — switching measured e4 7.27 vs
    // 7.54 s and the downstream e17/e18 9.4/9.7 vs 10.9/10.5 s at sf1
    // (best-of-legs, same direction at sf0.1).
    val grams = base.repartition(col("doc_id")).checkpointAs("Dedup.gramIndex.grams")
    // exact sizes for join planning (see broadcastCap's scaladoc)
    val st = gramStats(grams)
    val cap = broadcastCap(grams.sparkSession)
    val exploded = grams.select(col("doc_id"), col("block"), col("n_grams"),
      explode(col("grams")).as("gram"))
    // per-block document frequency -> canonical rare-first total order.
    // n <= 3 bounds the vocabulary by the gram space (37³ ≈ 50k per
    // block over the normalized alphabet) — always broadcastable; wider
    // spaces are priced by the corpus-derived upper bound.
    val dfreqAgg =
      exploded.groupBy(col("block"), col("gram")).agg(count(lit(1)).as("df"))
    val dfreq =
      if (n <= 3 || st.fullStreamBytes <= cap) broadcast(dfreqAgg)
      else dfreqAgg.hint("shuffle_hash")
    val prefixLen = (col("n_grams") - ceil(lit(t) * col("n_grams")) + 1).cast("int")
    // group by doc_id ALONE: block/n_grams are functionally dependent
    // (constant per doc, folded via max), so when the df join broadcasts
    // — the bounded-vocabulary regime — the gram table's existing doc_id
    // partitioning satisfies the aggregation and the joined gram table
    // never re-shuffles.
    val prefixes = exploded.join(dfreq, Seq("block", "gram"))
      .groupBy(col("doc_id"))
      .agg(max(col("block")).as("block"), max(col("n_grams")).as("n_grams"),
        array_sort(collect_list(struct(col("df"), col("gram")))).as("ordered"))
      .select(col("doc_id"), col("block"), col("n_grams"),
        posexplode(slice(col("ordered"), lit(1), prefixLen)))
      .select(col("doc_id"), col("block"), col("n_grams"),
        col("pos"), col("col.gram").as("gram"))
    GramIndex(grams, st, cap, exploded, prefixes)
  }

  /** Attach both docs' gram arrays to the candidate pairs, priced from
    * measured bytes, and count their exact intersection (`inter`).
    * Under the budget, broadcast both array tables — the pair stream
    * then never shuffles (the measured fast path at bench scales; in
    * local mode a broadcast is a same-heap reference). Over it:
    * SHUFFLE_HASH both ways with bounded build sides — first join
    * builds on the bare pair ids (output-scale) while the array table,
    * which inherits the gram table's doc_id hash partitioning through
    * the checkpoint, streams in place without re-shuffling; second
    * join builds on gb's per-partition array slice (corpus bytes /
    * shuffle.partitions) so the array-laden intermediate streams with
    * no sort. A merge join would sort pairs × gram-array bytes, and
    * an over-budget broadcast pins the corpus's arrays on every
    * executor plus the driver — the mid-scale crash under the rigged
    * estimates. */
  private def verifyJoinBack(candidates: DataFrame, idx: GramIndex): DataFrame = {
    val ga = idx.grams.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = idx.grams.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    val joined =
      if (idx.st.arrayTableBytes <= idx.cap)
        candidates.join(broadcast(ga), "doc_a").join(broadcast(gb), "doc_b")
      else
        candidates.hint("shuffle_hash").join(ga, "doc_a")
          .join(gb.hint("shuffle_hash"), "doc_b")
    joined.withColumn("inter",
      graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_a"), col("grams_b")).cast("int"))
  }

  /** Directed near-CONTAINMENT pairs (round 8): (a, b) where
    * |grams(a) ∩ grams(b)| / |grams(a)| ≥ minContainment — doc a is
    * (nearly) inside doc b. The asymmetric cousin of
    * [[ngramJaccardPairs]]: symmetric Jaccard misses the
    * quote/boilerplate/expansion case where a short document lives
    * verbatim inside a much longer one (their union dilutes J below
    * any useful threshold). Deduplication pipelines drop or down-weight
    * the contained side.
    *
    * Same exact sub-quadratic machinery as e4 with the asymmetric
    * prefix math: only the CONTAINED side can be prefix-pruned
    * (C ≥ t ⟹ inter ≥ t·n_a, so a's rare-first prefix of
    * n_a − ⌈t·n_a⌉ + 1 grams must hit at least one shared gram), while
    * the container side posts ALL its grams — there is no length or
    * prefix bound on b beyond n_b ≥ t·n_a. That makes containment
    * inherently heavier than Jaccard at the same threshold; the block
    * columns and the rare-first ordering carry the pruning. Exact
    * verification runs the same allocation-free sorted-intersect.
    *
    * Scale note (measured, BASELINE.md round-8 e43 section): at n=3
    * the gram space is only 37³ ≈ 50k keys, so past ~10⁶ docs per
    * block-set every gram's df grows linearly with the corpus and
    * prefix-candidate volume Σ_g df_prefix(g)·df(g) turns quadratic —
    * the sf10→sf30 leg ran 9.25× for 3× data. At 100 TB raise n
    * (packedGrams packs up to n=7; 37⁷ keys keep rare-first prefixes
    * selective) or add a length band to blockCols so containers and
    * contained docs only meet within compatible length ranges. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[String], n: Int,
                            minContainment: Double): DataFrame = {
    val t = minContainment - 1e-4 // round(·,4) boundary allowance, as e4
    // Docs with no grams (null, or shorter than n) can neither contain
    // nor be contained, so they drop before the gram index's shuffle
    // barrier and checkpoint, and the stats price only docs that can
    // pair.
    val idx = gramIndex(gramBase(docs, idCol, textCol, blockCols, n)
      .filter(col("n_grams") > 0), n, t)
    val a = idx.prefixSide("a")
    // The container side posts ALL grams — no prefix bound exists on
    // b, so it is priced at the FULL gram stream (this exact side was
    // the measured 13.2 GiB broadcast crash at sf10 under the rigged
    // estimates — see ngramJaccardPairs). Under budget, broadcast it
    // (the probe side keeps its partitioning, zero shuffles); over
    // budget, SHUFFLE_HASH building on the bounded prefix side.
    val b = idx.exploded.select(col("block"), col("gram"), col("doc_id").as("doc_b"),
      col("n_grams").as("nb"))
    val candidates = (
      if (idx.st.fullStreamBytes <= idx.cap) a.join(broadcast(b), Seq("block", "gram"))
      else a.hint("shuffle_hash").join(b, Seq("block", "gram")))
      .filter(col("doc_a") =!= col("doc_b"))
      // container must be able to hold the required overlap
      .filter(col("nb") >= lit(t) * col("na"))
      // positional: grams of a from pos_a on cannot reach t·na
      .filter((col("na") - col("pos_a")) >= lit(t) * col("na"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyJoinBack(candidates, idx)
      .withColumn("containment",
        round(col("inter").cast("double") / size(col("grams_a")), 4))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }
}
