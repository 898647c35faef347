package graft.vector

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Distributed k-means (Lloyd's) and IVF approximate nearest neighbor —
  * the centroid-based scale path for similarity search (the alternative
  * to the hyperplane-LSH path in [[Similarity.annLshTopK]]).
  *
  * Scale shape: the corpus never moves. The k centroids (k·dim doubles —
  * bounded, driver-held, exactly MLlib's layout) are embedded as a
  * broadcast-sized array literal, so assignment is a NARROW per-row
  * argmin — zero shuffle, no crossJoin, no window. The centroid update
  * is one posexplode + groupBy (cluster, dim) average, so only k·dim
  * partial sums cross the wire per iteration. Seeding picks the k
  * smallest id-hashes via a distributed partial top-k
  * (TakeOrderedAndProject), never a single-partition global sort.
  * IVF probing computes exact cosine only inside the nprobe nearest
  * cells per query — corpus-side work scales with nprobe/k of the corpus.
  */
object Cluster {

  private def asDouble(vecCol: String) = transform(col(vecCol), _.cast("double"))

  /** The k centroids as a plain double matrix indexed by cluster id —
    * handed to the native codegen'd expressions ([[graft.functions
    * .VectorExpressions]]) as a reference object: k·dim doubles ship
    * with the task closure exactly like a broadcast, and every
    * distance/argmin runs as a primitive loop inside whole-stage
    * codegen (the HOF transform/aggregate equivalent is interpreted
    * with boxed Doubles — it cost e13 ~15 s at sf0.1). */
  private def centroidMatrix(cs: Array[(Int, Seq[Double])]): Array[Array[Double]] =
    cs.sortBy(_._1).map(_._2.toArray)

  /** Seed-ordering hash: Knuth multiplicative on the row id mod the
    * prime 1000000007 — chosen over xxhash64 because it is expressible
    * verbatim in the DuckDB oracle (the e19 stratified-sample
    * precedent), which is what lets e13 carry a full hash oracle
    * instead of a rows-only check. Ids are non-negative in every graft
    * table, so plain `%` matches DuckDB's. OVERFLOW-SAFE FORM: the id
    * is reduced mod p BEFORE the multiply and the constant is
    * pre-reduced (2654435761 ≡ 654435747 mod p), so the intermediate
    * product is ≤ (p−1)·654435747 ≈ 6.5e17 < 2⁶³ for EVERY id —
    * `id * 2654435761` alone overflows (ANSI ArithmeticException; a
    * DuckDB error) for ids above ~3.47e9, i.e. exactly the large-id
    * corpora this operator targets. Congruence means the hash VALUES
    * are unchanged wherever the old form was defined. */
  private def seedHash(id: Column): Column =
    ((id % lit(1000000007L)) * lit(654435747L)) % lit(1000000007L)

  /** Lloyd's k-means, deterministic hash-ordered seeding. Returns the
    * centroids as (cluster, centroid: array<double>).
    *
    * ORACLE-REPLAYABLE DETERMINISM: every per-row computation
    * (distance folds, argmin ties → lowest cluster) is a fixed-order
    * IEEE-double loop the DuckDB oracle reproduces bit-for-bit with
    * `list_reduce`. The one aggregation whose partial-sum order the
    * engines cannot agree on — the centroid-update `avg` — is rounded
    * to 6 decimals each iteration in BOTH engines, truncating the
    * ~1e-13 sum-order noise so the converged centroids are identical
    * doubles. Rounding centroids at 1e-6 is quality-neutral for
    * clustering.
    *
    * The fit is [[fitPqCodebooksFromSeeds]] with one subspace: one seed
    * collect, then one aggregate job per iteration. No vectors, no
    * centroids. */
  def fitCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame = {
    // raw vector column (float or double) — the native expressions read
    // either element type directly, so no per-row array-copy cast pass
    val base = emb.select(col(idCol).as("__id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val seeds = seedVectors(base, k)
    val cents = if (seeds.isEmpty) Array.empty[Array[Double]]
      else fitPqCodebooksFromSeeds(base, seeds, 1, iters)._1.head
    centroidsDF(emb.sparkSession, cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
  }

  /** Deterministic seed sample: the k smallest id-hashes, in (hash, id)
    * order. limit-after-orderBy compiles to TakeOrderedAndProject — a
    * distributed partial top-k, not a global single-partition sort.
    * Shared by the coarse-quantizer and PQ-codebook fits so a composed
    * operator (e62) collects its seeds ONCE (round 13). */
  private def seedVectors(base: DataFrame, k: Int): Array[Seq[Double]] =
    base
      .withColumn("__h", seedHash(col("__id")))
      .orderBy(col("__h"), col("__id"))
      .limit(k)
      .select(col("__h"), transform(col("v"), _.cast("double")).as("v"))
      .collect()
      .sortBy(_.getLong(0)) // stable: ties keep Spark's (__h, __id) order
      .map(_.getSeq[Double](1))

  private def centroidsDF(spark: SparkSession, cs: Array[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("cluster", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    spark.createDataFrame(
      java.util.Arrays.asList(cs.map(c => Row(c._1, c._2)): _*), schema)
  }

  private def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Double])] =
    centroids.select(col("cluster"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))

  /** Assign every row to its nearest centroid; adds a `cluster` column
    * carrying the centroid table's OWN cluster ids (which need not be
    * contiguous — the argmin runs over matrix positions, then maps the
    * position back through the id array; ties resolve to the lowest
    * cluster id). The centroid table is k rows — collected once,
    * embedded as a literal, so assignment is shuffle-free. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame = {
    val pairs = collectCentroids(centroids).sortBy(_._1)
    val centArr = pairs.map(_._2.toArray)
    val ids: Seq[Int] = pairs.toSeq.map(_._1)
    emb.select(col(idCol), asDouble(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("cluster",
        element_at(typedLit(ids), VectorExpressions.nearestCentroid(col("v"), centArr) + 1))
  }

  /** Product-quantization ANN top-k (round 10; Jégou et al. 2011) —
    * the standard next 10× memory step past e27's int8: each vector
    * splits into `m` subvectors, each subspace gets its own
    * `ksub`-codeword k-means codebook (the [[fitCentroids]] machinery
    * on sliced vectors — same deterministic seeding and 1e-6 centroid
    * rounding), and a vector stores only its m codeword ids: at
    * m=8/ksub=256 a 64-dim float vector compresses 32× to 8 bytes.
    *
    * Scoring is ADC (asymmetric distance): the query stays exact and
    * scores against the corpus RECONSTRUCTION x̂ = concat of the m
    * codewords. Spark-first form: the codebooks (m·ksub·dsub doubles —
    * driver-held, broadcast-sized) embed as literals, so encoding is
    * a NARROW per-row argmin per subspace (codegen'd
    * [[VectorExpressions.nearestCentroid]] on a native slice — zero
    * shuffle) and scoring reuses the codegen'd arrayDot against x̂,
    * which computes bit-for-bit the ADC sum Σ_s ⟨q_s, c_s⟩ (same
    * left-to-right dimension order) without the per-pair interpreted
    * lookup loop a literal LUT translation would cost in the JVM.
    * Cosine uses ‖x̂‖ (the PQ norm estimate). Top-k per query over the
    * whole encoded corpus — a 10-query probe scans N·m byte-codes the
    * way a GPU ADC kernel would; [[ivfPqAnnTopK]] (round 11) composes
    * this with [[annIvfTopK]]'s cell probing to cut the scan at
    * billion-vector scale (IVF-PQ).
    *
    * ADC alone ranks with quantization error, so the operator runs the
    * standard two-stage form (Jégou et al. §V): ADC selects a
    * `rerank`-deep shortlist per query (the cheap scan over 8-byte
    * codes — this is where the 32× memory win pays) via the rule-7
    * [[saltedShortlist]] — no window partition ever holds more than
    * one salt bucket of one query's scores — then EXACT cosine
    * re-ranks only shortlist rows (a broadcast-joined
    * queries·rerank-row side against the corpus — the corpus never
    * shuffles). Final cosines are exact; PQ error only costs recall
    * when a true neighbor misses the shortlist.
    *
    * Quality is gated like every ANN here: rows-only (no SQL oracle —
    * the e7/e13-precedent exemption class) + the e41-style recall@k
    * spec against [[Similarity.bruteForceTopK]], plus an exactness
    * property: with ksub ≥ the distinct subvector count the
    * reconstruction is lossless, the shortlist is the true ranking,
    * and the output EQUALS brute force. */
  def pqAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, m: Int, ksub: Int, iters: Int,
                topK: Int, rerank: Int,
                corpusRows: Option[Long] = None): DataFrame = {
    require(rerank >= topK, s"rerank depth $rerank must be >= topK $topK")
    val allRows = corpus.select(col(idCol).as("__id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val fitRows = sampleForFit(allRows, ksub, corpusRows)
    val (codebooks, dsub) = fitPqCodebooks(fitRows, m, ksub, iters)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .filter(col("cv").isNotNull)
      .withColumn("rv", pqReconstruct(col("cv"), codebooks, dsub))
      .withColumn("rn2", VectorExpressions.arrayNorm2(col("rv")))
      .select(col("neighbor_id"), col("rv"), col("rn2"))
    val q = normedQueries(queries, idCol, asDouble(vecCol))
    // stage 1: ADC shortlist — approximate cosine against x̂ over the
    // whole encoded corpus, rerank-deep per query, via the rule-7
    // salted two-stage top-k (see [[saltedShortlist]] — a plain
    // per-query window here would funnel the WHOLE corpus's ADC scores
    // through one task per query)
    val adc = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", TopK.cosine("qv", "qn2", "rv", "rn2"))
    val shortlist = saltedShortlist(adc, rerank)
      .select(col("query_id"), col("qv"), col("qn2"), col("neighbor_id"))
    exactRerank(corpus, idCol, vecCol, shortlist, topK)
  }

  /** Rows the PQ and IVF fits sample ([[fitPqCodebooks]] says why). */
  private val FitSample = 100000L

  /** Deterministic hash-mod fit sample of ~[[FitSample]] rows. The sizing
    * row count comes from `corpusRows` when the caller has one — a
    * parquet FOOTER total (ParquetStats) or catalog stat, per SURVEY
    * §5's "row counts come from footers, never a count() job"; only a
    * caller with no metadata source at all pays the fallback count().
    * The count only prices the sampling RATE, so a footer total that
    * includes null-vector rows is fine (keepEvery reads slightly
    * large, the sample slightly small — still ~FitSample). */
  private def sampleForFit(allRows: DataFrame, ksub: Int,
                           corpusRows: Option[Long]): DataFrame = {
    require(FitSample >= ksub, s"the fit sample of $FitSample rows must cover ksub $ksub")
    val nRows = corpusRows.getOrElse(allRows.count())
    val keepEvery = math.max(1L, nRows / FitSample)
    if (keepEvery == 1L) allRows
    else allRows.filter(seedHash(col("__id")) % keepEvery === 0)
  }

  /** The query side of every cell/ADC search: ids as `query_id`, the
    * non-null vectors as `qv` with their squared norms as `qn2`. */
  private def normedQueries(queries: DataFrame, idCol: String, vec: Column): DataFrame =
    TopK.normed(queries, Seq(col(idCol).as("query_id")), vec, "qv", "qn2")
      .filter(col("qv").isNotNull)

  /** FUSED per-subspace codebook fit — all m k-means runs in one job
    * per iteration. m sequential fitCentroids calls are semantically
    * identical (same seed rows: the ksub smallest id-hashes are the
    * same ROWS for every subspace; same per-subspace argmin; same
    * rounded mean update) but cost m·(1+iters) Spark jobs of pure
    * scheduling overhead — measured 12.3 s at sf0.1 where this fused
    * form pays 1 seed job + `iters` aggregate jobs total.
    * Codebooks fit on the caller's deterministic hash-mod SAMPLE
    * (~[[FitSample]] rows): a 16×16 codebook estimates m·ksub·dsub means,
    * for which 1e5 vectors saturate — running Lloyd's over all N is
    * pure waste at scale (the per-iteration update explodes every fit
    * row into dim cells: sf10 measured 384M exploded rows per
    * iteration un-sampled vs 6.4M sampled). Encoding and scoring
    * still cover the FULL corpus. `fitRows` must carry (__id, v).
    *
    * Returns (codebooks, dsub): the corpus dimensionality — and the
    * m-subspace split validation — derives from the seed collect this
    * fit pays anyway (round 12), replacing the separate 1-row
    * probeDsub job the old form ran first. At bench scale every
    * sequential job in the e61/e62 chain is ~0.3 s of pure scheduling
    * latency (QueryStageProbe: e62 is ~20 sequential jobs for 8
    * task-seconds of compute); at 100 TB the fit chain is fixed-cost
    * either way, so fewer sequential round trips is strictly better. */
  private def fitPqCodebooks(fitRows: DataFrame, m: Int, ksub: Int,
                             iters: Int): (Seq[Array[Array[Double]]], Int) =
    fitPqCodebooksFromSeeds(fitRows,
      seedVectors(fitRows.select(col("__id"), col("v")), ksub), m, iters)

  /** Lloyd's k-means per subspace from an already-collected seed sample:
    * the engine's one Lloyd fit. With `m` = 1 it is plain k-means, the
    * [[fitCentroids]] and IVF-PQ coarse-quantizer fit. Round 13: e62
    * collects ONE (hash, id)-ordered seed prefix for both the coarse
    * quantizer and the codebooks instead of paying two top-k collect
    * jobs over the same fit rows. `fitRows` still drives the
    * update iterations; `seedRows` must be the ksub smallest id-hash
    * vectors of the SAME key space (for the residual codebooks: the
    * residual transform applied to those seed vectors — driver-side,
    * bit-identical arithmetic). */
  private def fitPqCodebooksFromSeeds(fitRows: DataFrame,
                                      seedRows: Array[Seq[Double]], m: Int,
                                      iters: Int): (Seq[Array[Array[Double]]], Int) = {
    require(seedRows.nonEmpty, "corpus has no vectors to seed codebooks")
    val dim = seedRows(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // subspace s codebook row c = seed c's s-th slice (seed count can
    // be < ksub on tiny corpora — arity then follows the corpus)
    var codebooks: Seq[Array[Array[Double]]] = (0 until m).map { s =>
      seedRows.map(r => r.slice(s * dsub, (s + 1) * dsub).toArray)
    }
    for (_ <- 1 to iters) {
      val cbs = codebooks
      // per-row: the fused m-argmin kernel ([[VectorExpressions
      // .PqAssign]], round 12 — the static array-of-slice-argmins
      // unroll generated JIT-uncompilable whole-stage code, see
      // pqReconstruct), then one posexplode + one (subspace, cluster,
      // subdim) average
      val assigns = VectorExpressions.pqAssign(col("v"), cbs.toArray, dsub)
      val updated = fitRows
        .select(assigns.as("__a"), posexplode(col("v")).as(Seq("__dim", "__x")))
        .select((col("__dim") / dsub).cast("int").as("__s"),
          element_at(col("__a"), (col("__dim") / dsub).cast("int") + 1).as("__c"),
          (col("__dim") % dsub).as("__sd"), col("__x"))
        .groupBy(col("__s"), col("__c"), col("__sd"))
        .agg(round(avg(col("__x").cast("double")), 6).as("__m"))
        .groupBy(col("__s"), col("__c"))
        .agg(array_sort(collect_list(struct(col("__sd"), col("__m")))).as("__dm"))
        .select(col("__s"), col("__c"),
          transform(col("__dm"), x => x.getField("__m")).as("__cent"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      codebooks = codebooks.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (c, ci) => updated.getOrElse((s, ci), c) }
      }
    }
    (codebooks, dsub)
  }

  /** Narrow PQ encode + reconstruct: per subspace, argmin over the
    * codebook, then the chosen codewords concatenated. One fused
    * native kernel since round 12 ([[VectorExpressions.PqReconstruct]]
    * — bit-identical to the m-way slice/argmin/element_at/concat
    * composition it replaces, which generated a whole-stage function
    * past the JVM JIT's huge-method threshold and silently ran the
    * entire encode stage in the bytecode interpreter). */
  private def pqReconstruct(v: Column, codebooks: Seq[Array[Array[Double]]],
                            dsub: Int): Column =
    VectorExpressions.pqReconstruct(v, codebooks.toArray, dsub)

  /** Rule-7 salted top-`rerank` per query by `__adc` ([[TopK.saltedRank]]),
    * rank dropped: the ADC shortlist. */
  private def saltedShortlist(scored: DataFrame, rerank: Int): DataFrame =
    TopK.saltedRank(scored, "__adc", rerank)
      .drop("__sb", "__r1", "__ar")

  /** Stage 2 of the two-stage ANN form: exact cosine re-rank of a
    * per-query shortlist (query_id, qv, qn2, neighbor_id) against the
    * ORIGINAL vectors — the shortlist broadcasts, the corpus never
    * shuffles, and the final window partition is `rerank`-bounded. */
  private def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                          shortlist: DataFrame, topK: Int): DataFrame = {
    val orig = TopK.normed(corpus, Seq(col(idCol).as("neighbor_id")), col(vecCol), "ov", "on2")
      .filter(col("ov").isNotNull)
    val rescored = orig.join(broadcast(shortlist), Seq("neighbor_id"))
      .withColumn("cosine", round(TopK.cosine("qv", "qn2", "ov", "on2"), 6))
    TopK.windowed(rescored, topK)
  }

  /** IVF-PQ ANN top-k (round 11) — the production billion-vector
    * layout (FAISS IVFPQ; Jégou et al. 2011 §VI): compose
    * [[annIvfTopK]]'s coarse cell probing with [[pqAnnTopK]]'s ADC
    * scoring so a query scans only the `nprobe` probed cells' CODES
    * instead of the whole corpus — the scan cut e61's own scaladoc
    * documents as the billion-vector step.
    *
    * Classic residual encoding: the coarse quantizer (the
    * [[fitCentroids]] Lloyd machinery, fit on the same deterministic
    * hash-mod sample as the codebooks) assigns each vector a cell, and
    * PQ encodes the RESIDUAL x − c_cell (residuals concentrate near 0,
    * so a given codebook budget quantizes them far more finely than
    * raw vectors — this is why IVF-PQ recall at nprobe < k can match
    * plain PQ's full scan). Reconstruction x̂ = c_cell + q(x − c_cell);
    * every per-row step (cell argmin, residual subtract, per-subspace
    * argmin, codeword concat) is a NARROW codegen'd expression — the
    * corpus never shuffles.
    *
    * Scoring: per query, probe the `nprobe` nearest cells (the e13
    * narrow probe path — sort k (distance, cell) pairs per query row,
    * slice, explode), broadcast the probe list onto the corpus's cell
    * key, ADC-score only probed-cell codes, then the rule-7
    * [[saltedShortlist]] (no window partition ever sees more than one
    * salt bucket of ONE query's probed-cell candidates) and the exact
    * re-rank of [[exactRerank]]. `maxCellSize` is the hot-cell guard:
    * a degenerate clustering (all vectors in one cell) silently
    * reverts to a brute-force scan, so when set, one cheap aggregate
    * fails fast naming the oversized cells (the e5 maxBlockSize
    * pattern) instead.
    *
    * Quality gates (the e7/e13/e61 rows-only exemption class): the
    * e41-style recall@k spec — ≥ e61's recall at equal rerank depth on
    * the real sf0.001 embeddings — plus the lossless-case equality
    * property (ksub covers the distinct residual subvectors and
    * nprobe = kCells ⇒ output EQUALS brute force) and a PlanAuditSpec
    * pin on the salted stage-1 window. */
  def ivfPqAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, kCells: Int, ivfIters: Int, nprobe: Int,
                   m: Int, ksub: Int, pqIters: Int, topK: Int, rerank: Int,
                   corpusRows: Option[Long] = None,
                   maxCellSize: Option[Long] = None): DataFrame = {
    require(rerank >= topK, s"rerank depth $rerank must be >= topK $topK")
    require(nprobe >= 1 && nprobe <= kCells, s"nprobe $nprobe out of [1, $kCells]")
    val allRows = corpus.select(col(idCol).as("__id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val fitRows = sampleForFit(allRows, ksub, corpusRows)
    // ONE seed collect serves both fits (round 13): the coarse
    // quantizer's kCells seeds and the codebooks' ksub seeds are both
    // "the smallest id-hash rows of fitRows" — the old chain paid two
    // TakeOrdered jobs over the same rows for the same prefix. The
    // codebook seeds are the residual transform of the same vectors,
    // applied DRIVER-side below with the kernels' exact arithmetic
    // (strict-< argmin over an ascending fixed-order squared-distance
    // fold = NearestCentroid; per-element double subtract truncated to
    // the shorter array = ArraySub) — bit-identical values, one fewer
    // sequential job in the fit chain.
    val seeds = seedVectors(fitRows.select(col("__id"), col("v")),
      math.max(kCells, ksub))
    // coarse quantizer: Lloyd's on the fit sample (cell means saturate
    // long before the corpus does — same argument as the codebooks)
    val centArr = fitPqCodebooksFromSeeds(fitRows.select(col("__id"), col("v")),
      seeds.take(kCells), 1, ivfIters)._1.head
    val kActual = centArr.length
    val centLit = typedLit(centArr.map(_.toSeq).toSeq)
    // residual codebooks: fit rows re-expressed as x − c_cell(x).
    // Native arraySub, not zip_with (round 12): the HOF is
    // CodegenFallback — an interpreted boxed-Double lambda per ELEMENT,
    // re-run on every fit iteration (QueryStageProbe at sf1: the two
    // codebook iterations were 46 of e62's ~80 task-seconds). The
    // native expression reads the raw (float or double) vector
    // directly, so the asDouble transform pass disappears too;
    // per-element double widening keeps the residuals bit-identical.
    val resFitRows = fitRows
      .withColumn("__cl", VectorExpressions.nearestCentroid(col("v"), centArr))
      .select(col("__id"),
        VectorExpressions.arraySub(col("v"),
          element_at(centLit, col("__cl") + 1)).as("v"))
    // the ksub codebook seed residuals, computed driver-side from the
    // shared seed collect (NearestCentroid / ArraySub replicated
    // exactly: ascending-i d += t·t fold, strict <, min-length cut)
    val resSeeds = seeds.take(ksub).map { v =>
      var best = -1; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < centArr.length) {
        val cent = centArr(c)
        val n = math.min(cent.length, v.length)
        var d = 0.0; var i = 0
        while (i < n) { val t = v(i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cent = centArr(best)
      val n = math.min(v.length, cent.length)
      (0 until n).map(i => v(i) - cent(i)): Seq[Double]
    }
    val (codebooks, dsub) = fitPqCodebooksFromSeeds(resFitRows, resSeeds, m, pqIters)
    // encode the FULL corpus: cell + residual codes; x̂ = c_cell + q(r).
    // Native arraySub/arrayAdd in place of the round-11 zip_with pair
    // (CodegenFallback — interpreted per element) keeps the whole
    // corpus-linear encode inside whole-stage codegen; the raw vector
    // feeds the expressions directly (per-element double widening ≡
    // the dropped asDouble pass, bit-identical)
    // the residual is STAGED through its own projection (the c11
    // cofactor-staging lesson): inlining arraySub under pqReconstruct
    // would re-evaluate it once per subspace slice (m×/row) and inflate
    // the generated function toward the JIT huge-method limit —
    // measured 45.9 vs 9.1 task-seconds on the sf1 encode stage before
    // staging. Aliased once, CollapseProject keeps it a separate
    // non-duplicated projection and every slice reads the attribute.
    val enc = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .filter(col("cv").isNotNull)
      .withColumn("cluster", VectorExpressions.nearestCentroid(col("cv"), centArr))
      .withColumn("__cent", element_at(centLit, col("cluster") + 1))
      .withColumn("__res", VectorExpressions.arraySub(col("cv"), col("__cent")))
      .withColumn("rv",
        VectorExpressions.arrayAdd(col("__cent"),
          pqReconstruct(col("__res"), codebooks, dsub)))
      .withColumn("rn2", VectorExpressions.arrayNorm2(col("rv")))
      .select(col("neighbor_id"), col("cluster"), col("rv"), col("rn2"))
    // Guard skipped when PROVABLY untrippable (round 13): cells
    // partition the ≤ corpusRows encoded vectors, so no cell can
    // exceed a cap ≥ corpusRows and the aggregate would be a full
    // corpus argmin pass that cannot fail — e62 registers cap = the
    // footer row count exactly to keep the operator runnable at every
    // SF. Any cap below the known row bound still runs the fail-fast.
    maxCellSize.foreach { cap =>
      if (!corpusRows.exists(_ <= cap)) guardCellSizes(enc, cap, "ivfPqAnnTopK")
    }
    val probes = probeCells(normedQueries(queries, idCol, asDouble(vecCol)),
      centArr, kActual, nprobe)
    // stage 1: ADC over probed cells only, salted shortlist
    val adc = enc.join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", TopK.cosine("qv", "qn2", "rv", "rn2"))
    val shortlist = saltedShortlist(adc, rerank)
      .select(col("query_id"), col("qv"), col("qn2"), col("neighbor_id"))
    exactRerank(corpus, idCol, vecCol, shortlist, topK)
  }

  /** The e5 `maxBlockSize` pattern for IVF cells: one cheap aggregate
    * on the cell key fails fast naming the oversized cells BEFORE a
    * degenerate clustering (all vectors in one cell) silently turns
    * cell probing into a brute-force scan. */
  private def guardCellSizes(assigned: DataFrame, cap: Long, op: String): Unit =
    graft.text.Dedup.requireGroupsAtMost(assigned, "cluster", cap, "cell ",
      s"$op cells exceed maxCellSize=$cap (a probed hot cell scans like brute force): ",
      " -- refit with larger kCells or rebalance the corpus")

  /** Probe list: nprobe nearest centroids per query, computed NARROWLY —
    * sort the (distance, cluster) pairs per row, slice nprobe, explode. */
  private def probeCells(qBase: DataFrame, centArr: Array[Array[Double]],
                         kActual: Int, nprobe: Int): DataFrame =
    qBase
      .withColumn("__pl", slice(array_sort(
        zip_with(VectorExpressions.centroidDistances(col("qv"), centArr),
          sequence(lit(0), lit(kActual - 1)),
          (d, i) => struct(d.as("d"), i.as("cluster")))), 1, nprobe))
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(col("__pl")).as("__p"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("__p.cluster").cast("int").as("cluster"))

  /** IVF ANN top-k: cluster the corpus, probe the `nprobe` nearest
    * cells per query, exact cosine only inside probed cells.
    * `maxCellSize` (round 11): the [[guardCellSizes]] fail-fast — a
    * degenerate clustering silently reverts probing to brute force;
    * when set, the guard names the hot cells instead. */
  def annIvfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, iters: Int, nprobe: Int,
                 topK: Int, maxCellSize: Option[Long] = None): DataFrame = {
    val centroids = collectCentroids(fitCentroids(corpus, idCol, vecCol, k, iters))
    val centArr = centroidMatrix(centroids)
    val kActual = centroids.length
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .filter(col("cv").isNotNull)
      .withColumn("cluster", VectorExpressions.nearestCentroid(col("cv"), centArr))
      .withColumn("cn2", VectorExpressions.arrayNorm2(col("cv")))
    maxCellSize.foreach(cap => guardCellSizes(c, cap, "annIvfTopK"))
    val probes = probeCells(normedQueries(queries, idCol, col(vecCol)), centArr, kActual, nprobe)
    val scored = c.join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(TopK.cosine("qv", "qn2", "cv", "cn2"), 6))
    // rule-7 salted two-stage rank (round 12, the round-11 verdict's
    // e13 flag): a per-query window here would funnel ~nprobe/kCells
    // of the corpus through ONE task per query — the same §8 rule-1/7
    // shape fixed on e61/e62 in round 11. [[TopK.salted]] keeps topK
    // per (query, salt bucket) first, so the final rank window sees at
    // most SALT·topK survivors; output identical (e42 exactness).
    TopK.salted(scored, topK)
  }
}
