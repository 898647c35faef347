package graft

import graft.sample.Sampling
import graft.text.{Dedup, TextOps}
import graft.vector.Similarity

/** Real corpora contain null, empty, and shorter-than-n documents; no
  * operator may crash on them, and signature operators should simply
  * exclude docs that cannot form a signature. */
class NullToleranceSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, Some("the quick brown fox jumps over the lazy dog"), "en", "s1"),
    (2L, None: Option[String], "en", "s1"),
    (3L, Some(""), "en", "s1"),
    (4L, Some("hi"), "en", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("scalar text operators emit a row per doc, nulls propagated") {
    assert(TextOps.qualityScore(docs, "doc_id", "text").count() == 4)
    assert(TextOps.tokenCount(docs, "doc_id", "text").count() == 4)
    assert(TextOps.langId(docs, "doc_id", "text").count() == 4)
    assert(TextOps.fingerprint(docs, "doc_id", "text").count() == 4)
  }

  test("exact dedup groups degenerate docs without crashing") {
    assert(Dedup.exactDedupGroups(docs, "doc_id", "text").count() >= 2)
  }

  test("pairwise signature operators exclude unsignable docs, find no pairs") {
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("lang", "source"), 3, 0.6).count() == 0)
    assert(Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 3).count() == 0)
    assert(Dedup.simhashPairs128(Dedup.simhash128(docs, "doc_id", "text"), 3)
      .count() == 0)
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4).count() == 0)
    // only the 9-word doc can form 8-token windows; null/empty/short
    // docs drop silently and nothing counts as duplicated
    val spans = Dedup.dupSpanStats(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 2L, 0L)))
  }

  test("repetitionStats and chunkText tolerate null/empty/short docs") {
    val rep = TextOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rep.size == 4) // one row per doc, including null/empty text
    assert(rep(2L).getAs[Long]("n_words") == 0 &&
      rep(2L).getAs[Double]("top_word_frac") == 0.0)
    assert(rep(3L).getAs[Long]("n_words") == 0)
    assert(rep(4L).getAs[Long]("n_words") == 1 &&
      rep(4L).getAs[Double]("top_bigram_frac") == 0.0)
    val chunks = TextOps.chunkText(docs, "doc_id", "text", 5, 2)
    // null and empty docs simply emit no chunks
    assert(chunks.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("seasonalDecompose tolerates null values and null timestamps") {
    import org.apache.spark.sql.functions._
    val rows = (0 until 20).map { i =>
      (i.toLong,
        if (i == 5) None else Some(java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00")),
        "A", if (i == 7) None else Some(10.0))
    }
    val df = rows.toDF("event_id", "ts", "key", "value")
    val out = graft.timeseries.Decompose.seasonalDecompose(df, "key", "ts", "event_id", "value", 2)
    assert(out.count() == 19) // the null-ts row is dropped, null value kept
    // windows containing the null value yield null trend, not a crash
    assert(out.filter(col("event_id") === 7L).head().isNullAt(4))
  }

  test("vector operators tolerate null embeddings") {
    val emb = Seq(
      (1L, Some(Array(1.0f, 0.0f)), "a"),
      (2L, None: Option[Array[Float]], "a"),
      (3L, Some(Array(0.9f, 0.1f)), "a")
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineDupPairs(emb, "vec_id", "embedding", "label", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 3L))) // null embedding excluded, not fatal
    // ANN paths must not crash on null vectors either
    Similarity.annLshTopK(emb, emb.filter($"vec_id" === 1L),
      "vec_id", "embedding", 8, 2, 2).collect()
    // e61: null vectors drop from codebook fit, encode, and queries
    val pq = graft.vector.Cluster.pqAnnTopK(emb, emb, "vec_id", "embedding",
      2, 4, 2, 2, 2).collect()
    assert(pq.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L))
  }

  test("round-7 operators tolerate null/empty/degenerate inputs") {
    // e32: null-text rows hash to null — never matching seen (anti-join
    // semantics), merged into one null-hash group within the batch
    val seen = docs.filter($"doc_id" === 1L)
    val out = Dedup.incrementalExactDedup(docs.filter($"doc_id" >= 2L), seen,
      "doc_id", "text", Seq("lang", "source"))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L, 4L)) // null, empty, short: all admitted, none crash
    // e34: null/empty docs tokenize to nothing and drop from the output;
    // surviving docs score without crashing
    val lp = TextOps.unigramLogProb(docs, "doc_id", "text", 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(lp == Set(1L, 4L))
    // e33: a null source inner-joins away rather than crashing the rates
    val mixDocs = docs.withColumn("source",
      org.apache.spark.sql.functions.when($"doc_id" === 4L, null: String)
        .otherwise($"source"))
    val mix = Sampling.temperatureMixSample(mixDocs.select("doc_id", "source"),
      "doc_id", "source", 1L, 1L).select("doc_id").as[Long].collect().toSet
    assert(mix == Set(1L, 2L, 3L)) // budget 1/1 admits every non-null-source row
  }

  test("late round-7 operators tolerate null/degenerate inputs") {
    import java.sql.Timestamp
    // a10: null keys group together (groupBy null semantics) and the
    // full-outer join matches them via the classifier's null-safe compare
    val snap = Seq((Some(1L), Some(10L)), (None: Option[Long], Some(5L)))
      .toDF("key", "digest")
    val rec = graft.ingest.Ingest.snapshotReconcile(
      snap.filter($"key".isNotNull), snap, "key", "digest").collect()
    assert(rec.length == 1 && rec(0).isNullAt(0)) // null key missing_in_state
    // b14: null categories land in __other__, null ts drops from both
    // windows (bucket null), no crash
    val ev = Seq(
      (Some("X"), Some(Timestamp.valueOf("2024-02-01 00:00:00")), Some("click")),
      (Some("X"), Some(Timestamp.valueOf("2024-01-20 00:00:00")), None: Option[String]),
      (Some("X"), None: Option[Timestamp], Some("view"))
    ).toDF("key", "ts", "cat")
    graft.validate.Quality.psiDrift(ev, "key", "ts", "cat",
      Seq("click", "view"), 14, 7, 0.1).collect()
    // e36: null-text batch/seen docs form no shingles -> admitted
    val admitted = Dedup.incrementalNeardupFilter(
      docs, docs.withColumn("doc_id", $"doc_id" + 100L),
      "doc_id", "text", Seq("lang", "source"), 3, 16, 4, 3, 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 3L, 4L)) // doc 1 near-dups its shifted copy
  }

  test("semantic dedup (e37/e38) tolerates null embeddings end to end") {
    val emb = Seq(
      (1L, Some(Array(1.0f, 0.0f)), "a"),
      (2L, None: Option[Array[Float]], "a"),   // null embedding
      (3L, Some(Array(0.99f, 0.01f)), "b"),    // near-dup of 1
      (4L, Some(Array(-1.0f, 0.0f)), "c")
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding", 8, 2, 0.9)
    // e37: the null-embedding vector forms no signature, so it reaches
    // no cluster — and the closure still resolves the real pair
    val comps = graft.graph.Components.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet == Set(1L, 3L) && comps(1L) == comps(3L))
    // e38: null-embedding rows are KEPT (never clustered, so never cut)
    val kept = graft.graph.Components.keepCanonical(
      emb.select($"vec_id", $"label"), pairs, "vec_id", "id_a", "id_b")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L)) // 3 deduped into 1's cluster; 2 untouched
  }

  test("maintained exact dedup (e40) tolerates null text on both sides") {
    // a null text hashes to a null key: it lands in the table as a null
    // row but an equality anti-join never matches null, so null-text
    // batch docs are always admitted (merged to one per batch by the
    // keep-min) — identical to e32's recompute semantics
    val table = Dedup.seenHashTable(docs, "text")
    val out = Dedup.incrementalExactDedupFromTable(
      docs.withColumn("doc_id", $"doc_id" + 100L), table,
      "doc_id", "text", Seq("lang", "source"))
    val recompute = Dedup.incrementalExactDedup(
      docs.withColumn("doc_id", $"doc_id" + 100L), docs,
      "doc_id", "text", Seq("lang", "source"))
    assert(out.select("doc_id").as[Long].collect().toSet ==
      recompute.select("doc_id").as[Long].collect().toSet)
    assert(out.filter($"text_hash".isNull).count() == 1) // nulls merge, never crash
  }

  test("maintained minhash (e39) tolerates null/empty text on both sides") {
    // null/empty/short docs form no shingles ⇒ no signature rows in the
    // maintained table and no candidates from the batch — never a crash
    val table = Dedup.bandSignatures(docs, "doc_id", "text", 3, 16, 4)
    assert(table.select("doc_id").as[Long].collect().toSet == Set(1L),
      "only the signable doc may contribute signature rows")
    val pairs = Dedup.incrementalMinhashPairsFromTable(
      docs.withColumn("doc_id", $"doc_id" + 100L), table,
      "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((101L, 1L))) // the signable doc matches its copy
  }

  test("round-8 operators (e41/f8) tolerate null/degenerate inputs") {
    // e41: a null-embedding corpus row is excluded by BOTH underlying
    // rankings (cosine of null is null -> filtered), so the recall join
    // sees consistent sides and every query still reports a row
    val emb = Seq(
      (1L, Some(Array(1.0f, 0.0f))),
      (2L, None: Option[Array[Float]]),
      (3L, Some(Array(0.9f, 0.1f))),
      (4L, Some(Array(-1.0f, 0.2f)))
    ).toDF("vec_id", "embedding")
    val rec = Similarity.annRecall(emb, emb.filter($"vec_id" === 1L),
      "vec_id", "embedding", 8, 2, 2).collect()
    assert(rec.length == 1 && rec.head.getAs[Long]("n_exact") == 2L)

    // f8's merge: null seq ranks LAST under the desc ordering (Spark
    // desc = nulls last), so a null-ts row can never displace a real
    // one; a null key forms its own maintained group
    val base = s"/tmp/graft_upsert_nulls_${System.nanoTime()}"
    val b1 = Seq((1L, Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), Some(7L), 1.0),
      (2L, None: Option[java.sql.Timestamp], Some(7L), 2.0),
      (3L, Some(java.sql.Timestamp.valueOf("2024-01-01 09:00:00")), None: Option[Long], 3.0))
      .toDF("id", "ts", "key", "value")
    graft.streaming.Upsert.upsertIntoTable(spark, b1, base, "key", "ts", "id", 4)
    val rows = graft.streaming.Upsert.readTable(spark, base).collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[Long]("key")))).toSet
    assert(rows == Set((1L, Some(7L)), (3L, None)),
      s"null-ts loses, null key keeps its own group: $rows")
  }

  test("this session's operators tolerate null/degenerate inputs") {
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // text-side: null/empty/short docs must not crash and must not
    // fabricate pairs/rows
    assert(Dedup.minhashEstimatePairs(docs, "doc_id", "text", 3, 16, 4).count() == 0)
    assert(TextOps.bigramLogProb(docs, "doc_id", "text", 1L)
      .select("doc_id").as[Long].collect().toSet == Set(1L),
      "only the multi-word doc has bigrams")
    val bpe = TextOps.bpePairCounts(docs, "doc_id", "text", 1L).collect()
    assert(bpe.nonEmpty && bpe.forall(_.getAs[String]("pair").length == 2))

    // events-side ops: null ts and null value rows
    val ev = Seq(
      (1L, Some(Timestamp.valueOf("2024-01-01 10:00:00")), Some(7L), Some(1.0)),
      (2L, None: Option[Timestamp], Some(7L), Some(2.0)),
      (3L, Some(Timestamp.valueOf("2024-01-01 10:10:00")), Some(7L), None: Option[Double]),
      (4L, Some(Timestamp.valueOf("2024-01-08 10:00:00")), None: Option[Long], Some(4.0))
    ).toDF("event_id", "ts", "user_id", "value")
    // d13: null-ts rows drop; the null user forms its own cohort
    val coh = graft.analytics.Analytics.cohortRetention(ev, "user_id", "ts")
    assert(coh.agg(sum("n_active")).head().getLong(0) == 2L)
    // f9: null-ts rows drop, everything else admitted under a big cap
    assert(graft.streaming.Streams.rateCap(ev, "user_id", "ts", "event_id",
      "hour", 10).count() == 3)
    // c25: null value passes through null; null-key row passes unclipped
    val win = graft.timeseries.TimeSeries.winsorize(ev, "user_id", "ts",
      "event_id", "value", 5, 100, 95, 100).collect()
    assert(win.length == 4)
    assert(win.find(_.getAs[Long]("event_id") == 3L)
      .get.isNullAt(4), "null value stays null")
    assert(win.find(_.getAs[Long]("event_id") == 4L)
      .get.getAs[Double]("value_winsorized") == 4.0, "null-key row unclipped")
    // b17: an empty child side reports zeros, not a crash
    val emptyChild = Seq.empty[(Option[Long], String)].toDF("fk", "p")
    val r = graft.validate.Quality.referentialIntegrity(Seq(
      graft.validate.Quality.FkRelation("e", emptyChild, "fk",
        Seq(1L).toDF("pk"), "pk"))).collect().head
    assert(r.getAs[Long]("n_child") == 0L && r.getAs[Long]("n_childless") == 1L &&
      r.getAs[Double]("orphan_pct") == 0.0)
  }

  test("session-3 operators tolerate null/degenerate inputs") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Some(Timestamp.valueOf("2024-01-01 10:00:00")), Some(7L), Some(1.0), Some("click")),
      (2L, None: Option[Timestamp], Some(7L), Some(2.0), Some("view")),
      (3L, Some(Timestamp.valueOf("2024-01-01 10:10:00")), Some(7L), None: Option[Double], None: Option[String]),
      (4L, Some(Timestamp.valueOf("2024-01-08 10:00:00")), None: Option[Long], Some(4.0), Some("zzz")))
      .map { case (id, ts, u, v, t) => (id, ts, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // b19: null ts / null key rows drop before the daily counts
    val va = graft.validate.Quality.volumeAnomaly(ev, "user_id", "ts", 2, 3.0)
    assert(va.count() == 1 && va.filter($"is_anomaly").count() == 0)
    // c26: null value rows excluded from the series; short keys emit nothing
    assert(graft.timeseries.TimeSeries.changePoint(ev, "user_id", "ts",
      "event_id", "value", 2).count() == 0)
    // a13: ledger names exactly the violations, null type is not bad_type
    val led = graft.ingest.Ingest.deadLetterLedger(ev, "event_id", "ts",
      "user_id", "event_type", "value", Seq("click", "view"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(led == Set((2L, "null_period"), (3L, "null_value"),
      (4L, "null_respondent"), (4L, "bad_type")), s"got $led")
    // f10: null ts / null key rows drop; sessions still form
    assert(graft.streaming.Streams.sessionWindowAgg(ev, "user_id", "ts",
      "value", 1800L).count() == 1)
    // d15: null order/part keys drop, no pairs fabricated
    val li = Seq((Some(1L), Some(10L)), (None: Option[Long], Some(20L)),
      (Some(1L), None: Option[Long])).toDF("l_orderkey", "l_partkey")
    assert(graft.analytics.Analytics.partPairCounts(li, 5).count() == 0)
    // e52/e53 on null/empty/short docs: no pairs, no crash, funnel accounts all
    val rec = Dedup.lshRecall(docs, "doc_id", "text", 3, 16, 4, 100L, 0.5).collect().head
    assert(rec.getAs[Long]("n_exact") == 0L && rec.isNullAt(rec.fieldIndex("recall")))
    val fun = TextOps.curationFunnel(docs, "doc_id", "text", 0.5, 10L, 5000L)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(fun("raw") == 4L && fun("exact_dedup") <= fun("raw"))
    // c27: null value/ts/key rows excluded; remaining series too short → no rows
    assert(graft.timeseries.TimeSeries.autocorrelation(ev, "user_id", "ts",
      "event_id", "value", 24).count() == 0)
    // e54: null texts form one group per source, null source its own row
    val dup = Dedup.dupRateBySource(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs")).toMap
    assert(dup.values.sum == 4L)
    // e55: null/empty/short docs are unsignable → no cells, no crash
    assert(Dedup.crossSourceNeardup(docs, "doc_id", "text", "source",
      3, 16, 4, 0.5).count() == 0)
  }

  test("round-9 session-2 operators tolerate null/degenerate inputs") {
    import java.sql.Timestamp
    // e57: one row per doc; null text → null metrics and null verdict
    val gop = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(gop.size == 4)
    assert(gop(2L).isNullAt(gop(2L).fieldIndex("keep")))
    assert(gop(3L).getAs[Long]("n_words") == 0 && !gop(3L).getAs[Boolean]("keep"))
    // e58: docs with no tokens (null/empty text) carry no score → absent
    val buckets = TextOps.lmQualityBuckets(docs, "doc_id", "text", "lang", 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(buckets == Set(1L, 4L))
    // b21/c28/f11: null values / null keys / null timestamps survive
    val ev = Seq(
      (Some(1L), Some(Timestamp.valueOf("2024-01-10 10:00:00")), Some("a"), Some(1.0)),
      (Some(2L), Some(Timestamp.valueOf("2024-01-20 10:00:00")), None, Some(2.0)),
      (Some(3L), None, Some("a"), Some(3.0)),
      (Some(4L), Some(Timestamp.valueOf("2024-01-20 11:00:00")), Some("a"), None),
      (None, Some(Timestamp.valueOf("2024-01-20 12:00:00")), Some("b"), Some(4.0)))
      .toDF("event_id", "ts", "event_type", "value")
    // ksDrift: null-value rows carry no magnitude and the null-ts row no
    // window; every key then lacks one window (a: reference only, b and
    // the null key: current only), so no key is scored
    assert(graft.validate.Quality.ksDrift(ev, "event_type", "ts", "value", 14, 7)
      .count() == 0)
    assert(graft.timeseries.Forecast.holtForecast(ev, "event_type", "ts",
      "event_id", "value", 0.5, 0.25, 48, Seq(1)).count() == 0) // all series short
    // c29: same window contract — every series here is too short
    assert(graft.timeseries.Forecast.holtWintersForecast(ev, "event_type", "ts",
      "event_id", "value", 0.5, 0.25, 0.5, 24, 48, Seq(1)).count() == 0)
    // e60: null/empty/short docs contribute no words; the loop still
    // terminates and emits at most n merges
    assert(graft.text.TextOps.bpeMergeLoop(docs, "doc_id", "text", 4, 1L)
      .count() <= 4)
    val drift = graft.streaming.Streams.windowedDrift(ev, "ts", "event_type",
      Seq("a", "b"), Seq("a" -> 5L, "b" -> 3L, "__other__" -> 1L))
      .collect()
    // null category counts as __other__; null ts forms its own window
    // row (4 distinct hours + the null-ts group = 5)
    assert(drift.length == 5 && drift.forall(!_.isNullAt(2)))
    // d18: null order/part keys are filtered before baskets
    val li = Seq((Some(1L), Some(10L)), (Some(1L), Some(20L)),
      (None, Some(10L)), (Some(2L), None)).toDF("l_orderkey", "l_partkey")
    val lift = graft.analytics.Analytics.basketLift(li, 5).collect()
    assert(lift.length == 1 && lift.head.getAs[Long]("n_baskets") == 1L)
  }

  test("round-11 operators tolerate null/degenerate inputs") {
    import java.sql.Timestamp
    // e62: null vectors drop from the coarse fit, residual codebooks,
    // encode, and queries — same contract as e61
    val emb = Seq(
      (1L, Some(Seq(1.0f, 0.0f, 0.0f, 1.0f)), "a"),
      (2L, None: Option[Seq[Float]], "a"),
      (3L, Some(Seq(0.9f, 0.1f, 0.0f, 1.0f)), "a"),
      (4L, Some(Seq(0.0f, 1.0f, 1.0f, 0.0f)), "b")
    ).toDF("vec_id", "embedding", "label")
    val ivfpq = graft.vector.Cluster.ivfPqAnnTopK(emb, emb, "vec_id", "embedding",
      2, 1, 2, 2, 4, 1, 2, 2).collect()
    assert(ivfpq.nonEmpty)
    assert(ivfpq.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L))
    // c30/c31: null values drop; series too short for a split/window
    // emit nothing rather than NaNs or crashes
    val ev = Seq(
      (Some(1L), Some(Timestamp.valueOf("2024-01-10 10:00:00")), Some("a"), Some(1.0)),
      (Some(2L), Some(Timestamp.valueOf("2024-01-10 11:00:00")), Some("a"), None),
      (Some(3L), None, Some("a"), Some(3.0)),
      (None, Some(Timestamp.valueOf("2024-01-10 12:00:00")), Some("b"), Some(4.0)))
      .toDF("event_id", "ts", "event_type", "value")
    val sr = graft.timeseries.Forecast.seasonalRidgeForecast(ev, "event_type",
      "ts", "event_id", "value", 7, 10, 1.0).collect()
    assert(sr.forall(r => !r.isNullAt(4) && !r.getDouble(4).isNaN))
    assert(graft.timeseries.Forecast.holtWintersDampedForecast(ev, "event_type",
      "ts", "event_id", "value", 0.5, 0.25, 0.5, 0.9, 24, 48, Seq(1)).count() == 0)
    // e63: null/empty docs contribute no words and emit no row; short
    // docs count their actual trained-segmentation tokens
    val tc = graft.text.TextOps.bpeTokenCounts(docs, "doc_id", "text", 4, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc.keySet == Set(1L, 4L) && tc.values.forall(_ > 0))
    // e64/c32/d21: degenerate inputs flow through, never crash
    val packed = graft.text.TextOps.packSequencesByCount(
      graft.text.TextOps.bpeTokenCounts(docs, "doc_id", "text", 4, 1L)
        .join(docs.select($"doc_id", $"source"), Seq("doc_id")),
      "doc_id", "n_tokens", "source", 4)
    assert(packed.count() == 2)
    assert(graft.timeseries.Forecast.blendForecasts(ev, "event_type", "ts",
      "event_id", "value", 1, 7, 10, 1.0).collect()
      .forall(r => !r.getAs[Double]("prediction").isNaN))
    val liNull = Seq((Some(1L), Some(10.0), Some(0.0), None: Option[java.sql.Date]))
      .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    val suppT = Seq((1L, "S1")).toDF("s_suppkey", "s_name")
    assert(graft.analytics.Analytics.topSupplier(liNull, suppT,
      "1996-01-01", "1996-04-01").count() == 0)
  }
}
