package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.analytics.Analytics
import graft.graph.Components
import graft.ingest.Ingest
import graft.sample.Sampling
import graft.pipeline.CorpusBuild
import graft.sources.{ParquetStats, Sources}
import graft.streaming.{Streams, Upsert}
import graft.text.{Dedup, TextOps}
import graft.timeseries.{Forecast, TimeSeries}
import graft.validate.Quality
import graft.vector.Similarity

/** Keeps the README's "Point it at your tables" examples honest: each
  * marked region below is character-identical (modulo indentation) to
  * the corresponding README fence, compiled by this build, and RUN
  * against small tables. Editing the README without this spec — or
  * vice versa — fails the test, so a user pasting a README snippet
  * over their own parquet gets code that is known to compile and
  * execute against the current library surface. */
class DocSnippetSpec extends SparkSpec {
  import spark.implicits._

  private def lines(path: String): Vector[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.toVector

  /** The README fence following `<!-- doc-snippet:TAG -->`. */
  private def readmeBlock(tag: String): Seq[String] = {
    val ls = lines("README.md")
    val mark = ls.indexWhere(_.trim == s"<!-- doc-snippet:$tag -->")
    assert(mark >= 0, s"README.md lost the doc-snippet:$tag marker")
    val open = ls.indexWhere(_.trim == "```scala", mark)
    val close = ls.indexWhere(_.trim == "```", open + 1)
    assert(open > mark && close > open, s"doc-snippet:$tag fence malformed")
    ls.slice(open + 1, close).map(_.trim).filter(_.nonEmpty)
  }

  /** This file's region between `doc-snippet:TAG begin/end` comments. */
  private def specRegion(tag: String): Seq[String] = {
    val ls = lines("src/test/scala/graft/DocSnippetSpec.scala")
    val s = ls.indexWhere(_.trim == s"// doc-snippet:$tag begin")
    val e = ls.indexWhere(_.trim == s"// doc-snippet:$tag end")
    assert(s >= 0 && e > s, s"spec region doc-snippet:$tag missing")
    ls.slice(s + 1, e).map(_.trim).filter(_.nonEmpty)
  }

  private def assertInSync(tag: String): org.scalatest.Assertion =
    assert(readmeBlock(tag) == specRegion(tag),
      s"README doc-snippet:$tag drifted from the compiled spec region")

  private def hm(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${1 + i / 24}%02d ${i % 24}%02d:00:00")

  // "your tables" stand-ins — schemas are the snippets' only contract
  lazy val accumulated = Seq((1L, 10L, hm(0), 1.5), (2L, 10L, hm(1), 2.0))
    .toDF("reading_id", "meter_id", "ts", "kwh")
  lazy val newBatch = Seq((2L, 10L, hm(1), 2.0), (3L, 11L, hm(1), 3.0))
    .toDF("reading_id", "meter_id", "ts", "kwh")
  lazy val base = Seq((7L, 1L, hm(0), "flat")).toDF("meter_id", "version", "ts", "tariff")
  lazy val changes = Seq(
    (7L, "U", 2L, hm(2), "peak"), (8L, "U", 1L, hm(2), "flat"),
    (8L, "U", 2L, hm(3), "offpeak"))
    .toDF("meter_id", "op", "version", "ts", "tariff")
  lazy val telemetry = (0 until 60).map { i =>
    (i.toLong, 10L, hm(i), if (i == 50) 999.0 else 10.0 + (i % 7).toDouble,
      if (i % 9 == 0) "error" else "ok")
  }.toDF("reading_id", "meter_id", "ts", "kwh", "status")
  lazy val meters = Seq((10L, "east"), (11L, "west")).toDF("meter_id", "zone")
  lazy val clicks = (0 until 40).map { i =>
    (i.toLong, (i % 3).toLong + 1L, hm(i * 5), 1.0) // 3 users across ~8 days
  }.toDF("event_id", "user_id", "ts", "value")
  lazy val baskets = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L))
    .toDF("l_orderkey", "l_partkey")
  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river", "web"),
    (2L, "the quick brown fox jumps over the lazy dog near the river", "web"),
    (3L, "completely different content about engines and shuffles today", "web"))
    .toDF("doc_id", "text", "source")
  lazy val vectors = Seq(
    (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f)))
    .toDF("vec_id", "embedding")
  lazy val probes = vectors.filter($"vec_id" === 1L)

  test("README group-A snippet compiles, runs, and matches the README verbatim") {
    // doc-snippet:A begin
    val appended = Ingest.incrementalIngest(accumulated, newBatch, "reading_id")
    val latest   = Ingest.dedupKeepLatest(appended, Seq("meter_id"), "ts", "reading_id")
    val upserted = Ingest.cdcMerge(base, changes, "meter_id", "op", "version", "meter_id")
    val history  = Ingest.scd2History(changes, "meter_id", "ts", Seq("tariff"), "version")
    // doc-snippet:A end
    assert(appended.count() == 3)          // high-water mark admits only id 3
    assert(latest.count() == 2)            // newest reading per meter
    assert(upserted.count() == 2)          // 7 upserted to v2, 8 inserted at v2
    assert(history.filter($"meter_id" === 8L).count() == 2) // two tariff eras
    assertInSync("A")
  }

  test("README group-B snippet compiles, runs, and matches the README verbatim") {
    // doc-snippet:B begin
    val gaps    = Quality.gapDetection(telemetry, "meter_id", "ts", "reading_id", 3600L, 1.5)
    val outlier = Quality.iqrOutliers(telemetry, "meter_id", "kwh")
    val report  = Quality.qualityReport(telemetry, "meter_id", "ts", "reading_id", "kwh", 3600L, 1.5)
    val verdict = Quality.validationVerdict(telemetry, "meter_id", "ts", "reading_id", "kwh", 5.0, 2.0)
    val drift   = Quality.psiDrift(telemetry, "meter_id", "ts", "status", Seq("ok", "error"), 14, 7, 0.1)
    val fks     = Quality.referentialIntegrity(Seq(Quality.FkRelation("readings->meters", telemetry, "meter_id", meters, "meter_id")))
    val volume  = Quality.volumeAnomaly(telemetry, "meter_id", "ts", 7, 3.0)
    val rejects = Ingest.deadLetterLedger(telemetry, "reading_id", "ts", "meter_id", "status", "kwh", Seq("ok", "error"))
    val clean   = telemetry.join(rejects, Seq("reading_id"), "left_anti")
    // doc-snippet:B end
    assert(gaps.count() == 0)              // perfectly hourly: no gaps
    assert(outlier.head().getAs[Long]("outlier_count") == 1) // the planted 999.0
    assert(report.count() >= 4)            // one (metric, value) row per headline check
    assert(verdict.count() == 1)           // single pass/fail verdict row
    drift.collect()                        // 60h of data: windows run empty, not crash
    val fk = fks.head()
    assert(fk.getAs[Long]("n_orphan") == 0L && fk.getAs[Long]("n_childless") == 1L)
    assert(volume.count() == 3)            // 60 hourly rows span 3 calendar days
    assert(rejects.count() == 0 && clean.count() == 60) // healthy feed: empty ledger
    assertInSync("B")
  }

  test("README group-C snippet compiles, runs, and matches the README verbatim") {
    // doc-snippet:C begin
    val hourly = TimeSeries.resample(telemetry, "meter_id", "ts", "kwh", "hour")
    val scaled = TimeSeries.scaleStandard(telemetry, "meter_id", "ts", "reading_id", "kwh")
    val splits = TimeSeries.trainValTestSplit(telemetry, "meter_id", "ts", "reading_id", 0.7, 0.15)
    val coefs  = Forecast.ridgeLagForecast(telemetry, "meter_id", "ts", "reading_id", "kwh", 24, 1.0)
    val preds  = Forecast.applyCoefficients(telemetry, coefs, "meter_id", "ts", "reading_id", "kwh", 24)
    val skill  = Forecast.metrics(preds, "meter_id", "kwh", "prediction")
    val tamed  = TimeSeries.winsorize(telemetry, "meter_id", "ts", "reading_id", "kwh", 5, 100, 95, 100)
    val break_ = TimeSeries.changePoint(telemetry, "meter_id", "ts", "reading_id", "kwh", 24)
    val cyclic = TimeSeries.autocorrelation(telemetry, "meter_id", "ts", "reading_id", "kwh", 24)
    // doc-snippet:C end
    assert(hourly.count() == 60 && scaled.count() == 60 && splits.count() == 60)
    assert(coefs.count() == 1)             // one fitted row per key
    assert(preds.count() == 36)            // rows with both lags present
    assert(skill.count() == 1 && skill.columns.contains("rmse"))
    // the planted 999.0 clamps to the 95% threshold, everything else intact
    assert(tamed.filter($"value_winsorized" > 100.0).count() == 0 && tamed.count() == 60)
    val bp = break_.collect()
    assert(bp.length == 1 && bp.head.getAs[Long]("split_idx") >= 24)
    val cy = cyclic.collect()
    assert(cy.length == 1 && cy.head.getAs[Long]("n_pairs") == 36L)
    assertInSync("C")
  }

  test("README group-D snippet compiles, runs, and matches the README verbatim") {
    // doc-snippet:D begin
    val cohorts  = Analytics.cohortRetention(clicks, "user_id", "ts")
    val capped   = Streams.rateCap(clicks, "user_id", "ts", "event_id", "hour", 100)
    val sessions = Streams.sessionWindowAgg(clicks, "user_id", "ts", "value", 1800L)
    val combos   = Analytics.partPairCounts(baskets, 10)
    // doc-snippet:D end
    // every cohort's week-0 row retains 100% by construction
    assert(cohorts.filter($"weeks_since" === 0L)
      .collect().forall(_.getAs[Double]("retention") == 1.0))
    assert(capped.count() == 40)           // cap 100/h admits everything here
    assert(sessions.count() == 40)         // clicks 5h apart: every click its own session
    val top = combos.head()
    assert(combos.count() == 3 && top.getAs[Long]("n_orders") == 2L) // {10,20} co-ordered twice
    assertInSync("D")
  }

  test("README group-E snippet compiles, runs, and matches the README verbatim") {
    // doc-snippet:E begin
    val pairs     = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 4)
    val clusters  = Components.connectedComponents(pairs, "doc_a", "doc_b")
    val kept      = Components.keepCanonical(corpus, pairs, "doc_id", "doc_a", "doc_b")
    val quality   = TextOps.qualityScore(kept, "doc_id", "text", Seq("source"))
    val curated   = Sampling.quantileTopFilter(quality, "stopword_ratio", "source", 1L, 2L)
    val sampled   = Sampling.groupCapSample(curated, "doc_id", "source", 100L)
    val neighbors = Similarity.annLshTopK(vectors, probes, "vec_id", "embedding", 16, 4, 5)
    val estimates = Dedup.minhashEstimatePairs(corpus, "doc_id", "text", 3, 16, 4)
    val lmScores  = TextOps.bigramLogProb(corpus, "doc_id", "text", 2L)
    val merges    = TextOps.bpePairCounts(corpus, "doc_id", "text", 2L)
    val recall    = Dedup.lshRecall(corpus, "doc_id", "text", 3, 16, 4, 1000L, 0.5)
    val funnel    = TextOps.curationFunnel(corpus, "doc_id", "text", 0.5, 5L, 5000L)
    val dupBySrc  = Dedup.dupRateBySource(corpus, "doc_id", "text", "source")
    val feedVenn  = Dedup.crossSourceNeardup(corpus, "doc_id", "text", "source", 3, 16, 4, 0.5)
    val shards    = CorpusBuild.corpusBuild(corpus, "doc_id", "text", "source",
      0.5, 5L, 5000L, 3, 0.6, 8, 1L, 2L, 100L, 8L, 10L, 256, 4)
    // doc-snippet:E end
    assert(pairs.as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    assert(clusters.count() == 2)          // both dup docs resolve to one component
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(quality.count() == 2)
    // the stopword-dense doc tops its source's quantile; the cap (>n) keeps it
    assert(curated.select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(sampled.select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(neighbors.filter($"neighbor_id" === 2L).count() == 1) // probe finds its near-dup
    // identical docs 1/2 estimate Jaccard 1.0 from signature agreement
    assert(estimates.filter($"doc_a" === 1L && $"doc_b" === 2L)
      .head().getAs[Double]("est_jaccard") == 1.0)
    assert(lmScores.count() == 3)          // every multi-word doc scores
    assert(merges.filter($"rank" === 1L).count() == 1) // the first BPE merge
    val rc = recall.head()
    assert(rc.getAs[Long]("n_exact") == 1L && rc.getAs[Double]("recall") == 1.0)
    val fn = funnel.collect().map(r =>
      r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(fn("raw") == 3L && fn("exact_dedup") == 2L) // the dup pair collapses
    val db = dupBySrc.head()
    assert(db.getAs[Long]("n_docs") == 3L && db.getAs[Long]("n_dup_docs") == 1L)
    val fv = feedVenn.head() // docs 1/2 are identical, both "web" → diagonal cell
    assert(fv.getAs[String]("source_a") == "web" && fv.getAs[Long]("n_pairs") == 1L)
    // the full chain on this corpus: doc 2 deduped, doc 3 loses the
    // quality quantile, doc 1 survives the 8/10 mixture → one packed
    // 12-token sequence at shard position 0
    val sh = shards.collect()
    assert(sh.length == 1 && sh.head.getAs[Long]("n_docs") == 1L &&
      sh.head.getAs[Long]("n_tokens") == 12L && sh.head.getAs[Long]("position") == 0L)
    assertInSync("E")
  }

  test("README group-F snippet compiles, runs, and matches the README verbatim") {
    val dir = s"/tmp/graft_docsnippet_f_${System.nanoTime()}"
    val readings = Seq((1L, 10L, hm(0), 1.5), (2L, 10L, hm(2), 2.5), (3L, 11L, hm(1), 3.0))
      .toDF("reading_id", "meter_id", "ts", "kwh")
    readings.write.parquet(s"$dir/in")
    // doc-snippet:F begin
    val feed    = spark.readStream.schema(readings.schema).parquet(s"$dir/in")
    val query   = Upsert.streamUpsert(feed, s"$dir/state", s"$dir/chk", "meter_id", "ts", "reading_id", 64)
    query.awaitTermination()
    val current = Upsert.readTable(spark, s"$dir/state")
    // doc-snippet:F end
    assert(current.select("reading_id").as[Long].collect().toSet == Set(2L, 3L),
      "latest reading per meter survives in the maintained table")
    assertInSync("F")
  }

  test("README group-G snippet compiles, runs, and matches the README verbatim") {
    val dir = s"/tmp/graft_docsnippet_g_${System.nanoTime()}"
    val readings = (1L to 200L).map(i => (i, hm((i % 48).toInt), i * 0.5))
      .toDF("reading_id", "ts", "kwh")
    readings.repartition(20).write.parquet(s"$dir/frag")
    val todays = readings.withColumn("day", org.apache.spark.sql.functions.to_date($"ts"))
    // doc-snippet:G begin
    val sorted = Sources.writeSortedLayout(readings, s"$dir/by_ts", "ts", 8)
    val boxed  = Sources.writeZorderLayout(readings, s"$dir/by_id_ts", "reading_id", "ts", 8)
    val packed = Sources.compactParquet(spark, s"$dir/frag", s"$dir/packed", 128L * 1024 * 1024)
    Sources.relandPartitions(todays, s"$dir/by_day", Seq("day"))
    val nRows  = ParquetStats.rowCount(spark, s"$dir/by_ts")
    val stats  = ParquetStats.analyzeTable(spark, s"$dir/by_ts", Seq("reading_id"))
    // doc-snippet:G end
    assert(sorted.count() == 200 && boxed.count() == 200 && packed.count() == 200 && nRows == 200L)
    assert(Sources.dataFiles(spark, s"$dir/packed").size < 20)
    assert(spark.read.parquet(s"$dir/by_day").count() == 200)
    val st = stats.head()
    assert(st.getAs[Long]("n_rows") == 200L && st.getAs[Long]("max_v") == 200L)
    assertInSync("G")
  }

  test("README group-H snippet compiles, runs, and matches the README verbatim") {
    val dir = s"/tmp/graft_docsnippet_h_${System.nanoTime()}"
    val fresh = Seq((10L, "the quick fox river", "web"))
      .toDF("doc_id", "text", "source")
    // doc-snippet:H begin
    val counts   = TextOps.bpeTokenCounts(corpus, "doc_id", "text", 8, 1L)
    val budgeted = TextOps.packSequencesByCount(counts.join(corpus.select("doc_id", "source"), "doc_id"), "doc_id", "n_tokens", "source", 4096)
    Sources.appendVersion(TextOps.bpeMergeLoop(corpus, "doc_id", "text", 8, 1L), spark, s"$dir/tokenizer")
    val merges   = Sources.readVersion(spark, s"$dir/tokenizer", 1L).orderBy("merge_rank").collect().map(_.getString(1)).toSeq
    val encoded  = TextOps.applyBpeMerges(fresh, "doc_id", "text", merges)
    // doc-snippet:H end
    assert(counts.count() == 3)            // every non-empty doc carries a count
    // the packed tokens column IS the trained accounting
    assert(budgeted.select("tokens").as[Long].collect().sum ==
      counts.select("n_tokens").as[Long].collect().sum)
    assert(merges.length == 8)             // 8 persisted merge rounds
    // fresh-crawl words seen in training segment as trained; the doc
    // encodes without the training corpus present
    val enc = encoded.head()
    assert(enc.getAs[Long]("n_words") == 4L && enc.getAs[Long]("n_tokens") >= 4L)
    assertInSync("H")
  }
}
