package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextOps}
import graft.vector.Similarity

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** The two symbols of a BPE merge, written "x y". */
  private def mergePair(pair: String): (String, String) = pair.split(" ") match {
    case Array(x, y) => (x, y)
    case _ => fail(s"malformed merge pair '$pair'")
  }

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s1"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bank today!", "en", "s1"), // near-dup of 1 (case/punct)
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday", "en", "s1"), // 1-word change
    (4L, "completely different content about spark distributed query engines and shuffles", "en", "s1"),
    (5L, "el rapido zorro marron salta sobre el perro perezoso cerca del rio", "es", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("exactDedupGroups groups case/punctuation variants") {
    val out = Dedup.exactDedupGroups(docs, "doc_id", "text")
    val grp = out.filter(col("dup_count") === 2).collect()
    assert(grp.length == 1 && grp.head.getAs[Long]("keep_doc_id") == 1L)
    assert(out.count() == 4) // 5 docs, one merged pair
  }

  test("minhashLshPairs finds the near-duplicate pair, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("simhash of near-identical docs is close in Hamming space") {
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val m = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) == 0)      // identical after normalization
    assert(ham(m(1L), m(3L)) <= 16)     // one word changed
    assert(ham(m(1L), m(4L)) > 10)      // unrelated
  }

  test("simhashPairs returns pairs within the radius via pigeonhole blocking") {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccardPairs matches a naive exact computation on random corpora") {
    // Differential check of the prefix/positional-filter pruning: the
    // optimized operators — Jaccard and directed containment, which
    // share the gram index — must return EXACTLY the naive all-pairs
    // results. The two block columns concatenate to the same string in
    // both blocks ("a"+"bc" = "ab"+"c") and every fifth mutant lands in
    // the other block than its original, so a block key built without a
    // separator would pair them.
    val rnd = new scala.util.Random(42)
    val vocab = "abcdefghij "
    def randDoc(len: Int): String =
      (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString
    val blocks = Seq(("a", "bc"), ("ab", "c"))
    val originals = (0 until 60).map(i =>
      (i.toLong, randDoc(60 + rnd.nextInt(60)), blocks(i % 2)))
    val mutants = (0 until 25).map { j =>
      val (_, text, blk) = originals(rnd.nextInt(originals.length))
      val pos = rnd.nextInt(text.length)
      val mblk = if (j % 5 == 0) blocks.filterNot(_ == blk).head else blk
      (1000L + j, text.updated(pos, vocab(rnd.nextInt(vocab.length))), mblk)
    }
    val all = originals ++ mutants
    val df = all.map { case (id, t, (b1, b2)) => (id, t, b1, b2) }
      .toDF("doc_id", "text", "b1", "b2")
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq("b1", "b2"), 3, 0.6))
    val gotC = pairs(
      Dedup.ngramContainmentPairs(df, "doc_id", "text", Seq("b1", "b2"), 3, 0.8))

    def norm(t: String) =
      t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
    def grams(t: String) = norm(t).sliding(3).toSet
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    val byId = all.map { case (id, t, b) => (id, b, grams(t)) }
    // (a, b, same block, rounded Jaccard, rounded containment of a in b)
    val scored = for {
      (ia, ba, ga) <- byId
      (ib, bb, gb) <- byId
      if ia != ib
      inter = (ga & gb).size
    } yield (ia, ib, ba == bb, r4(inter.toDouble / (ga.size + gb.size - inter)),
      r4(inter.toDouble / ga.size))
    val expected = scored.collect { case (a, b, true, j, _) if a < b && j >= 0.6 => (a, b) }.toSet
    val expectedC = scored.collect { case (a, b, true, _, c) if c >= 0.8 => (a, b) }.toSet
    val crossBlock = scored.collect { case (a, b, false, j, _) if a < b && j >= 0.6 => (a, b) }
    assert(expected.nonEmpty && expectedC.nonEmpty, "test corpus produced no qualifying pairs")
    assert(crossBlock.nonEmpty, "test corpus has no cross-block near-dup to guard the separator")
    assert(got == expected)
    assert(gotC == expectedC)
  }

  test("ngramJaccardPairs: identical normalized docs score 1.0") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang", "source"), 3, 0.5)
    val m = out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m.get((1L, 3L)).exists(j => j > 0.5 && j < 1.0))
  }

  test("simhashPairs matches naive hamming pairing on the sf corpus") {
    val sim = Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text")
    val fps = sim.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashPairs(sim, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("simhashPairs radius=0 (64-bit chunks): exact-duplicate pairs, mask not zeroed") {
    // bitsPer == 64 makes (1L << 64) - 1 evaluate to 0 on the JVM
    // (shift is mod 64) — the -1L >>> (64 - bitsPer) mask keeps the
    // whole-word key intact instead of collapsing every bucket to 0
    val sim = Seq((1L, 42L), (2L, 42L), (3L, 43L), (4L, 99L))
      .toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(sim, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    // with a collapsed key every doc would share bucket 0 and the
    // 4-row "bucket" would be pruned at maxBucket = 3 → silently empty
    assert(Dedup.simhashPairs(sim, 0, maxBucket = 3).count() == 1L)
  }
  test("simhashPairs prunes degenerate chunk buckets, keeps sparse pairs") {
    val a = 0x0001000200030004L
    val b = a ^ 1L // Hamming 1 from a; shares chunks 1-3 with it
    val sim = ((1L to 50L).map(i => (i, 0L)) ++ Seq((100L, a), (101L, b)))
      .toDF("doc_id", "simhash")
    // all four chunk keys of the 50 identical fingerprints land on
    // (chunk, 0) -> occupancy 50 > maxBucket, pruned; the sparse pair's
    // buckets hold 2 rows and survive
    val pruned = Dedup.simhashPairs(sim, 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((100L, 101L)))
    // with the default bound nothing prunes: C(50,2) zero-distance
    // pairs + the sparse one
    assert(Dedup.simhashPairs(sim, 3).count() == 1226L)
  }

  test("fused SimhashVotes aggregate is bit-identical to the composed vote sums") {
    // the round-13 kernel swap (SimhashVoteAgg): same affine family,
    // same ±1 votes, same strict > 0 sign rule, null tokens skipped
    // like sum — pinned against the 64-sum + when/bitwiseOR packing
    // composition it replaced, over the real sf corpus plus edge rows
    import graft.functions._
    val edge = Seq((9001L, ""), (9002L, "   "), (9003L, "one"))
      .toDF("doc_id", "text")
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(edge)
    val hashed = base.select(col("doc_id"),
      explode(split(normalizeText(col("text")), "\\s+")).as("token"))
      .select(col("doc_id"), polyFingerprint(col("token")).as("h0"))
    val P = Dedup.AffineP
    def affine(b: Int) =
      (lit(Dedup.hashConst("sim-a", b)) * col("h0") + lit(Dedup.hashConst("sim-b", b))) % P
    val words = 2
    val voteAggs = (0 until words * 64).map { b =>
      sum(affine(b).bitwiseAND(1) * 2 - 1).as(s"v_$b")
    }
    val votes = hashed.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    val composedCols = (0 until words).map { w =>
      (0 until 64).map { j =>
        when(col(s"v_${w * 64 + j}") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).as(s"sim_$w")
    }
    val composed = votes.select(col("doc_id") +: composedCols: _*)
    val aArr = (0 until words * 64).map(i => Dedup.hashConst("sim-a", i)).toArray
    val bArr = (0 until words * 64).map(i => Dedup.hashConst("sim-b", i)).toArray
    val fused = hashed.groupBy(col("doc_id")).agg(
      SimhashVoteAgg.simhashWords(col("h0"), aArr, bArr, words).as("__sw"))
      .select(col("doc_id"),
        element_at(col("__sw"), 1).as("f_0"), element_at(col("__sw"), 2).as("f_1"))
    val joined = composed.join(fused, Seq("doc_id"), "full")
    assert(joined.filter(col("sim_0").isNull || col("f_0").isNull ||
      col("sim_0") =!= col("f_0") || col("sim_1") =!= col("f_1")).count() == 0)
  }

  test("simhash128: word 0 is bit-identical to the 64-bit fingerprint") {
    // the affine bit family indexes by GLOBAL bit, so widening the
    // fingerprint must extend it, never re-derive the first 64 bits —
    // precision tiers stay comparable across widths
    val docs = Tables.documents(spark, sf)
    val joined = Dedup.simhash128(docs, "doc_id", "text")
      .join(Dedup.simhash(docs, "doc_id", "text"), "doc_id")
    assert(joined.filter(col("sim_0") =!= col("simhash")).count() == 0)
  }

  test("simhashPairs128 matches naive 128-bit hamming pairing on the sf corpus") {
    val sim = Dedup.simhash128(Tables.documents(spark, sf), "doc_id", "text")
    val fps = sim.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (ia, la, ha) <- fps; (ib, lb, hb) <- fps
      if ia < ib &&
        java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashPairs128(sim, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("simhashPairs128 prunes degenerate buckets on 32-bit chunk keys") {
    val lo = 0x0000000100000002L // chunks 0-1 of word 0
    val hi = 0x0000000300000004L // chunks 2-3 of word 1
    val sim = ((1L to 50L).map(i => (i, 0L, 0L)) ++
      Seq((100L, lo, hi), (101L, lo ^ 1L, hi)))
      .toDF("doc_id", "sim_0", "sim_1")
    // the 50 zero fingerprints saturate every (chunk, 0) bucket past
    // maxBucket and prune; the sparse pair (hamming 1) survives in its
    // own buckets
    val pruned = Dedup.simhashPairs128(sim, 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((100L, 101L)))
    assert(Dedup.simhashPairs128(sim, 3).count() == 1226L)
  }

  test("dupSpanStats counts cross-doc windows, ignores within-doc repeats") {
    val eight = "a b c d e f g h"               // one shared 8-token window
    val d = Seq(
      (1L, s"$eight tail one"),                 // shares the window with 2
      (2L, s"lead $eight"),                     // shares the window with 1
      (3L, s"$eight $eight"),                   // shares it too, repeated twice
      (4L, "q r s t u v w x y"),                // no cross-doc window
      (5L, "too short")                         // < 8 tokens -> drops
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(d, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!out.contains(5L))
    // doc 1: 10 tokens -> 3 windows; only the leading one is shared
    assert(out(1L) == (3L, 1L))
    assert(out(2L) == (2L, 1L))
    // doc 3: 16 tokens -> 9 windows; the shared window occurs TWICE and
    // both occurrences count as duplicated mass (multiplicity via __k)
    assert(out(3L)._1 == 9L && out(3L)._2 >= 2L)
    // doc 4's windows are unique corpus-wide: zero duplicated even
    // though nothing about the doc itself is special
    assert(out(4L) == (2L, 0L))
  }

  test("dupSpanScrub removes exactly the covered tokens, in order") {
    val eight = "a b c d e f g h"               // one shared 8-token window
    val d = Seq(
      (1L, s"$eight tail one"),                 // window at pos 0 covers 0..7
      (2L, s"lead $eight"),                     // window at pos 1 covers 1..8
      (3L, "q r s t u v w x y"),                // no cross-doc window
      (4L, "too short"),                        // < 8 tokens -> untouched
      (5L, null.asInstanceOf[String])           // null text -> empty, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanScrub(d, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // every doc keeps a row, scrubbed or not
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // doc 1: the shared window's 8 tokens drop, the tail survives in order
    assert(out(1L) == (("tail one", 10L, 8L)))
    // doc 2: the lead token survives ahead of the covered span
    assert(out(2L) == (("lead", 9L, 8L)))
    // doc 3: unique windows corpus-wide -> nothing removed
    assert(out(3L) == (("q r s t u v w x y", 9L, 0L)))
    assert(out(4L) == (("too short", 2L, 0L)))
    assert(out(5L) == (("", 0L, 0L)))
  }

  test("dupSpanScrub merges overlapping covered spans") {
    // docs 1 and 2 share TWO overlapping windows (positions 0 and 1 of
    // the 9-token run) — coverage is their union 0..8, not double-counted
    val nine = "a b c d e f g h i"
    val d = Seq(
      (1L, s"$nine x"),
      (2L, s"$nine y")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanScrub(d, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out(1L) == (("x", 9L)))
    assert(out(2L) == (("y", 9L)))
  }

  test("tokenFrequency excludes null doc ids from doc_freq, not from n") {
    val d = Seq((Some(1L), "x x"), (None, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.tokenFrequency(d, "doc_id", "text", 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // COUNT(DISTINCT doc_id) semantics: the null-id doc contributes its
    // occurrences to n but is not a counted document
    assert(out("x") == (3L, 1L))
  }

  test("tokenFrequency counts totals and doc frequency with pruning") {
    val d = Seq(
      (1L, "alpha beta alpha", "en", "s"),
      (2L, "alpha gamma", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.tokenFrequency(d, "doc_id", "text", 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("alpha") == (3L, 2L)) // 3 occurrences across 2 docs
    assert(out("beta") == (1L, 1L) && out("gamma") == (1L, 1L))
    assert(TextOps.tokenFrequency(d, "doc_id", "text", 2L).count() == 1) // only alpha
  }

  test("gopherRules decides every ratio rule at its exact integer boundary") {
    import spark.implicits._
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val d = Seq(
      // 1: 60 words, 2 stop kinds, all alpha, no symbols → keep
      (1L, "the and " + words("word", 58)),
      // 2: under the 50-word floor
      (2L, "the and " + words("word", 8)),
      // 3: 58 numeric words → alpha 2/60 fails; mean len sits EXACTLY
      //    on the 3.0 floor (6 + 58·3 = 180 = 3·60) → r_word_len holds
      (3L, "the and " + words("123", 58)),
      // 4: 6 '#' in 60 words → 6·10 ≤ 60, boundary-true
      (4L, "the and " + words("wo#d", 6) + " " + words("word", 52)),
      // 5: 7 '#' in 60 words → 70 > 60, fails
      (5L, "the and " + words("wo#d", 7) + " " + words("word", 51)),
      // 6: one stop kind only
      (6L, words("the", 30) + " " + words("word", 30)),
      // 7: ellipsis forms: one '...' and one '…' → n_symbols = 2
      (7L, "a... b… " + words("word", 58)))
      .toDF("doc_id", "text")
    val out = TextOps.gopherRules(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), s"doc1 ${out(1L)}")
    assert(!out(2L).getAs[Boolean]("r_word_count") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("r_alpha") && out(3L).getAs[Boolean]("r_word_len"),
      s"doc3 ${out(3L)}")
    assert(out(4L).getAs[Long]("n_symbols") == 6L && out(4L).getAs[Boolean]("r_symbol"))
    assert(out(5L).getAs[Long]("n_symbols") == 7L && !out(5L).getAs[Boolean]("r_symbol"))
    assert(out(6L).getAs[Long]("n_stop_kinds") == 1L && !out(6L).getAs[Boolean]("r_stopwords"))
    assert(out(7L).getAs[Long]("n_symbols") == 2L, s"doc7 ${out(7L)}")
    // 50-word floor is inclusive
    val atFloor = TextOps.gopherRules(
      Seq((8L, "the and " + words("word", 48))).toDF("doc_id", "text"),
      "doc_id", "text").head()
    assert(atFloor.getAs[Long]("n_words") == 50L && atFloor.getAs[Boolean]("r_word_count"))
  }

  test("lmQualityBuckets tiers by value thresholds that agree with a reference split") {
    import spark.implicits._
    // doc i: (10−i) common words + i unique words → score strictly
    // decreases with i (unique words are rarer); two languages so
    // thresholds are per-lang; docs 20/21 are exact ties; doc 99 empty
    val docs = ((1 to 9).map { i =>
      (i.toLong, (Seq.fill(10 - i)("common") ++ (1 to i).map(j => s"u${i}x$j")).mkString(" "), "en")
    } ++ Seq(
      (20L, "tie tie common", "fr"), (21L, "tie tie common", "fr"),
      (22L, "common common common", "fr"), (23L, "zq1 zq2 zq3", "fr"),
      (99L, "   ", "en")))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.lmQualityBuckets(docs, "doc_id", "text", "lang", 1L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), r.getAs[Double]("logprob"), r.getAs[String]("bucket")))).toMap
    // empty doc carries no score; everything else present exactly once
    assert(!out.contains(99L) && out.size == 13)
    // reference split: recompute thresholds from e34's scores per lang
    val scores = TextOps.unigramLogProb(docs, "doc_id", "text", 1L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logprob")).toMap
    for (lang <- Seq("en", "fr")) {
      val ids = out.collect { case (id, (l, _, _)) if l == lang => id }.toSeq
      val lps = ids.map(id => math.round(scores(id) * 10000)).sortBy(-_)
      val n = lps.length
      val tHead = lps(math.max((n + 2) / 3 - 1, 0))
      val tMid = lps(math.max((2 * n + 2) / 3 - 1, 0))
      for (id <- ids) {
        val lp = math.round(scores(id) * 10000)
        val expect = if (lp >= tHead) "head" else if (lp >= tMid) "middle" else "tail"
        assert(out(id)._3 == expect, s"doc $id lang $lang lp $lp: ${out(id)} vs $expect")
        assert(out(id)._2 == scores(id), s"doc $id logprob drifted from e34")
      }
    }
    // exact ties land in the same bucket
    assert(out(20L)._3 == out(21L)._3)
  }

  test("ngramFrequency counts bigram totals and doc frequency with pruning") {
    val d = Seq(
      (1L, "a b a b", "en", "s"),   // bigrams: "a b", "b a", "a b"
      (2L, "a b c", "en", "s"),     // bigrams: "a b", "b c"
      (3L, "solo", "en", "s"),      // one word -> no bigrams
      (4L, null.asInstanceOf[String], "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.ngramFrequency(d, "doc_id", "text", 2, 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a b") == (3L, 2L)) // 3 occurrences across 2 docs
    assert(out("b a") == (1L, 1L) && out("b c") == (1L, 1L))
    assert(out.size == 3)
    // pruning keeps only the repeated merge candidate - the BPE use
    assert(TextOps.ngramFrequency(d, "doc_id", "text", 2, 2L)
      .collect().map(_.getString(0)).toSeq == Seq("a b"))
  }

  test("bpePairCounts weights char pairs by word frequency, sentinel included") {
    // corpus: "low low lower" → low×2, lower×1. Symbols get '_'
    // appended: low_ pairs lo,ow,w_ (×2); lower_ pairs lo,ow,we,er,r_.
    val d = Seq((1L, "low low"), (2L, "lower")).toDF("doc_id", "text")
    val out = TextOps.bpePairCounts(d, "doc_id", "text", 1L)
      .collect().map(r => r.getAs[String]("pair") ->
        ((r.getAs[Long]("pair_count"), r.getAs[Long]("rank")))).toMap
    assert(out("lo")._1 == 3L && out("ow")._1 == 3L)
    assert(out("w_")._1 == 2L)
    assert(out("we")._1 == 1L && out("er")._1 == 1L && out("r_")._1 == 1L)
    // rank 1 is the first BPE merge: ties on count=3 break lexically
    assert(out("lo")._2 == 1L && out("ow")._2 == 2L && out("w_")._2 == 3L)
    // overlapping pairs in one word each count ("aaa" → aa twice + a_)
    val rep = TextOps.bpePairCounts(
        Seq((1L, "aaa")).toDF("doc_id", "text"), "doc_id", "text", 1L)
      .collect().map(r => r.getAs[String]("pair") -> r.getAs[Long]("pair_count")).toMap
    assert(rep == Map("aa" -> 2L, "a_" -> 1L), s"got $rep")
    // minCount prunes singletons before the rank
    val pruned = TextOps.bpePairCounts(d, "doc_id", "text", 2L)
      .collect().map(_.getAs[String]("pair")).toSet
    assert(pruned == Set("lo", "ow", "w_"))
  }

  test("bpeMergeLoop matches an independent scalar BPE trainer round for round") {
    // scalar reference: explicit greedy left-to-right merge over
    // symbol VECTORS (not the string-replace trick the operator uses)
    def refBpe(words: Seq[(String, Long)], n: Int,
               minCount: Long): Seq[(Long, String, Long)] = {
      var vocab = words.map { case (w, c) =>
        (w.map(_.toString).toVector :+ "_") -> c }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      var r = 0
      var stop = false
      while (r < n && !stop) {
        r += 1
        val pc = scala.collection.mutable.Map.empty[String, Long]
        for ((syms, c) <- vocab; i <- 0 until syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          pc(p) = pc.getOrElse(p, 0L) + c
        }
        val cands = pc.filter(_._2 >= minCount)
        if (cands.isEmpty) stop = true
        else {
          val (pair, cnt) = cands.minBy { case (p, c) => (-c, p) }
          out += ((r.toLong, pair, cnt))
          val (x, y) = mergePair(pair)
          vocab = vocab.map { case (syms, c) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
                b += (x + y); i += 2
              } else { b += syms(i); i += 1 }
            }
            b.result() -> c
          }
        }
      }
      out.toSeq
    }
    // the Sennrich corpus shape + adjacent-overlap words: "aaaaa"
    // (a 5-run of one symbol) and "ababababab" (which becomes a 5-run
    // of "ab" after the first merge) are the cases where a naive
    // double-replace diverges from greedy — pass 1 consumes the
    // boundary space of site (3,4) and pairs (1,2),(4,5) instead of
    // greedy's (1,2),(3,4); the doubled-space rewrite must match the
    // scalar trainer on them (the round-10 ADVICE regression)
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest widest widest widest"),
      (4L, "aaaa aaaa aaa ababab"),
      (5L, "aaaaa aaaaa ababababab ababababab aaaaaaa"))
    val df = corpus.toDF("doc_id", "text")
    val wordFreq = corpus.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }.toSeq
    for (nMerges <- Seq(3, 8, 12); minCount <- Seq(1L, 3L)) {
      val expected = refBpe(wordFreq, nMerges, minCount)
      val got = TextOps.bpeMergeLoop(df, "doc_id", "text", nMerges, minCount)
        .orderBy("merge_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == expected, s"n=$nMerges minCount=$minCount:\n$got\nvs\n$expected")
    }
    // early stop: an impossible threshold yields an empty merge table
    assert(TextOps.bpeMergeLoop(df, "doc_id", "text", 5, 1000L).count() == 0)

    // e63: per-doc token counts under the trained tokenizer must
    // equal the scalar trainer's final segmentation applied word by
    // word (same corpus incl. the 5-run adversaries)
    def refTokenCounts(n: Int, minCount: Long): Map[Long, (Long, Long)] = {
      // replay refBpe's vocab evolution to get each word's final
      // symbol count (symbols include the '_' marker unless merged)
      var vocab = wordFreq.map { case (w, _) =>
        w -> (w.map(_.toString).toVector :+ "_") }.toMap
      val merges = refBpe(wordFreq, n, minCount)
      for ((_, pair, _) <- merges) {
        val (x, y) = mergePair(pair)
        vocab = vocab.map { case (w, syms) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
              b += (x + y); i += 2
            } else { b += syms(i); i += 1 }
          }
          w -> b.result()
        }
      }
      corpus.map { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        id -> (ws.map(w => vocab(w).length.toLong).sum, ws.length.toLong)
      }.toMap
    }
    val expect63 = refTokenCounts(8, 1L)
    val got63 = TextOps.bpeTokenCounts(df, "doc_id", "text", 8, 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got63 == expect63, s"e63 drifted:\n$got63\nvs\n$expect63")
  }

  test("tfidfTopK ranks distinctive terms above ubiquitous ones") {
    val d = Seq(
      (1L, "common zebra zebra zebra", "en", "s"),
      (2L, "common yak", "en", "s"),
      (3L, "common wolf wolf", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.tfidfTopK(d, "doc_id", "text", 2)
    val top1 = out.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' appears in all docs -> idf = ln(1) = 0; distinctive term wins
    assert(top1 == Map(1L -> "zebra", 2L -> "yak", 3L -> "wolf"))
    val zebra = out.filter(col("doc_id") === 1 && col("token") === "zebra").head()
    assert(zebra.getAs[Long]("tf") == 3 && zebra.getAs[Long]("df") == 1)
    assert(zebra.getAs[Double]("tfidf") == math.floor(3 * math.log(3.0) * 10000 + 0.5) / 10000)
  }

  test("redact masks emails, urls, and digit runs") {
    val d = Seq(
      (1L, "contact Bob.Smith+x@exa-mple.org or visit https://ex.com/a?b=1 ref 123456", "en", "s"),
      (2L, "short 123 stays, 1234 goes", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.redact(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact <EMAIL> or visit <URL> ref <NUM>")
    assert(out(2L) == "short 123 stays, <NUM> goes")
  }

  test("sentiment scores lexicon-marked docs") {
    val d = Seq(
      (1L, "this is a good great amazing wonderful product i love it", "en", "s"),
      (2L, "terrible awful bad experience the worst i hate it", "en", "s"),
      (3L, "the report covers quarterly numbers and dates", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.sentiment(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out == Map(1L -> "positive", 2L -> "negative", 3L -> "neutral"))
  }

  test("langId distinguishes stopword-marked languages") {
    val out = TextOps.langId(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "es")
  }

  test("bruteForceTopK returns true nearest neighbors in rank order") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // ranks are 1..5 and cosine non-increasing per query
    val perQuery = out.orderBy("query_id", "rank").collect().groupBy(_.getAs[Long]("query_id"))
    perQuery.values.foreach { rows =>
      val cosines = rows.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines == cosines.sorted.reverse)
      assert(rows.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("cosineDupPairsLsh: perfect precision, bounded recall vs all-pairs") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val got = Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding", 16, 8, 0.25)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact all-pairs reference on the small slice
    val pre = emb.select(col("vec_id"), col("embedding"))
    val all = pre.as("a").crossJoin(pre.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        round(graft.functions.cosineSim(col("a.embedding"), col("b.embedding")), 4).as("c"))
      .filter(col("c") >= 0.25)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision 1.0: every emitted pair is a true pair with the exact score
    got.foreach { case (k, c) => assert(all.get(k).contains(c), s"false positive $k") }
    // blocking only limits recall, and 8 bands of 2 bits catch most
    if (all.nonEmpty) {
      val recall = got.keySet.intersect(all.keySet).size.toDouble / all.size
      assert(recall >= 0.5, s"LSH-blocked recall too low: $recall (${all.size} true pairs)")
    }
  }

  test("per-band plane signatures equal the folded 64-bit signature's slices") {
    // round 6 moved banding from one folded long (bands×bits ≤ 64) to
    // one PlaneSignature per band; wherever the folded form exists the
    // keys must be bit-identical, or every historical banding result
    // (and the oracle SQL's direct per-band aggregation) would shift
    val emb = Tables.embeddings(spark, sf).limit(50)
    val (numPlanes, bands) = (64, 8)
    val per = numPlanes / bands
    val dim = 64
    val planes = Similarity.planeMatrix(numPlanes, dim)
    val folded = graft.functions.VectorExpressions.planeSignature(col("embedding"), planes)
    val cols = (0 until bands).map { b =>
      graft.functions.VectorExpressions.planeSignature(col("embedding"),
        planes.slice(b * per, (b + 1) * per)).as(s"k$b")
    }
    val rows = emb.select((col("vec_id") +: folded.as("sig") +: cols): _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sig = r.getAs[Long]("sig")
      for (b <- 0 until bands) {
        val want = (sig >> (b * per)) & ((1L << per) - 1L)
        assert(r.getAs[Long](s"k$b") == want,
          s"vec ${r.get(0)} band $b: per-band key != folded slice")
      }
    }
  }

  test("cosineDupPairsLsh at 12 bits/band (past the old 64-bit cap) finds exact dups") {
    // 96 planes / 8 bands was IMPOSSIBLE with the folded signature
    // (8×12 > 64). Exact duplicates hash identically in every band at
    // any width, so they must all surface as candidates and survive
    // the cosine filter with cosine 1.0; precision stays exact.
    val base = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding"))
    val shifted = base.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val emb = base.unionAll(shifted)
    val got = Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding", 96, 8, 0.999)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ids = base.select("vec_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(got.contains((id, id + 100000L)), s"exact dup pair for $id missed")
    }
    // precision: every emitted pair truly clears the threshold
    got.values.foreach(c => assert(c >= 0.999))
  }

  test("hardNegativesLsh excludes same-label and null-label neighbors, ranks by cosine") {
    import spark.implicits._
    def vec(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // near-identical directions → identical band signatures (all
    // candidates collide, so LSH recall cannot blur the assertion)
    val emb = Seq(
      (1L, vec(0), Some("A")),   // anchor
      (2L, vec(2), Some("A")),   // nearest overall but same label → excluded
      (3L, vec(4), Some("B")),   // hard negative rank 1
      (6L, vec(8), Some("B")),   // hard negative rank 2
      (5L, vec(1), None)         // null label → excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegativesLsh(emb, emb.filter(col("vec_id") === 1L),
      "vec_id", "embedding", "label", 16, 4, 5).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 6L), s"got ${out.toSeq}")
    assert(out.forall(r => r.getAs[String]("neighbor_label") != r.getAs[String]("query_label")))
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))
    assert(out.head.getAs[Double]("cosine") > out.last.getAs[Double]("cosine"))
    // on real embeddings: every mined negative differs in label and
    // sits inside the e7 candidate relation (same banding params)
    val realEmb = Tables.embeddings(spark, sf)
    val mined = Similarity.hardNegativesLsh(realEmb,
      realEmb.filter(col("vec_id") < 5), "vec_id", "embedding", "label", 16, 4, 5)
      .collect()
    assert(mined.nonEmpty)
    assert(mined.forall(r =>
      r.get(r.fieldIndex("neighbor_label")) != r.get(r.fieldIndex("query_label"))))
  }

  test("annLshTopK achieves reasonable recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLshTopK(emb, queries, "vec_id", "embedding", 16, 4, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall") // 4 bands of 4 bits on random vectors
  }

  test("cosineDupPairs maxBlockSize guard fails fast naming the oversized block") {
    val emb = (1L to 30L).map(i => (i, Array(i.toFloat, 1.0f), if (i <= 25) "big" else "ok"))
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineDupPairs(emb, "vec_id", "embedding", "label", 0.25,
        maxBlockSize = Some(10L))
    }
    assert(ex.getMessage.contains("big=25") &&
      ex.getMessage.contains("cosineDupPairsLsh"), ex.getMessage)
    // under the cap: identical output to the unguarded baseline
    val guarded = Similarity.cosineDupPairs(emb, "vec_id", "embedding", "label", 0.25,
      maxBlockSize = Some(25L)).collect().map(_.toSeq).toSet
    val plain = Similarity.cosineDupPairs(emb, "vec_id", "embedding", "label", 0.25)
      .collect().map(_.toSeq).toSet
    assert(guarded == plain)
  }

  test("ngramContainmentPairs finds the quote-inside-document case Jaccard misses") {
    val short = "the quick brown fox jumps over the lazy dog near the river bank"
    val long = short + " and then a great deal of additional unrelated prose follows " +
      "for many further sentences about engines shuffles partitions and executors " +
      "until the shared fragment is a small minority of the full document text"
    val cdocs = Seq(
      (1L, short, "en", "s1"),
      (2L, long, "en", "s1"),
      (3L, "completely different content about sailing ships and harbors", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val contained = Dedup.ngramContainmentPairs(cdocs, "doc_id", "text",
      Seq("lang", "source"), 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // directed: the short doc is inside the long one, never the reverse
    assert(contained.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"got ${contained.toSeq}")
    assert(contained.head._3 >= 0.95)
    // symmetric Jaccard at its e4 threshold cannot see this pair — the
    // union dilutes it (this is WHY the directed operator exists)
    val j = Dedup.ngramJaccardPairs(cdocs, "doc_id", "text",
      Seq("lang", "source"), 3, 0.6).collect()
    assert(j.isEmpty, s"jaccard unexpectedly paired: ${j.toSeq}")
  }

  test("sourceTokenLift ranks each source's distinctive tokens; two-stage top-k is exact") {
    // source A over-uses "alpha", B over-uses "beta"; "common" is flat
    val docs = Seq(
      (1L, "alpha alpha alpha alpha alpha common common common", "A"),
      (2L, "alpha alpha alpha alpha alpha common common common", "A"),
      (3L, "beta beta beta beta beta common common common", "B"),
      (4L, "beta beta beta beta beta common common common", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceTokenLift(docs, "text", "source", 1L, 2)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("token"), r.getAs[Double]("lift")))).toMap
    assert(out(("A", 1L))._1 == "alpha" && out(("B", 1L))._1 == "beta")
    // exact lift check: alpha in A: c_s=10, n_s=16, c_all=10, n_all=32
    // lift = (10*32)/(16*10) = 2.0; common rank-2: (6*32)/(16*12) = 1.0
    assert(out(("A", 1L))._2 == 2.0 && out(("A", 2L))._2 == 1.0)
    // two-stage exactness: the salted partial top-k + final top-k must
    // equal a naive per-source ranking on a bigger random corpus
    val rnd = new scala.util.Random(8L)
    val big = (1 to 400).map { i =>
      val src = s"s${i % 5}"
      val words = (1 to 30).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
      (i.toLong, words, src)
    }.toDF("doc_id", "text", "source")
    val fast = TextOps.sourceTokenLift(big, "text", "source", 2L, 5)
      .select("source", "rank", "token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // naive reference: same candidate set, single global window
    val naive = {
      import org.apache.spark.sql.expressions.Window
      val tok = big.select(col("source"),
        explode(split(graft.functions.normalizeText(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_s"))
      val tot = st.groupBy(col("token")).agg(sum(col("c_s")).as("c_all"))
      val src = st.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
      val all = st.agg(sum(col("c_s")).as("n_all"))
      val cand = st.filter(col("c_s") >= 2).join(tot, Seq("token"))
        .join(src, Seq("source")).crossJoin(all)
        .withColumn("__lift", (col("c_s").cast("double") * col("n_all")) /
          (col("n_s").cast("double") * col("c_all")))
      cand.withColumn("rank", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("__lift").desc, col("token"))))
        .filter(col("rank") <= 5)
        .select("source", "rank", "token").collect()
        .map(r => (r.getString(0), r.getInt(1).toLong, r.getString(2))).toSet
    }
    assert(fast == naive, "salt-bucketed top-k must equal the naive ranking")
  }

  test("annRecall agrees with recall computed from the engine's own exact and LSH rankings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = topk(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val approx = topk(Similarity.annLshTopK(emb, queries, "vec_id", "embedding", 16, 4, 5))
    val out = Similarity.annRecall(emb, queries, "vec_id", "embedding", 16, 4, 5)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_matched"), r.getAs[Double]("recall"))))
      .toMap
    assert(out.keySet == exact.keySet, "one recall row per query")
    out.foreach { case (q, (nExact, nMatched, recall)) =>
      assert(nExact == exact(q).size.toLong)
      assert(nMatched == (exact(q) & approx.getOrElse(q, Set.empty)).size.toLong)
      assert(recall == BigDecimal(nMatched.toDouble / nExact)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("annIvfTopK achieves reasonable recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.vector.Cluster.annIvfTopK(emb, queries, "vec_id", "embedding", 8, 2, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    assert(approx.size == exact.size) // full top-k emitted per query
  }

  test("pqAnnTopK: recall vs brute force, lossless case exact, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    // the e41-style recall gate: 8 subspaces × 16 codewords on real
    // 64-dim embeddings — PQ at this budget must recover a solid
    // majority of true neighbors
    val approx = pairs(graft.vector.Cluster.pqAnnTopK(emb, queries,
      "vec_id", "embedding", 16, 16, 2, 5, 50))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
    assert(approx.size == exact.size) // full top-k emitted per query
    // deterministic: codebooks are seeded + 1e-6-rounded, so a re-run
    // is identical
    val again = pairs(graft.vector.Cluster.pqAnnTopK(emb, queries,
      "vec_id", "embedding", 16, 16, 2, 5, 50))
    assert(again == approx)
    // lossless property: a corpus whose per-subspace distinct
    // subvector count <= ksub reconstructs exactly, so PQ == brute
    // force including the cosine values (dims 4, m=2, 3 distinct
    // subvectors per subspace, ksub=8)
    import spark.implicits._
    val small = Seq(
      (0L, Seq(1.0f, 0.0f, 0.5f, 0.5f)),
      (1L, Seq(0.0f, 1.0f, 0.5f, 0.5f)),
      (2L, Seq(1.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Seq(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val sq = small.filter(col("vec_id") < 2)
    val pqSmall = graft.vector.Cluster.pqAnnTopK(small, sq,
        "vec_id", "embedding", 2, 8, 3, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val bfSmall = Similarity.bruteForceTopK(small, sq, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(pqSmall == bfSmall, s"lossless PQ drifted: $pqSmall vs $bfSmall")
  }

  test("ivfPqAnnTopK: recall >= plain PQ at equal rerank, lossless case exact") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val pq = pairs(graft.vector.Cluster.pqAnnTopK(emb, queries,
      "vec_id", "embedding", 16, 16, 2, 5, 50))
    // the verdict's e62 gate: residual encoding + 5-of-8 cell probing
    // must recover at least plain PQ's recall at the SAME rerank depth
    // (the finer residual quantization pays for the cells not probed;
    // on this 500-vector corpus the cells are ~60 rows each, so the
    // probe fraction is generous — at production cell counts nprobe/k
    // shrinks toward 1-2% while per-cell candidate quality holds)
    val ivfpq = pairs(graft.vector.Cluster.ivfPqAnnTopK(emb, queries,
      "vec_id", "embedding", 8, 2, 5, 16, 16, 2, 5, 50))
    val rPq = (exact & pq).size.toDouble / exact.size
    val rIvf = (exact & ivfpq).size.toDouble / exact.size
    assert(rIvf >= rPq, s"IVF-PQ recall $rIvf below plain PQ's $rPq")
    assert(rIvf >= 0.5, s"IVF-PQ recall $rIvf below the absolute floor")
    assert(ivfpq.size == exact.size) // full top-k emitted per query
    // deterministic: seeded coarse quantizer + seeded codebooks,
    // 1e-6-rounded updates — a re-run is identical
    val again = pairs(graft.vector.Cluster.ivfPqAnnTopK(emb, queries,
      "vec_id", "embedding", 8, 2, 5, 16, 16, 2, 5, 50))
    assert(again == ivfpq)
    // lossless property: probe EVERY cell and give the codebooks
    // enough codewords to store each distinct residual subvector
    // exactly — then reconstruction is lossless, the ADC ranking is
    // the true ranking, and the output EQUALS brute force including
    // the cosine values (dims 4, m=2, 2 cells, ksub=8 >= 5 rows)
    import spark.implicits._
    val small = Seq(
      (0L, Seq(1.0f, 0.0f, 0.5f, 0.5f)),
      (1L, Seq(0.0f, 1.0f, 0.5f, 0.5f)),
      (2L, Seq(1.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Seq(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val sq = small.filter(col("vec_id") < 2)
    val got = graft.vector.Cluster.ivfPqAnnTopK(small, sq,
        "vec_id", "embedding", 2, 2, 2, 2, 8, 3, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val bf = Similarity.bruteForceTopK(small, sq, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == bf, s"lossless IVF-PQ drifted: $got vs $bf")
  }

  test("hot-cell guard fails fast on a degenerate one-cell clustering") {
    import spark.implicits._
    // every vector identical -> all corpus rows land in one cell
    // (argmin ties resolve to the lowest cluster id): without the
    // guard, cell probing silently degrades to a brute-force scan
    val degenerate = (0L until 40L).map(i => (i, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val q = degenerate.filter(col("vec_id") < 2)
    val err = intercept[IllegalArgumentException] {
      graft.vector.Cluster.ivfPqAnnTopK(degenerate, q, "vec_id", "embedding",
        4, 1, 2, 2, 4, 1, 3, 5, None, maxCellSize = Some(10L))
    }
    assert(err.getMessage.contains("maxCellSize"), err.getMessage)
    assert(err.getMessage.contains("ivfPqAnnTopK"), err.getMessage)
    val err2 = intercept[IllegalArgumentException] {
      graft.vector.Cluster.annIvfTopK(degenerate, q, "vec_id", "embedding",
        4, 1, 2, 5, maxCellSize = Some(10L))
    }
    assert(err2.getMessage.contains("maxCellSize"), err2.getMessage)
    // the same corpora pass untouched under a generous cap
    assert(graft.vector.Cluster.annIvfTopK(degenerate, q, "vec_id", "embedding",
      4, 1, 2, 5, maxCellSize = Some(100L)).count() > 0)
  }

  test("kmeans centroids partition the corpus deterministically") {
    val emb = Tables.embeddings(spark, sf)
    val cents = graft.vector.Cluster.fitCentroids(emb, "vec_id", "embedding", 4, 2)
    assert(cents.count() == 4)
    val a1 = graft.vector.Cluster.assign(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = graft.vector.Cluster.assign(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 == a2)
    assert(a1.values.toSet.size > 1, "degenerate clustering")
  }

  test("fitCentroids equals a plain Lloyd replay on parquet embeddings; no vectors, no centroids") {
    val emb = Tables.embeddings(spark, sf)
    val got = graft.vector.Cluster.fitCentroids(emb, "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    // replay: seeds are the 4 smallest (seedHash, id); assignment is the
    // ascending-i squared-distance fold with ties to the lowest cluster;
    // each update is the member mean per dim, rounded half-up to 1e-6;
    // a cluster left empty keeps its centroid
    val rows = emb.filter(col("embedding").isNotNull).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val p = 1000000007L
    def seedHash(id: Long) = ((id % p) * 654435747L) % p
    def dist(v: Array[Double], c: Array[Double]) = {
      var d = 0.0; var i = 0
      while (i < math.min(v.length, c.length)) { val t = v(i) - c(i); d += t * t; i += 1 }
      d
    }
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents = rows.sortBy { case (id, _) => (seedHash(id), id) }.take(4).map(_._2)
    for (_ <- 1 to 3) {
      val members = rows.map(_._2).groupBy(v => cents.indices.minBy(c => dist(v, cents(c))))
      cents = cents.indices.map { c =>
        members.get(c).fold(cents(c)) { vs =>
          Array.tabulate(vs.head.length)(i => round6(vs.map(_(i)).sum / vs.length))
        }
      }.toArray
    }
    assert(got.map(_._1).toSeq == (0 until 4))
    assert(got.map(_._2) sameElements cents.map(_.toSeq), s"got ${got.toSeq}")
    assert(graft.vector.Cluster.fitCentroids(emb.filter(lit(false)),
      "vec_id", "embedding", 4, 3).count() == 0)
  }

  test("hardNegativesLsh over distinct non-null labels is annLshTopK plus the labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hardneg").toString + "/emb"
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"),
      concat(lit("L"), col("vec_id")).as("label")).write.parquet(dir)
    val emb = graft.sources.Sources.readParquet(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val mined = Similarity.hardNegativesLsh(emb, queries, "vec_id", "embedding", "label", 16, 4, 5)
    assert(mined.columns.toSeq ==
      Seq("query_id", "query_label", "neighbor_id", "neighbor_label", "cosine", "rank"))
    val labelled = Similarity.annLshTopK(emb, queries, "vec_id", "embedding", 16, 4, 5)
      .select(col("query_id"), concat(lit("L"), col("query_id")).as("query_label"),
        col("neighbor_id"), concat(lit("L"), col("neighbor_id")).as("neighbor_label"),
        col("cosine"), col("rank"))
    assert(mined.count() > 0)
    assert(mined.exceptAll(labelled).isEmpty && labelled.exceptAll(mined).isEmpty)
  }

  test("cosineDupPairs is symmetric-free and above threshold") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.cosineDupPairs(emb, "vec_id", "embedding", "label", 0.25).collect()
    assert(out.forall(r => r.getAs[Double]("cosine") >= 0.25))
    assert(out.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("contaminationPairs flags planted benchmark overlap and nothing else") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different benchmark question about astronomy and physics")
    ).toDF("doc_id", "text")
    val train = Seq(
      // contains bench doc 1's phrase verbatim -> many shared 5-grams
      (100L, "noise prefix the quick brown fox jumps over the lazy dog tonight noise suffix"),
      // shares fewer than minShared grams with anything
      (101L, "an entirely unrelated training document about cooking pasta"),
      // shares with doc 2
      (102L, "completely different benchmark question about astronomy and physics indeed")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(train, bench, "doc_id", "text", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((100L, 1L), (102L, 2L)))
    // "the quick brown fox jumps over the lazy dog tonight" = 10 words ->
    // 6 distinct 5-grams, all present in train doc 100
    assert(out((100L, 1L)) == 6L)
    assert(out((102L, 2L)) >= 3L)
  }

  test("packSequences bins are the running-offset quotient per group") {
    val docs = Seq(
      (1L, "g1", "a b c"), (2L, "g1", "d e f g"), (3L, "g1", "h i"),
      (4L, "g2", ""), (5L, "g2", "one two three four five")
    ).toDF("doc_id", "source", "text")
    val out = graft.text.TextOps.packSequences(docs, "doc_id", "text", "source", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // g1: tokens 3,4,2 -> offsets 0,3,7 -> bins 0,0,1 at budget 4
    assert(out(1L) == ((3L, 0L, 0L, 0L)))
    assert(out(2L) == ((4L, 3L, 0L, 3L)))
    assert(out(3L) == ((2L, 7L, 1L, 3L)))
    // g2: empty doc = 0 tokens; offsets stay dense
    assert(out(4L) == ((0L, 0L, 0L, 0L)))
    assert(out(5L) == ((5L, 0L, 0L, 0L)))
  }

  test("applyBpeMerges: persisted-artifact inference equals training segmentation; unseen words greedy") {
    // train on corpus A, persist via the versioned store, encode
    // corpus B (overlapping + UNSEEN words) — the scalar application
    // of the same merges is the truth
    val trainDocs = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest widest widest widest aaaaa aaaaa")
    ).toDF("doc_id", "text")
    val applyDocs = Seq(
      (10L, "low lower newest"),      // all seen
      (11L, "lowest wideness aaaaaa") // unseen: segment by the merges greedily
    ).toDF("doc_id", "text")
    val table = java.nio.file.Files.createTempDirectory("graft_tok").toString + "/t"
    graft.sources.Sources.appendVersion(
      TextOps.bpeMergeLoop(trainDocs, "doc_id", "text", 8, 1L), spark, table)
    val merges = graft.sources.Sources.readVersion(spark, table, 1L)
      .orderBy("merge_rank").collect().map(_.getString(1)).toSeq
    assert(merges.nonEmpty)
    val got = TextOps.applyBpeMerges(applyDocs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // scalar truth: greedy left-to-right application per merge round
    def encode(word: String): Long = {
      var syms = word.map(_.toString).toVector :+ "_"
      for (pair <- merges) {
        val (x, y) = mergePair(pair)
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
            b += (x + y); i += 2
          } else { b += syms(i); i += 1 }
        }
        syms = b.result()
      }
      syms.length.toLong
    }
    val expect = Map(
      10L -> (Seq("low", "lower", "newest").map(encode).sum, 3L),
      11L -> (Seq("lowest", "wideness", "aaaaaa").map(encode).sum, 3L))
    assert(got == expect, s"$got vs $expect")
    // seen-word invariance: applying to the training corpus equals
    // the training-time accounting (e63)
    val direct = TextOps.bpeTokenCounts(trainDocs, "doc_id", "text", 8, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val applied = TextOps.applyBpeMerges(trainDocs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(applied == direct)
  }

  test("packSequencesByCount packs by the supplied counts; e64 matches BPE accounting") {
    // caller-supplied counts replace the whitespace proxy verbatim
    val counted = Seq(
      (1L, "g1", 3L), (2L, "g1", 4L), (3L, "g1", 2L), (5L, "g2", 5L)
    ).toDF("doc_id", "source", "n")
    val out = graft.text.TextOps.packSequencesByCount(counted, "doc_id", "n", "source", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((3L, 0L, 0L, 0L)))
    assert(out(2L) == ((4L, 3L, 0L, 3L)))
    assert(out(3L) == ((2L, 7L, 1L, 3L)))
    assert(out(5L) == ((5L, 0L, 0L, 0L)))
    // composition: the packed `tokens` column IS e63's n_tokens
    val docs = Seq(
      (1L, "g1", "low low lower"), (2L, "g1", "newest widest"),
      (3L, "g2", "low newest")
    ).toDF("doc_id", "source", "text")
    val counts = graft.text.TextOps.bpeTokenCounts(docs, "doc_id", "text", 4, 1L)
    val packed = graft.text.TextOps.packSequencesByCount(
        counts.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", "n_tokens", "source", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expect = counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed == expect, s"$packed vs $expect")
  }

  test("repetitionStats computes exact word/bigram repetition fractions") {
    val docs = Seq(
      (1L, "a a a b"),  // topw 3/4, dup (4-2)/4, top bigram "a a" 2/3
      (2L, "x y"),      // no repetition; single bigram
      (3L, "")          // empty doc keeps a zeroed row
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_words") == 4 && out(1L).getAs[Long]("n_distinct") == 2)
    assert(out(1L).getAs[Double]("top_word_frac") == 0.75)
    assert(out(1L).getAs[Double]("dup_word_frac") == 0.5)
    assert(out(1L).getAs[Double]("top_bigram_frac") == 0.6667) // 2/3 half-up e4
    assert(out(2L).getAs[Double]("top_word_frac") == 0.5)
    assert(out(2L).getAs[Double]("dup_word_frac") == 0.0)
    assert(out(2L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(3L).getAs[Long]("n_words") == 0)
    assert(out(3L).getAs[Double]("top_word_frac") == 0.0)
  }

  test("chunkText emits overlapping chunks and suppresses subsumed tails") {
    val words11 = (1 to 11).map(i => s"w$i").mkString(" ")
    val words12 = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words11), (2L, words12), (3L, "")).toDF("doc_id", "text")
    // size 5, overlap 2 -> stride 3
    val out = graft.text.TextOps.chunkText(docs, "doc_id", "text", 5, 2)
      .collect().groupBy(_.getLong(0))
    // 11 words: start 9 would re-cover only the tail the chunk at 6
    // already reached (6+5=11 >= 11) -> suppressed
    val d1 = out(1L).sortBy(_.getAs[Long]("chunk_start"))
    assert(d1.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 3L, 6L))
    assert(d1.last.getAs[String]("chunk_text") == "w7 w8 w9 w10 w11")
    // 12 words: chunk at 9 reaches w12, kept as a short tail
    val d2 = out(2L).sortBy(_.getAs[Long]("chunk_start"))
    assert(d2.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 3L, 6L, 9L))
    assert(d2.last.getAs[Long]("n_tokens") == 3)
    assert(d2.head.getAs[String]("chunk_text") == "w1 w2 w3 w4 w5")
    assert(!out.contains(3L)) // empty doc -> no chunks
  }

  test("materializePacked concatenates bins in id order with exact counts") {
    val docs = Seq(
      (1L, "g1", "a b c"), (2L, "g1", "d e f g"), (3L, "g1", "h i"),
      (4L, "g2", ""),      // zero-token doc: excluded, moves no offset
      (5L, "g2", "one two")
    ).toDF("doc_id", "source", "text")
    // budget 4: g1 offsets 0,3,7 -> bins 0,0,1
    val out = graft.text.TextOps.materializePacked(docs, "doc_id", "text", "source", 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out(("g1", 0L)).getAs[String]("packed_text") == "a b c d e f g")
    assert(out(("g1", 0L)).getAs[Long]("n_docs") == 2)
    assert(out(("g1", 0L)).getAs[Long]("n_tokens") == 7)
    assert(out(("g1", 1L)).getAs[String]("packed_text") == "h i")
    assert(out(("g2", 0L)).getAs[String]("packed_text") == "one two")
    assert(out.size == 3)
  }

  test("autoPlanes widens LSH bands with corpus size, unbounded by 64/bands") {
    // the driver-gate config (16 planes, 8 bands) at every tested SF <= 0.1
    assert(Similarity.autoPlanes(200, 8) == 16)
    assert(Similarity.autoPlanes(2000, 8) == 16)
    // sf1: 6 bits/band restores linear candidate growth (BASELINE.md)
    assert(Similarity.autoPlanes(20000, 8) == 48)
    // sf10 (200k vectors): 9 bits/band — PAST the old shared-signature
    // cap of 8, which saturated here and let bucket occupancy grow
    assert(Similarity.autoPlanes(200000, 8) == 72)
    // 2^40 vectors: 32 bits/band, still far under the 62-bit key bound
    assert(Similarity.autoPlanes(1L << 40, 8) == 8 * 32)
  }

  test("incrementalExactDedup drops seen and in-batch duplicates, keeps min-id attrs") {
    val seen = Seq((1L, "Hello, World!", "en", "s1"), (2L, "bbb", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (13L, "hello   world", "en", "s2"), // normalizes to a SEEN text → dropped
      (11L, "ccc", "fr", "s2"),
      (12L, "CCC!", "es", "s3"),          // in-batch dup of 11 → 11's attrs win
      (14L, "ddd", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.incrementalExactDedup(batch, seen, "doc_id", "text", Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"))
      .as[(Long, String, String)].collect().toSet
    assert(out == Set((11L, "fr", "s2"), (14L, "en", "s2")))
  }

  test("bloomPrefilterDedup ≡ incrementalExactDedup, including nulls (e45)") {
    val seen = Seq((1L, Some("Hello, World!"), "en", "s1"),
      (2L, Some("bbb"), "de", "s1"), (3L, None: Option[String], "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (13L, Some("hello   world"), "en", "s2"), // seen after normalize → dropped
      (11L, Some("ccc"), "fr", "s2"),
      (12L, Some("CCC!"), "es", "s3"),          // in-batch dup of 11
      (14L, Some("ddd"), "en", "s2"),
      (15L, None: Option[String], "en", "s2")   // null text: provably-unseen path
    ).toDF("doc_id", "text", "lang", "source")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("text_hash"), col("doc_id"), col("lang"), col("source"))
      .as[(Option[String], Long, String, String)].collect().toSet
    val exact = rows(Dedup.incrementalExactDedup(batch, seen,
      "doc_id", "text", Seq("lang", "source")))
    // deliberately undersized filter (expected 1 vs 3 seen): fpp rises,
    // output must not change — the filter only prunes the exact path
    for (expected <- Seq(1L, 1000L)) {
      val bloom = rows(Dedup.bloomPrefilterDedup(batch, seen,
        "doc_id", "text", Seq("lang", "source"), expected))
      assert(bloom == exact, s"diverged at expectedSeen=$expected")
    }
    assert(exact.map(_._2) == Set(11L, 14L, 15L))
  }

  test("bloomFilterFor has no false negatives over the seen corpus") {
    val seen = (0 until 500).map(i => (i.toLong, s"doc text number $i"))
      .toDF("doc_id", "text")
    val bf = Dedup.bloomFilterFor(seen, "text", 500L)
    val keys = seen.select(xxhash64(graft.functions.normalizeText(col("text"))))
      .as[Long].collect()
    assert(keys.forall(bf.mightContainLong), "a seen key probed false")
    // and it actually filters: unseen keys mostly miss at 1% fpp
    val misses = (100000 until 101000)
      .count(i => !bf.mightContainLong(i.toLong * 2654435761L))
    assert(misses > 900, s"filter passes too much: only $misses/1000 pruned")
  }

  test("bloomFilterFor round-trips through writeTo/readFrom and OR-merges per epoch (e45)") {
    val part1 = (0 until 300).map(i => (i.toLong, s"epoch one doc $i")).toDF("doc_id", "text")
    val part2 = (300 until 500).map(i => (i.toLong, s"epoch two doc $i")).toDF("doc_id", "text")
    val whole = part1.unionByName(part2)
    val keys = whole.select(xxhash64(graft.functions.normalizeText(col("text"))))
      .as[Long].collect()
    // the persistable per-epoch artifact: serialize -> reload -> same probes
    val bf = Dedup.bloomFilterFor(whole, "text", 500L)
    val f = java.io.File.createTempFile("graft_bf", ".bin")
    val os = new java.io.FileOutputStream(f)
    try bf.writeTo(os) finally os.close()
    val is = new java.io.FileInputStream(f)
    val reloaded = try org.apache.spark.util.sketch.BloomFilter.readFrom(is) finally is.close()
    f.delete()
    assert(keys.forall(reloaded.mightContainLong), "reloaded filter lost a key")
    // incremental maintenance: building per epoch and OR-merging equals
    // one whole-corpus build (same expectedItems -> same bit layout)
    val merged = Dedup.bloomFilterFor(part1, "text", 500L)
      .mergeInPlace(Dedup.bloomFilterFor(part2, "text", 500L))
    assert(keys.forall(merged.mightContainLong), "merged filter lost a key")
    val probes = (1000000 until 1002000).map(i => i.toLong * 2654435761L)
    assert(probes.forall(k => merged.mightContainLong(k) == bf.mightContainLong(k)),
      "per-epoch OR-merge diverged from the whole-corpus build")
  }

  test("incrementalMinhashPairs emits batch-vs-seen candidates, nothing internal") {
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark engines at scale today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (12L, "unrelated fresh material nothing shared here at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinhashPairs(batch, seen, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 1L))) // identical text ⇒ every band matches
    assert(pairs.forall { case (b, s) => b >= 10L && s < 10L })
    // parity: exactly the cross-split candidates of the full self-join
    val cross = Dedup.minhashLshPairs(seen.unionByName(batch), "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
      .filter(p => p._1 < 10L && p._2 >= 10L).map(p => (p._2, p._1))
    assert(pairs == cross)
  }

  test("maintained signature table ≡ recompute across two consecutive batches (e39)") {
    // the production loop: probe the persisted band table, admit, append
    // the admitted batch's signatures, probe the grown table with the
    // next batch — at no point is the corpus text re-shingled
    val seen0 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "completely different content about spark engines at scale today")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "unrelated fresh material nothing shared here at all whatsoever")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (21L, "unrelated fresh material nothing shared here at all whatsoever")
    ).toDF("doc_id", "text")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandSignatures(df, "doc_id", "text", 3, 16, 4)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet

    val table0 = sigs(seen0)
    val m1 = pairsOf(Dedup.incrementalMinhashPairsFromTable(
      batch1, table0, "doc_id", "text", 3, 16, 4))
    val r1 = pairsOf(Dedup.incrementalMinhashPairs(
      batch1, seen0, "doc_id", "text", 3, 16, 4))
    assert(m1 == r1, "batch 1: maintained table must equal recompute")
    assert(m1.contains((10L, 100L))) // identical text: every band matches

    val table1 = table0.unionByName(sigs(batch1)) // the append step
    val m2 = pairsOf(Dedup.incrementalMinhashPairsFromTable(
      batch2, table1, "doc_id", "text", 3, 16, 4))
    val r2 = pairsOf(Dedup.incrementalMinhashPairs(
      batch2, seen0.unionByName(batch1), "doc_id", "text", 3, 16, 4))
    assert(m2 == r2, "batch 2 against the grown table must equal recompute")
    assert(m2.contains((21L, 11L)), "batch 2 must see batch 1's appended signatures")
  }

  test("maintained hash table ≡ recompute across two consecutive batches (e40)") {
    // exact-dedup production loop: probe the persisted distinct-hash
    // table, admit, append the admitted rows' text_hash — appends stay
    // distinct by construction (admitted = not-in-table + in-batch min)
    val seen0 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val batch1 = Seq(
      (10L, "The quick brown fox jumps over the lazy dog!", "en", "s2"), // dup of 100 (case/punct)
      (11L, "fresh material one", "en", "s2"),
      (12L, "fresh material one", "en", "s3")) // in-batch dup of 11
      .toDF("doc_id", "text", "lang", "source")
    val batch2 = Seq(
      (20L, "fresh material one", "en", "s4"), // dup of batch-1's admitted 11
      (21L, "fresh material two", "en", "s4"))
      .toDF("doc_id", "text", "lang", "source")
    def admit(batch: org.apache.spark.sql.DataFrame, table: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalExactDedupFromTable(batch, table, "doc_id", "text", Seq("lang", "source"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet

    val table0 = Dedup.seenHashTable(seen0, "text")
    val m1 = admit(batch1, table0)
    val r1 = Dedup.incrementalExactDedup(batch1, seen0, "doc_id", "text", Seq("lang", "source"))
    assert(ids(m1) == Set(11L) && ids(m1) == ids(r1))

    val table1 = table0.unionByName(m1.select($"text_hash")) // the append step
    // the appended table must still be distinct (the contract appends rely on)
    assert(table1.count() == table1.distinct().count())
    val m2 = admit(batch2, table1)
    val r2 = Dedup.incrementalExactDedup(batch2, seen0.unionByName(batch1),
      "doc_id", "text", Seq("lang", "source"))
    assert(ids(m2) == Set(21L), "batch 2 must see batch 1's appended hash")
    assert(ids(m2) == ids(r2), "maintained table must equal recompute")
  }

  test("unigramLogProb scores docs by corpus unigram surprisal with OOV smoothing") {
    val docs = Seq(
      (1L, "a a a b"),   // frequent tokens → high (less negative) score
      (2L, "a b rare")   // 'rare' prunes below minCount → OOV-smoothed
    ).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs, "doc_id", "text", 2L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // vocab: a n=4, b n=2 (total 7 incl. 'rare'); lpq = floor(ln(n/7)*1e6)
    def lpq(p: Double) = math.floor(math.log(p) * 1e6).toLong
    def score(lpqs: Seq[Long]) =
      math.floor(lpqs.sum.toDouble / (100.0 * lpqs.size)) / 10000.0
    val (la, lb, loov) = (lpq(4.0 / 7), lpq(2.0 / 7), lpq(0.5 / 7))
    assert(out(1L) == ((4L, 0L, score(Seq(la, la, la, lb)))))
    assert(out(2L) == ((3L, 1L, score(Seq(la, lb, loov)))))
    assert(out(1L)._3 > out(2L)._3) // fluent-corpus doc outscores the OOV one
  }

  test("minhashEstimatePairs scores exactly e2's candidates; identical docs estimate 1.0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // identical
      (3L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup
      (4L, "completely unrelated text about distributed query engine design")
    ).toDF("doc_id", "text")
    val est = Dedup.minhashEstimatePairs(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_agree"), r.getAs[Double]("est_jaccard")))).toMap
    // candidate set must be exactly e2's (same bands, same prune)
    val e2 = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(est.keySet == e2, s"est=${est.keySet} e2=$e2")
    // identical docs share every minhash → estimate exactly 1.0
    assert(est((1L, 2L)) == ((16L, 1.0)))
    // near-dup estimates strictly below the identical pair, above zero
    est.get((1L, 3L)).foreach { case (n, e) =>
      assert(n < 16L && n > 0L && e < 1.0 && e > 0.0)
    }
    // the estimate is n/16 half-up-e4 for every pair
    est.values.foreach { case (n, e) =>
      assert(e == math.floor((n * 20000.0 + 16) / 32) / 10000.0)
    }
  }

  test("bigramLogProb scores docs by smoothed bigram stats with rare-pair flooring") {
    // corpus bigrams: "a b"×3 (docs 1,1,2), "b a"×1, "a c"×1
    val docs = Seq(
      (1L, "a b a b"),  // pairs: a b, b a, a b
      (2L, "a b"),      // pair: a b
      (3L, "a c")       // pair: a c — rare at minCount 2
    ).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(docs, "doc_id", "text", 2L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // ctx: a→4 ("a b"×3 + "a c"), b→1; V = |{a}| + 1 = 2 (only a ≥ 2)
    // P(b|a) = (3+1)/(4+2); rare "b a": (0+1)/(1+2); rare "a c": (0+1)/(4+2)
    def lpq(p: Double) = math.floor(math.log(p) * 1e6).toLong
    def score(ls: Seq[Long]) =
      math.floor(ls.sum.toDouble / (100.0 * ls.size)) / 10000.0
    val (lab, lba, lac) = (lpq(4.0 / 6), lpq(1.0 / 3), lpq(1.0 / 6))
    assert(out(1L) == ((3L, 1L, score(Seq(lab, lab, lba)))), s"got $out")
    assert(out(2L) == ((1L, 0L, score(Seq(lab)))), s"got $out")
    assert(out(3L) == ((1L, 1L, score(Seq(lac)))), s"got $out")
    // repeated-seen-bigram doc outscores the rare-pair doc
    assert(out(2L)._3 > out(3L)._3)
    // single-word and null docs have no bigrams and no row
    val edge = TextOps.bigramLogProb(
      Seq((1L, "solo"), (2L, null.asInstanceOf[String]), (3L, "x y"))
        .toDF("doc_id", "text"), "doc_id", "text", 1L)
    assert(edge.select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("incrementalNeardupFilter admits only batch docs with no verified corpus near-dup") {
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s1"),
      (2L, "a completely different document describing distributed query engines in depth", "en", "s1"),
      (3L, null.asInstanceOf[String], "en", "s1") // no shingles -> no candidates -> admitted
    ).toDF("doc_id", "text", "lang", "source")
    val seen = Seq(
      // identical text to batch doc 1: every band collides, Jaccard 1.0
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s0"),
      (101L, "an unrelated corpus document mentioning neither foxes nor engines anywhere", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.incrementalNeardupFilter(batch, seen, "doc_id", "text",
      Seq("lang", "source"), 3, 16, 4, 3, 0.6)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "source"))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("semantic dup clusters + canonical keep over embedding near-dups") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), "a"),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f), "a"), // exact dup of 1
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f), "a"), // near-dup of 1 (cos ≈ 0.994)
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f), "b")  // orthogonal: cos 0 < threshold
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineDupPairsLsh(emb, "vec_id", "embedding", 8, 8, 0.45)
    val comp = graft.graph.Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("node").as("vec_id"), col("component"))
      .as[(Long, Long)].collect().toMap
    assert(comp.keySet == Set(1L, 2L, 3L)) // 4 pairs with no one
    assert(comp.values.toSet == Set(1L))   // one cluster, min-id canonical
    val kept = graft.graph.Components.keepCanonical(
      emb.select(col("vec_id"), col("label")), pairs, "vec_id", "id_a", "id_b")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L)) // cluster canonical + untouched singleton
  }

  test("lshRecall: identical eval-set dups are always caught; out-of-sample pairs excluded") {
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val other = Seq(
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet pink brown black white gray")
    val docs = Seq(
      (1L, same), (2L, same),          // J = 1 inside the eval set → banding must propose
      (3L, other(0)), (4L, other(1)),  // unrelated
      (250L, same))                    // dup of 1 but OUTSIDE sampleMax=200
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs, "doc_id", "text", 3, 16, 4, 200L, 0.5).collect().head
    assert(r.getAs[Long]("n_exact") == 1L, s"got $r")
    assert(r.getAs[Long]("n_hit") == 1L, s"got $r")
    assert(r.getAs[Double]("recall") == 1.0, s"got $r")
    assert(r.getAs[Long]("n_candidates") >= 1L)
    // no true pairs in the sample → recall is null, not 0/0
    val none = Dedup.lshRecall(docs.filter($"doc_id" >= 2L && $"doc_id" < 200L),
      "doc_id", "text", 3, 16, 4, 200L, 0.5).collect().head
    assert(none.getAs[Long]("n_exact") == 0L && none.isNullAt(none.fieldIndex("recall")))
    // real corpus: the planted near-dups give a non-degenerate measurement
    val real = Dedup.lshRecall(Tables.documents(spark, sf), "doc_id", "text",
      3, 16, 4, 200L, 0.5).collect().head
    assert(real.getAs[Long]("n_exact") > 0L)
    assert(real.getAs[Long]("n_hit") <= real.getAs[Long]("n_exact"))
    assert(real.getAs[Long]("n_hit") <= real.getAs[Long]("n_candidates"))
    val rec = real.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
  }

  test("crossSourceNeardup attributes verified near-dup pairs to source-pair cells") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val d = Seq(
      (1L, a, "s1"), (2L, a, "s2"),              // identical across feeds → (s1, s2) cell
      (3L, a, "s1"),                              // identical within s1 → diagonal (s1, s1)
      (4L, "one two three four five six seven eight nine ten", "s3")) // unrelated
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceNeardup(d, "doc_id", "text", "source", 3, 16, 4, 0.5)
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    // pairs: (1,2) s1-s2, (1,3) s1-s1, (2,3) s1-s2
    assert(got == Map(("s1", "s2") -> 2L, ("s1", "s1") -> 1L), s"got $got")
    // real corpus: the cross-feed structure the probe found — pairs
    // exist and at least one cell is OFF-diagonal
    val real = Dedup.crossSourceNeardup(Tables.documents(spark, sf),
      "doc_id", "text", "source", 3, 16, 4, 0.5).collect()
    assert(real.nonEmpty)
    assert(real.exists(r => r.getAs[String]("source_a") != r.getAs[String]("source_b")),
      real.toSeq.toString)
  }

  test("curationFunnel stages are cumulative and agree with the standalone operators") {
    val en = "the cat and the dog sat on the mat in the sun and it was good " * 3
    val funnel = Seq(
      (1L, en),                                // survives everything
      (2L, en),                                // exact dup of 1 → dropped at dedup
      (3L, "der hund und die katze und der vogel sind nicht da zu hause"), // non-en
      (4L, "the of is to in that it and"),     // en but punct/stopword-poor text below quality?
      (5L, "the and of is it go"))             // en, quality ok-ish but < 10 words
      .toDF("doc_id", "text")
    val out = TextOps.curationFunnel(funnel, "doc_id", "text", 0.5, 10L, 5000L)
      .collect().map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped")))).toMap
    assert(out("raw") == ((5L, 0L)), s"got $out")
    // counts must be monotone non-increasing and drops must reconcile
    val order = Seq("raw", "lang_en", "quality", "length", "exact_dedup")
    order.zip(order.tail).foreach { case (a, b) =>
      assert(out(b)._1 <= out(a)._1, s"$b grew vs $a: $out")
      assert(out(b)._2 == out(a)._1 - out(b)._1, s"$b drop mismatch: $out")
    }
    assert(out("lang_en")._1 == 4L, s"got $out")      // doc 3 dropped
    assert(out("exact_dedup")._1 == out("length")._1 - 1L, s"got $out") // dup pair collapses
    // funnel verdicts must agree with the standalone e8/e9 operators
    val lang = TextOps.langId(funnel, "doc_id", "text")
      .filter($"detected_lang" === "en").count()
    assert(out("lang_en")._1 == lang)
    // real corpus: every stage drops something yet none empties
    val real = TextOps.curationFunnel(Tables.documents(spark, sf),
      "doc_id", "text", 0.5, 10L, 5000L).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(real("raw") > 0 && real("exact_dedup") > 0)
    assert(order.map(real).zip(order.tail.map(real)).forall { case (a, b) => b <= a })
  }

  test("shared text rules agree on a parquet corpus: survivors, stopword ratio, packing") {
    val fluent = "the cat and the dog sat on the mat in the sun"
    // 100 words holding one stopword: stopword_ratio is exactly 0.01,
    // which the composite's strict > 0.01 scores 0.7, not 1.0
    val atBoundary = ("the" +: "that" +: Seq.fill(98)("cats")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_text_rules").toString + "/docs"
    Seq(
      (1L, "", "s1"),                                                 // empty
      (2L, "the cat sat", "s1"),                                      // < 5 words
      (3L, "the cat!!! and the dog??? sat!!! on the mat!!! it is fine!!!", "s1"), // punct
      (4L, "der hund und die katze sind nicht da zu hause heute", "s2"),  // de
      (5L, atBoundary, "s2"),
      (6L, fluent, "s2"),
      (7L, Seq.fill(20)(fluent).mkString(" "), "s1"))                 // 240 words
      .toDF("doc_id", "text", "source").write.parquet(dir)
    val corpus = spark.read.parquet(dir)

    val q = TextOps.qualityScore(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def score(id: Long) = q(id).getAs[Double]("quality_score")
    assert(q(5L).getAs[Double]("stopword_ratio") == 0.01 && score(5L) == 0.7)
    assert(q(3L).getAs[Double]("punct_ratio") == 0.25 && score(3L) == 0.5)
    assert(q(1L).getAs[Long]("n_words") == 0L && score(2L) == 0.0)
    val lang = TextOps.langId(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((minQ, minW, maxW, pinned) <- Seq((0.7, 5L, 200L, Set(5L, 6L)),
        (0.75, 5L, 200L, Set(6L)), (0.0, 0L, 1000L, Set(2L, 3L, 5L, 6L, 7L)))) {
      val expect = q.collect { case (id, r) if lang(id) == "en" && score(id) >= minQ &&
        r.getAs[Long]("n_words") >= minW && r.getAs[Long]("n_words") <= maxW => id }.toSet
      val got = TextOps.curationSurvivors(corpus, "doc_id", "text", Nil, minQ, minW, maxW)
        .collect().map(_.getLong(0)).toSet
      assert(got == expect && got == pinned, s"q=$minQ [$minW, $maxW]: $got vs $expect")
    }

    val ratio = corpus.select(col("doc_id"), TextOps.stopwordRatioCol(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ratio == q.map { case (id, r) => id -> r.getAs[Double]("stopword_ratio") })

    val packed = TextOps.packSequences(corpus, "doc_id", "text", "source", 16).collect().toSet
    val counted = TextOps.tokenCount(corpus, "doc_id", "text")
      .join(corpus.select("doc_id", "source"), "doc_id")
    val byCount = TextOps.packSequencesByCount(counted, "doc_id", "ws_tokens", "source", 16)
      .collect().toSet
    assert(packed.size == 7 && packed == byCount, s"$packed vs $byCount")
  }

  test("dupRateBySource attributes duplication per source; null texts group per source") {
    val d = Seq(
      (1L, Option("same text here"), "s1"), (2L, Option("same text here"), "s1"),
      (3L, Option("unique one"), "s1"),
      (4L, Option("same text here"), "s2"),       // same text, OTHER source: distinct there
      (5L, Option.empty[String], "s1"), (6L, Option.empty[String], "s1")) // null group of 2
      .toDF("doc_id", "text", "source")
    val got = Dedup.dupRateBySource(d, "doc_id", "text", "source").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("n_dup_docs"), r.getAs[Double]("dup_rate")))).toMap
    // s1: 5 docs, 3 groups (same-text pair, unique, null pair) → 2 dup docs, 0.4
    assert(got("s1") == ((5L, 3L, 2L, 0.4)), s"got $got")
    assert(got("s2") == ((1L, 1L, 0L, 0.0)), s"got $got")
    // real corpus: totals reconcile with e1's global dedup groups
    val real = Dedup.dupRateBySource(Tables.documents(spark, sf), "doc_id", "text", "source")
      .collect()
    val totalDocs = real.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, sf).count())
    assert(real.forall { r =>
      val rate = r.getAs[Double]("dup_rate")
      rate >= 0.0 && rate < 1.0 &&
        r.getAs[Long]("n_dup_docs") == r.getAs[Long]("n_docs") - r.getAs[Long]("n_distinct")
    })
  }
}
