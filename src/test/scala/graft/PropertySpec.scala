package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

import graft.multimodal.Binary
import graft.timeseries.TimeSeries
import graft.vector.Similarity

/** Seeded-fuzz property checks for the pure kernels: exact-decimal
  * restore arithmetic, header parsing, and LSH sizing. Deterministic
  * (fixed seed) so failures reproduce. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  test("decode kernel never throws and keeps entropy/feature invariants on arbitrary bytes") {
    val pngPrefix = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    for (_ <- 1 to 2000) {
      val len = rnd.nextInt(64)
      val bytes = rnd.nextInt(4) match {
        case 0 => Array.fill(len)(rnd.nextInt(256).toByte)
        // truncated / corrupted headers must parse as "not an image",
        // never throw
        case 1 => (pngPrefix ++ Array.fill(len)(rnd.nextInt(256).toByte)).take(rnd.nextInt(30))
        case 2 => ("GIF8" + ("7a9".charAt(rnd.nextInt(3))) + "a").getBytes("UTF-8").take(rnd.nextInt(7)) ++
          Array.fill(len)(rnd.nextInt(256).toByte)
        case _ => "BM".getBytes("UTF-8") ++ Array.fill(len)(rnd.nextInt(256).toByte)
      }
      // the call itself must not throw on any input; dims are whatever
      // the header claims (garbage headers are the caller's problem)
      val (_, _, entropy, feats) = Binary.decodeKernel(bytes, 16)
      assert(entropy >= 0.0 && entropy <= 8.0, s"entropy $entropy out of range")
      assert(feats.length == 16)
      if (bytes.nonEmpty)
        assert(math.abs(feats.sum - 1.0) < 1e-9, s"histogram not normalized: ${feats.sum}")
      else assert(feats.sum == 0.0)
    }
  }

  test("inverseScaler matches exact BigDecimal half-up rounding on random decimals") {
    def dec(v: Double, scale: Int): JBigDecimal =
      new JBigDecimal(v).setScale(scale, RoundingMode.HALF_UP)
    val rows = (1 to 500).map { i =>
      val mn = dec(rnd.nextDouble() * 2000 - 1000, 4)
      val mx = mn.add(dec(rnd.nextDouble() * 1000, 4))
      val s = dec(rnd.nextDouble() * 5 - 2, 6) // allow out-of-[0,1] scaled values
      (i.toLong, mn, mx, s)
    }
    val params = rows.map { case (k, mn, mx, _) =>
      (k, mn.doubleValue, mx.doubleValue, 0.0, 1.0) }
      .toDF("key", "min", "max", "mean", "std")
    val scaled = rows.map { case (k, _, _, s) => (k, s.doubleValue) }
      .toDF("key", "value_scaled")
    val got = TimeSeries.inverseScaler(scaled, params, "key", "value_scaled", "minmax")
      .select(col("key"), col("value_restored"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (k, mn, mx, s) =>
      val want = s.multiply(mx.subtract(mn)).add(mn)
        .setScale(4, RoundingMode.HALF_UP).doubleValue
      assert(got(k) == want, s"key=$k s=$s mn=$mn mx=$mx: got ${got(k)} want $want")
    }
  }

  test("text kernels match their reference semantics on arbitrary unicode fuzz") {
    import org.apache.spark.unsafe.types.UTF8String
    val P = 1000000007L
    // the composed chain NormalizeText replaces: Spark's lower() is
    // UTF8String.toLowerCase, then the two regexes, then (space-)trim
    def refNormalize(s: String): String =
      UTF8String.fromString(s).toLowerCase.toString
        .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
    def refPoly(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 31L + (b & 0xff)) % P)
    for (i <- 1 to 2000) {
      // mix ASCII, control chars, and raw unicode code points
      val len = rnd.nextInt(60)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => sb.append((' ' + rnd.nextInt(95)).toChar) // printable ASCII
          case 1 => sb.append(" \t\n\u000B\f\r".charAt(rnd.nextInt(6)))
          case 2 => sb.append(rnd.nextInt(32).toChar) // control
          case _ =>
            var cp = rnd.nextInt(0x10FFFF + 1)
            while (cp >= 0xD800 && cp <= 0xDFFF) cp = rnd.nextInt(0x10FFFF + 1)
            sb.appendAll(Character.toChars(cp))
        }
      }
      val s = sb.toString
      val want = refNormalize(s)
      val got = graft.functions.TextNorm.normalize(UTF8String.fromString(s)).toString
      assert(got == want, s"normalize #$i: '$got' != '$want' for ${s.codePoints().toArray.toSeq}")
      val norm = got
      // PackedGrams == sorted distinct byte-packed trigrams of ASCII text
      val bytes = norm.getBytes("UTF-8")
      val wantGrams =
        if (bytes.length < 3) Seq.empty[Long]
        else bytes.sliding(3).map(w =>
          (w(0) & 0xffL) * 65536L + (w(1) & 0xffL) * 256L + (w(2) & 0xffL))
          .toSeq.distinct.sorted
      val gotGrams = graft.functions.GramPack.pack(UTF8String.fromString(norm), 3)
        .toLongArray().toSeq
      assert(gotGrams == wantGrams, s"grams #$i of '$norm'")
      // n=7 exercises 56-bit codes (beyond double's 2^53 exactness)
      val want7 =
        if (bytes.length < 7) Seq.empty[Long]
        else bytes.sliding(7).map(_.foldLeft(0L)((c, b) => (c << 8) | (b & 0xffL)))
          .toSeq.distinct.sorted
      val got7 = graft.functions.GramPack.pack(UTF8String.fromString(norm), 7)
        .toLongArray().toSeq
      assert(got7 == want7, s"7-grams #$i of '$norm'")
      // ShingleHashes == polyHash of every 2-word window
      val words = norm.split(" ", -1).toSeq
      val wantSh =
        if (norm.isEmpty || words.length < 2) Seq.empty[Long]
        else words.sliding(2).map(w => refPoly(w.mkString(" "))).toSeq
      val gotSh = graft.functions.ShinglePack.hashes(UTF8String.fromString(norm), 2)
        .toLongArray().toSeq
      assert(gotSh == wantSh, s"shingles #$i of '$norm'")
    }
  }

  test("autoPlanes is monotone in n, divisible by bands, keys off the sign bit") {
    var prev = 0
    for (exp <- 0 to 40) {
      val n = 1L << exp
      val p = Similarity.autoPlanes(n, 8)
      assert(p % 8 == 0 && p / 8 <= 62 && p >= 16)
      assert(p >= prev, s"autoPlanes not monotone at n=$n")
      prev = p
    }
    for (bands <- Seq(1, 2, 4, 16, 32, 64)) {
      val p = Similarity.autoPlanes(1L << 30, bands)
      // band keys are independent longs (round 6): bits per band is
      // bounded by the non-negative long range, not by 64/bands
      assert(p % bands == 0 && p / bands >= 2 && p / bands <= 62,
        s"bands=$bands planes=$p violates band-key bound")
    }
    intercept[IllegalArgumentException](Similarity.autoPlanes(1000, 0))
    intercept[IllegalArgumentException](Similarity.autoPlanes(1000, 128))
  }

  test("chunkText covers every word exactly, with correct overlap, on random docs") {
    val docs = (1 to 60).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (1 to n).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    for ((size, overlap) <- Seq((5, 2), (8, 0), (4, 3))) {
      val stride = size - overlap
      val out = graft.text.TextOps.chunkText(docs, "doc_id", "text", size, overlap)
        .collect().groupBy(_.getLong(0))
      docs.collect().foreach { r =>
        val (id, words) = (r.getLong(0), r.getString(1).split("\\s+").filter(_.nonEmpty))
        val chunks = out.getOrElse(id, Array.empty).sortBy(_.getAs[Long]("chunk_start"))
        if (words.isEmpty) assert(chunks.isEmpty)
        else {
          // reconstruction: chunk at start s must equal words[s, s+size)
          chunks.foreach { c =>
            val s = c.getAs[Long]("chunk_start").toInt
            assert(c.getAs[String]("chunk_text") ==
              words.slice(s, s + size).mkString(" "), s"doc $id start $s size $size")
          }
          // coverage: the last kept chunk reaches the end of the doc
          val lastStart = chunks.last.getAs[Long]("chunk_start").toInt
          assert(lastStart + size >= words.length, s"doc $id uncovered tail")
          // starts advance by exactly stride
          val starts = chunks.map(_.getAs[Long]("chunk_start").toInt).toSeq
          assert(starts == starts.indices.map(_ * stride), s"doc $id starts $starts")
        }
      }
    }
  }

  test("repetitionStats fractions stay in [0,1] with exact distinct/dup complement") {
    val docs = (1 to 100).map { i =>
      val n = rnd.nextInt(40)
      // small vocabulary forces repetition; vocab 1 forces max repetition
      val vocab = 1 + rnd.nextInt(6)
      (i.toLong, (1 to n).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" "))
    }.toDF("doc_id", "text")
    val out = graft.text.TextOps.repetitionStats(docs, "doc_id", "text").collect()
    assert(out.length == 100)
    out.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_distinct"))
      val (tw, dw, tb) = (r.getAs[Double]("top_word_frac"),
        r.getAs[Double]("dup_word_frac"), r.getAs[Double]("top_bigram_frac"))
      assert(d <= n)
      assert(tw >= 0.0 && tw <= 1.0 && dw >= 0.0 && dw <= 1.0 && tb >= 0.0 && tb <= 1.0)
      if (n > 0) {
        assert(tw >= 1.0 / n - 1e-4)        // the top word has at least 1 hit
        if (d == n) assert(dw == 0.0)       // all distinct -> no duplicate mass
        if (d == 1L) assert(tw == 1.0)      // single-word vocab -> all mass on it
      } else assert(tw == 0.0 && dw == 0.0 && tb == 0.0)
    }
  }

  test("scd2History intervals tile each key's timeline on random change feeds") {
    import graft.ingest.Ingest
    val rows = (0 until 400).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${rnd.nextInt(28) + 1}%02d ${rnd.nextInt(24)}%02d:00:00"),
        s"k${rnd.nextInt(8)}",
        if (rnd.nextInt(10) == 0) None else Some(s"v${rnd.nextInt(3)}"))
    }
    val out = Ingest.scd2History(rows.toDF("event_id", "ts", "key", "attr"),
      "key", "ts", Seq("attr"), "event_id")
      .select(col("key"), col("attr"), col("valid_from"), col("valid_to"), col("is_current"))
      .as[(String, Option[String], java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect()
    out.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(v => (v._3.getTime, v._4.map(_.getTime).getOrElse(Long.MaxValue)))
      // exactly one open (current) version, and it sorts last
      assert(sorted.count(_._5) == 1 && sorted.last._5 && sorted.last._4.isEmpty)
      // every closed interval's end is the next version's start (tiling),
      // and no two ADJACENT versions carry the same attr (they collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"gap/overlap: ${a._4} vs ${b._3}")
          // same-timestamp versions are legal (zero-length interval);
          // distinct timestamps must differ in the tracked attr
          if (a._3 != b._3) assert(a._2 != b._2, s"uncollapsed run at ${b._3}")
        case _ => ()
      }
    }
  }

  test("incremental dedup: maintained ≡ recompute and hash-closure on random corpora") {
    import graft.text.Dedup
    import graft.functions.normalizeText
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def randDoc(): String =
      Seq.fill(3 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (_ <- 1 to 6) {
      // small vocab + forced copies ⇒ duplicates within and across the split
      val base = Vector.fill(24)(randDoc())
      val texts = base.map(t => if (rnd.nextInt(3) == 0) base(rnd.nextInt(base.size)) else t)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", s"s${i % 3}") }
        .toDF("doc_id", "text", "lang", "source")
      val batch = docs.filter($"doc_id" < 12)
      val seen = docs.filter($"doc_id" >= 12)

      // exact family: table form ≡ recompute on arbitrary dup structure
      val rec = Dedup.incrementalExactDedup(batch, seen, "doc_id", "text", Seq("lang", "source"))
        .select("text_hash", "doc_id").as[(String, Long)].collect().toSet
      val mnt = Dedup.incrementalExactDedupFromTable(batch,
        Dedup.seenHashTable(seen, "text"), "doc_id", "text", Seq("lang", "source"))
        .select("text_hash", "doc_id").as[(String, Long)].collect().toSet
      assert(rec == mnt)
      // hash-closure invariant (non-circular): every batch doc's hash is
      // either in the seen table or among the admitted hashes — nothing
      // is silently dropped; and no admitted hash was already seen
      val seenH = Dedup.seenHashTable(seen, "text").as[String].collect().toSet
      val batchH = batch.select(md5(normalizeText($"text"))).as[String].collect().toSet
      val admittedH = rec.map(_._1)
      assert(batchH.subsetOf(seenH ++ admittedH), "a batch hash vanished")
      assert(admittedH.intersect(seenH).isEmpty, "an already-seen hash was admitted")

      // minhash family: table form ≡ recompute on the same random corpus
      val mrec = Dedup.incrementalMinhashPairs(batch, seen, "doc_id", "text", 3, 8, 2)
        .as[(Long, Long)].collect().toSet
      val mmnt = Dedup.incrementalMinhashPairsFromTable(batch,
        Dedup.bandSignatures(seen, "doc_id", "text", 3, 8, 2),
        "doc_id", "text", 3, 8, 2).as[(Long, Long)].collect().toSet
      assert(mrec == mmnt)
      // identical text across the split MUST pair (every band matches)
      val batchTexts = texts.take(12).zipWithIndex
      val seenTexts = texts.drop(12).zipWithIndex
      for {
        (bt, bi) <- batchTexts if bt.split(" ").length >= 3
        (st, si) <- seenTexts if st == bt
      } assert(mrec.contains((bi.toLong, (si + 12).toLong)),
        s"identical text pair ($bi, ${si + 12}) missing")
    }
  }

  test("temperatureMixSample selection grows monotonically with the budget") {
    import graft.sample.Sampling
    val df = (0L until 3000L)
      .map(i => (i, s"s${(i % 7) * (i % 7) % 7}")) // uneven source sizes
      .toDF("doc_id", "source")
    val takes = Seq((1L, 10L), (3L, 10L), (7L, 10L), (10L, 10L)).map { case (n, d) =>
      Sampling.temperatureMixSample(df, "doc_id", "source", n, d)
        .select("doc_id").as[Long].collect().toSet
    }
    // integer thresholds are monotone in budgetNum, so each selection
    // must contain the previous — a user raising the budget keeps every
    // previously selected doc (stable training-set growth)
    takes.sliding(2).foreach {
      case Seq(lo, hi) => assert(lo.subsetOf(hi), s"${lo.size} !⊆ ${hi.size}")
      case _ => ()
    }
    // up-weighting: at full budget the SMALLEST source caps at rate 1
    // (every row admitted) while the largest source — whose sqrt weight
    // is the lowest relative to its share — still samples below 1
    val smallest = (0L until 3000L).filter(_ % 7 == 0).toSet
    assert(smallest.subsetOf(takes.last))
    assert(takes.last.size < 3000)
  }

  test("snapshotDiff ∘ cdcMerge is the identity on random snapshot pairs") {
    import graft.ingest.Ingest
    // 30 random (prev, cur) pairs with overlapping keys, random nulls,
    // random per-key mutations — diff must replay prev into cur exactly
    // and emit NO row for unchanged keys
    for (round <- 1 to 30) {
      val keys = (1L to 40L).filter(_ => rnd.nextDouble() < 0.8)
      def snap(mutate: Boolean): Seq[(Long, Option[String], Option[Double])] =
        keys.filter(_ => !mutate || rnd.nextDouble() < 0.9).map { k =>
          val drift = mutate && rnd.nextDouble() < 0.3
          (k,
            if (rnd.nextDouble() < 0.15) None
            else Some(s"n${k}${if (drift && rnd.nextBoolean()) "x" else ""}"),
            if (rnd.nextDouble() < 0.15) None
            else Some((k * 10 + (if (drift) 1 else 0)).toDouble))
        }
      val prevRows = snap(mutate = false)
      val curRows = snap(mutate = true) ++
        (41L to 45L).filter(_ => rnd.nextDouble() < 0.5)
          .map(k => (k, Some(s"new$k"), Some(k.toDouble)))
      val prev = prevRows.toDF("id", "name", "bal")
      val cur = curRows.toDF("id", "name", "bal")
      val diff = Ingest.snapshotDiff(prev, cur, "id", Seq("name", "bal"))
      // no row for unchanged keys
      val changedOrMoved = {
        val p = prevRows.map(r => r._1 -> ((r._2, r._3))).toMap
        val c = curRows.map(r => r._1 -> ((r._2, r._3))).toMap
        (p.keySet ++ c.keySet).filter(k => p.get(k) != c.get(k))
      }
      val diffKeys = diff.select("id").as[Long].collect().toSet
      assert(diffKeys == changedOrMoved, s"round $round: $diffKeys vs $changedOrMoved")
      // roundtrip identity
      val replayed = Ingest.cdcMerge(prev.withColumn("v", lit(0L)),
        diff.withColumn("v", lit(1L)), "id", "op", "v", "id")
        .select("id", "name", "bal")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
      assert(replayed == curRows.toSet, s"round $round roundtrip broke")
    }
  }

  test("expectationReport counts match a brute-force Scala evaluation on random tables") {
    import graft.validate.Quality
    for (round <- 1 to 20) {
      val rows = (1 to 200).map { _ =>
        (if (rnd.nextDouble() < 0.2) None else Some(rnd.nextInt(30).toLong),
          if (rnd.nextDouble() < 0.2) None else Some(rnd.nextDouble() * 200 - 50),
          if (rnd.nextDouble() < 0.2) None
          else Some(Seq("click", "view", "Bogus", "err0r")(rnd.nextInt(4))))
      }
      val df = rows.toDF("id", "value", "kind")
      val rep = Quality.expectationReport(df, Seq(
        Quality.ExpectNotNull("nn", "value"),
        Quality.ExpectBetween("bt", "value", Some(0.0), Some(100.0)),
        Quality.ExpectInSet("is", "kind", Seq("click", "view")),
        Quality.ExpectUnique("uq", "id"),
        Quality.ExpectMatches("rx", "kind", "^[a-z]+$")))
        .collect().map(r => r.getAs[String]("rule_id") ->
          r.getAs[Long]("n_violations")).toMap
      val vs = rows.flatMap(_._2)
      val ks = rows.flatMap(_._3)
      val ids = rows.flatMap(_._1)
      assert(rep("nn") == rows.count(_._2.isEmpty).toLong)
      assert(rep("bt") == vs.count(v => v < 0.0 || v > 100.0).toLong)
      assert(rep("is") == ks.count(k => k != "click" && k != "view").toLong)
      assert(rep("uq") == (ids.size - ids.distinct.size).toLong)
      assert(rep("rx") == ks.count(k => !k.matches("^[a-z]+$")).toLong,
        s"round $round regex count")
    }
  }

  test("bucket-histogram rank ops match brute force on random shapes (rule 9: e46/e47/e48)") {
    import graft.sample.Sampling
    val p = graft.text.Dedup.AffineP
    val (a48, b48) = (graft.text.Dedup.hashConst("e48-a", 0),
      graft.text.Dedup.hashConst("e48-b", 0))
    val (a47, b47) = (graft.text.Dedup.hashConst("e47-a", 0),
      graft.text.Dedup.hashConst("e47-b", 0))
    for (round <- 1 to 4) {
      val nGroups = 1 + rnd.nextInt(5)
      // skewed group sizes, deliberate tie mass (values on a coarse
      // lattice), negatives included
      val rows = (0 until 150 + rnd.nextInt(450)).map { i =>
        val g = s"g${(i * i) % nGroups}" // uneven group occupancy
        val v = math.round((rnd.nextDouble() * 4 - 2) * 50) / 50.0
        (i.toLong * (1 + rnd.nextInt(3)), g, v)
      }.distinct
      val byId = rows.groupBy(_._1).values.map(_.head).toSeq // unique ids
      val df = byId.toDF("id", "g", "v")

      val (kn, kd) = (1L + rnd.nextInt(3), 4L)
      val got46 = Sampling.quantileTopFilter(df, "v", "g", kn, kd)
        .select("id").as[Long].collect().toSet
      val want46 = byId.groupBy(_._2).flatMap { case (_, grp) =>
        val us = grp.map(r => math.floor(r._3 * 1e6).toLong)
        val target = ((us.size * kn + kd - 1) / kd).toInt
        val thr = us.sorted(Ordering[Long].reverse).take(target).last
        grp.filter(r => math.floor(r._3 * 1e6).toLong >= thr).map(_._1)
      }.toSet
      assert(got46 == want46, s"round $round e46 (kn=$kn)")

      val cap = 5L + rnd.nextInt(40)
      val got47 = Sampling.groupCapSample(df, "id", "g", cap,
        nBuckets = 1 + rnd.nextInt(64))
        .select("id").as[Long].collect().toSet
      def r47(id: Long) = (a47 * (((id % p) + p) % p) + b47) % p
      val want47 = byId.groupBy(_._2).flatMap { case (_, grp) =>
        grp.map(_._1).sortBy(id => (r47(id), id)).take(cap.toInt)
      }.toSet
      assert(got47 == want47, s"round $round e47 (cap=$cap)")

      val nShards = 1 + rnd.nextInt(6)
      val got48 = Sampling.shuffleShard(df, "id", nShards,
        nBuckets = 1 + rnd.nextInt(64))
        .select("shard", "position", "id").as[(Long, Long, Long)].collect()
      def r48(id: Long) = (a48 * (((id % p) + p) % p) + b48) % p
      val want48 = byId.map(_._1).groupBy(id => r48(id) % nShards)
        .flatMap { case (s, ids) =>
          ids.sortBy(id => (r48(id), id)).zipWithIndex
            .map { case (id, pos) => (s, pos.toLong, id) }
        }.toSet
      assert(got48.toSet == want48, s"round $round e48 (shards=$nShards)")
    }
  }

  test("windowFunnel matches a brute-force exists-chain oracle on random event streams") {
    import java.sql.Timestamp
    val steps = Seq("view", "click", "purchase")
    val w = 50L
    for (round <- 1 to 6) {
      val nUsers = 4 + rnd.nextInt(4)
      val rows = (1 to 120).map { i =>
        (rnd.nextInt(nUsers).toLong,
          new Timestamp(1700000000000L + rnd.nextInt(200) * 1000L),
          Seq("view", "click", "purchase", "error")(rnd.nextInt(4)), i.toLong)
      }
      val df = rows.toDF("user_id", "ts", "event_type", "event_id")
      val got = graft.analytics.Analytics
        .windowFunnel(df, "user_id", "ts", "event_id", "event_type", steps, w)
        .collect().map(r => r.getAs[Long]("step") -> r.getAs[Long]("n_users")).toMap
      // brute force: for every anchor view, greedily match the earliest
      // valid next step (optimal for a fixed anchor — the standard
      // subsequence argument); deepest level over all anchors
      val byUser = rows.groupBy(_._1).map { case (u, rs) =>
        val ord = rs.map(r => (r._2.getTime / 1000, r._4, r._3))
          .sortBy(t => (t._1, t._2))
        var best = 0
        for (start <- ord.indices if ord(start)._3 == steps.head) {
          val t1 = ord(start)._1
          var level = 1
          var pos = start
          var done = false
          while (!done && level < steps.size) {
            val next = (pos + 1 until ord.length).find(i =>
              ord(i)._3 == steps(level) && ord(i)._1 <= t1 + w)
            next match {
              case Some(i) => pos = i; level += 1
              case None => done = true
            }
          }
          best = math.max(best, level)
        }
        if (!ord.exists(_._3 == steps.head)) best = 0
        u -> best
      }
      for (j <- 1 to steps.size) {
        val want = byUser.values.count(_ >= j).toLong
        assert(got.getOrElse(j.toLong, 0L) == want,
          s"round $round step $j: got ${got.get(j.toLong)}, want $want\n$byUser")
      }
      // monotone depth histogram
      assert(got(1L) >= got(2L) && got(2L) >= got(3L))
    }
  }
}
