package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.Checkpoint._

/** Text-analysis operators for LLM training-data pipelines:
  * quality scoring, token counting, language ID, fingerprinting.
  * All pure column expressions (codegen'd, no UDFs) — one narrow pass
  * over the corpus at any scale.
  */
object TextOps {

  private val stopwordsRe = "\\b(the|a|an|and|of|to|in|is|it|for|on|with)\\b"

  /** Whitespace word count — the e9 `n_words` expression, shared by
    * every operator that counts whitespace words so none can drift. */
  private def nWordsCol(t: Column): Column =
    when(length(trim(t)) === 0, 0).otherwise(size(split(trim(t), "\\s+")))

  /** Characters of `t` that `re` matches (each match is one char). */
  private def nMatchingChars(t: Column, re: String): Column =
    length(t) - length(regexp_replace(t, re, ""))

  /** `n / max(d, 1)` as a double rounded to `scale` — every e9 ratio. */
  private def ratio(n: Column, d: Column, scale: Int): Column =
    round(n.cast("double") / greatest(d, lit(1)), scale)

  private def avgWordLenCol(t: Column): Column = ratio(length(t), nWordsCol(t), 4)

  private def punctRatioCol(t: Column): Column =
    ratio(nMatchingChars(t, "[^a-zA-Z0-9\\s]"), length(t), 6)

  /** The e9 stopword ratio as a column expression — shared with
    * [[qualityScore]] and the e56 corpus-build chain (which re-scores
    * the post-scrub text), so the ranking value can never drift from
    * the standalone operator's. */
  private[graft] def stopwordRatioCol(t: Column): Column =
    ratio(size(regexp_extract_all(lower(t), lit(stopwordsRe), lit(0))), nWordsCol(t), 6)

  /** The e9 composite score: [[qualityScore]] passes its staged output
    * columns, [[qualityScoreCol]] the inline feature expressions. */
  private def composite(nWords: Column, avgWordLen: Column, punctRatio: Column,
                        stopRatio: Column): Column =
    round(when(nWords < 5, 0.0).otherwise(lit(1.0)
      * when(avgWordLen.between(3, 10), 1.0).otherwise(0.5)
      * when(punctRatio < 0.2, 1.0).otherwise(0.5)
      * when(stopRatio > 0.01, 1.0).otherwise(0.7)), 4)

  /** The e9 composite `quality_score` as one column expression over
    * raw text. Shared with [[curationFunnel]] and [[curationSurvivors]]. */
  private def qualityScoreCol(t: Column): Column =
    composite(nWordsCol(t), avgWordLenCol(t), punctRatioCol(t), stopwordRatioCol(t))

  /** Document quality features + composite score: length, word stats,
    * punctuation/stopword/digit ratios. Mirrors standard pretraining
    * quality filters (C4/Gopher-style heuristics). `keepCols` carries
    * extra columns (e.g. the source for e46's per-source quantile
    * filter) through the same single narrow pass. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
                   keepCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol) +: keepCols.map(col) :+
      length(t).cast("long").as("n_chars_computed") :+
      nWordsCol(t).cast("long").as("n_words") :+
      avgWordLenCol(t).as("avg_word_len") :+
      punctRatioCol(t).as("punct_ratio") :+
      ratio(nMatchingChars(t, "[0-9]"), length(t), 6).as("digit_ratio") :+
      stopwordRatioCol(t).as("stopword_ratio"): _*)
      .withColumn("quality_score", composite(col("n_words"), col("avg_word_len"),
        col("punct_ratio"), col("stopword_ratio")))
  }

  /** Per-document Gopher quality-rule report (round 9) — the
    * published Rae et al. 2021 (Gopher, appendix A1.1) heuristic
    * filter set, as per-rule booleans plus the combined keep verdict,
    * complementing e9's continuous composite score (a keep/drop rule
    * set is auditable per rule; a score is tunable). Rules covered:
    * word count in [50, 100000], mean word length in [3, 10],
    * symbol-to-word ratio (# and ellipses) ≤ 0.1, ≥80% of words
    * containing an alphabetic character, and ≥2 distinct stop words
    * present. The Gopher line-shaped rules (bullet/ellipsis line
    * ratios) need line structure this corpus does not carry
    * (single-line documents) and are deliberately out of scope.
    *
    * Cross-engine exactness: every ratio rule is decided in exact
    * integer cross-multiplication (3n ≤ chars ≤ 10n; 10·sym ≤ n;
    * 5·alpha ≥ 4n) — no float ever forms, so no rounding boundary
    * exists to diverge on. Scale shape: one narrow map pass over the
    * corpus (regex + split expressions, whole-stage codegen), zero
    * shuffles — the same family as e8/e9. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nWords = nWordsCol(t).cast("long")
    // all non-whitespace chars = total length of the whitespace tokens
    val nWordChars = length(regexp_replace(t, "\\s", "")).cast("long")
    // words containing >= 1 letter: one match per token (matches
    // cannot cross whitespace; greedy \S* covers the token)
    val nAlphaWords = size(regexp_extract_all(t, lit("\\S*[a-zA-Z]\\S*"), lit(0)))
      .cast("long")
    // Gopher's symbol set: hash marks and ellipses (either form)
    val nSymbols = ((length(t) - length(expr(s"replace($textCol, '#', '')"))) +
      (length(t) - length(expr(s"replace($textCol, '...', '')"))) / 3 +
      (length(t) - length(expr(s"replace($textCol, '…', '')")))).cast("long")
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStopKinds = size(array_intersect(
      split(lower(trim(t)), "\\s+"), array(stopList.map(lit(_)): _*))).cast("long")
    docs.select(col(idCol),
        nWords.as("n_words"), nWordChars.as("n_word_chars"),
        nAlphaWords.as("n_alpha_words"), nSymbols.as("n_symbols"),
        nStopKinds.as("n_stop_kinds"))
      .withColumn("r_word_count", col("n_words").between(50L, 100000L))
      .withColumn("r_word_len",
        col("n_word_chars") >= col("n_words") * 3 &&
        col("n_word_chars") <= col("n_words") * 10)
      .withColumn("r_symbol", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("r_alpha", col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("r_stopwords", col("n_stop_kinds") >= 2L)
      .withColumn("keep", col("r_word_count") && col("r_word_len") &&
        col("r_symbol") && col("r_alpha") && col("r_stopwords"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / single digits / single symbols) — the cheap proxy
    * for tokenizer budgeting over a 100 TB corpus. */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = nWordsCol(t)
    val bpe = size(regexp_extract_all(t, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0)))
    docs.select(col(idCol), ws.cast("long").as("ws_tokens"), bpe.cast("long").as("bpe_tokens"),
      round(bpe.cast("double") / greatest(ws, lit(1)), 4).as("tokens_per_word"))
  }

  /** Budget-quantized contiguous sequence packing — the LLM-training
    * prep step that packs documents into fixed-token-budget training
    * sequences. Within each group (deterministic id order), a document
    * starts at the running-token offset of its predecessors; its bin is
    * that offset div `budget`. Documents may straddle a bin boundary —
    * the chunk-then-concat pipelines this feeds split them anyway, and
    * the no-straddle greedy variant is a sequential fold (inherently
    * order-stateful), deliberately not distributed. One window shuffle
    * per group key; groups pack in parallel across the cluster. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, budget: Int): DataFrame =
    binAssign(docs, idCol, textCol, groupCol, budget, carryText = false)

  /** [[packSequences]] over a CALLER-SUPPLIED token-count column
    * (round 11) — the composable form: e23's internal count is the
    * whitespace proxy, but the budget a trainer actually packs against
    * is the TRAINED tokenizer's count ([[bpeTokenCounts]]) or any
    * model-specific accounting. Same window discipline: running
    * offsets per group in deterministic id order, bin = offset div
    * budget. `docs` must carry (idCol, groupCol, countCol). */
  def packSequencesByCount(docs: DataFrame, idCol: String, countCol: String,
                           groupCol: String, budget: Int): DataFrame =
    binByOffset(docs.select(col(idCol), col(groupCol), col(countCol).cast("long").as("tokens")),
      idCol, groupCol, budget)

  /** The running-offset bin window over `base`'s long `tokens`, shared
    * by [[packSequencesByCount]] and [[binAssign]]. */
  private def binByOffset(base: DataFrame, idCol: String, groupCol: String,
                          budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("start_offset", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .withColumn("bin", graft.functions.divLong(col("start_offset"), lit(budget.toLong)))
      .withColumn("bin_offset", col("start_offset") % budget)
  }

  /** Shared bin-assignment pass for e23/e28: running-token offsets per
    * group (deterministic id order) quantized by the budget. With
    * `carryText` the document text rides along in `__text`, so the
    * materializer needs NO join back to the corpus — the window's
    * hash(group) partitioning already satisfies the downstream
    * (group, bin) grouping, keeping the whole pipeline on one
    * exchange. */
  private def binAssign(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, budget: Int, carryText: Boolean): DataFrame = {
    val t = col(textCol)
    val toks = nWordsCol(t).cast("long")
    val base =
      if (carryText) docs.select(col(idCol), col(groupCol), t.as("__text"), toks.as("tokens"))
      else docs.select(col(idCol), col(groupCol), toks.as("tokens"))
    binByOffset(base, idCol, groupCol, budget)
  }

  /** Materialize [[packSequences]]' bin assignment into the actual
    * training sequences: per (group, bin), the documents concatenated
    * in deterministic id order plus doc/token counts — the artifact a
    * trainer ingests. Text rides through the bin-assignment window
    * (see [[binAssign]]), so this is ONE shuffle end to end: the
    * window's hash(group) partitioning already co-locates every
    * (group, bin) group for the final aggregation. The per-bin collect
    * state is bounded by the token budget no matter how large the
    * corpus; the interpreted transform over it runs once per BIN, not
    * per token. Same contract as packSequences: non-null text,
    * deterministic id order. Zero-token documents are EXCLUDED: they
    * contribute nothing to a training sequence, don't move the running
    * offset, and — since they all share their predecessor's offset — a
    * corpus with millions of empties would otherwise collect them into
    * one unbounded bin. */
  def materializePacked(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, budget: Int): DataFrame =
    binAssign(docs, idCol, textCol, groupCol, budget, carryText = true)
      .filter(col("tokens") > 0)
      .groupBy(col(groupCol), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col(idCol).as("i"), col("__text").as("t")))),
            s => s.getField("t"))).as("packed_text"))

  /** The e8 marker-hit argmax as (detected_lang, marker_hits) column
    * expressions over raw text — shared by [[langId]] and
    * [[curationFunnel]]. Alphabetical tie-break via a strict-greater
    * scan in language order. */
  private def langIdCols(textCol: Column): (Column, Column) = {
    val t = lower(textCol)
    def hits(re: String): Column = size(regexp_extract_all(t, lit(re), lit(0))).cast("double")
    val scores: Seq[(String, Column)] = Seq(
      "de" -> hits("\\b(der|die|das|und|ist|nicht|ein|zu)\\b"),
      "en" -> hits("\\b(the|and|of|is|to|in|that|it)\\b"),
      "es" -> hits("\\b(el|la|de|que|los|las|una|es)\\b"),
      "fr" -> hits("\\b(le|la|les|et|des|est|une|dans)\\b"),
      "zh" -> hits("[\\u4e00-\\u9fff]") * 2)
    val (bestLang, bestScore) = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), greatest(s, bs))
    }
    (when(bestScore > 0, bestLang).otherwise(lit("und")), bestScore)
  }

  /** N-gram/stopword-heuristic language ID. Scores each candidate
    * language by marker-word/script hits; deterministic argmax with
    * alphabetical tie-break. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (bestLang, bestScore) = langIdCols(col(textCol))
    docs.select(col(idCol),
      bestLang.as("detected_lang"),
      bestScore.cast("long").as("marker_hits"))
  }

  /** The documents SURVIVING [[curationFunnel]]'s cumulative lang →
    * quality → length stages (e53 reports the counts; this returns the
    * rows — the hand-off a real corpus build makes into its dedup
    * stage). Shares [[langIdCols]]/[[qualityScoreCol]]/[[nWordsCol]]
    * with the funnel so the two can never drift. Keeps `idCol`,
    * `textCol`, and `keepCols`; one narrow pass, no shuffle. */
  def curationSurvivors(docs: DataFrame, idCol: String, textCol: String,
                        keepCols: Seq[String], minQuality: Double,
                        minWords: Long, maxWords: Long): DataFrame = {
    require(minWords <= maxWords, "minWords must be <= maxWords")
    val t = col(textCol)
    val (bestLang, _) = langIdCols(t)
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .filter(bestLang === "en" && qualityScoreCol(t) >= minQuality &&
        nWordsCol(t).cast("long").between(minWords, maxWords))
      .select(col(idCol) +: col(textCol) +: keepCols.map(col): _*)
  }

  /** Curation-funnel report (round 8) — the corpus-build accounting
    * every pretraining pipeline publishes (C4/CCNet/FineWeb report
    * exactly this table): how many documents survive each stage of
    * raw → language filter (e8's detector = 'en') → quality filter
    * (e9's composite ≥ `minQuality`) → length filter (e9's word count
    * in [`minWords`, `maxWords`]) → exact dedup (distinct normalized
    * md5, e1's key). Stages apply CUMULATIVELY — each row reports the
    * docs surviving that stage and how many the stage dropped —
    * because that is how the filters run in production (dedup cost
    * depends on what the cheap filters already removed).
    *
    * Shares the e8/e9 column expressions ([[langIdCols]],
    * [[qualityScoreCol]]) so the funnel can never drift from the
    * standalone operators' verdicts.
    *
    * Scale shape: ONE narrow pass computes every per-doc flag plus the
    * dedup hash, then a single aggregate — the four cumulative counts
    * partial-aggregate map-side to one row per partition, and only the
    * distinct-hash count shuffles (16-byte md5 per surviving doc,
    * partial-distinct before the exchange). The corpus never moves. */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
                     minQuality: Double, minWords: Long, maxWords: Long): DataFrame = {
    require(minWords <= maxWords, "minWords must be <= maxWords")
    val t = col(textCol)
    val (bestLang, _) = langIdCols(t)
    val flags = docs.filter(col(idCol).isNotNull)
      .select(bestLang.as("__lang"), qualityScoreCol(t).as("__q"),
        nWordsCol(t).cast("long").as("__w"), md5(normalizeText(t)).as("__h"))
    val langOk = col("__lang") === "en"
    val qOk = langOk && col("__q") >= minQuality
    val lenOk = qOk && col("__w").between(minWords, maxWords)
    flags.agg(
        count(lit(1)).as("n0"),
        count(when(langOk, 1)).as("n1"),
        count(when(qOk, 1)).as("n2"),
        count(when(lenOk, 1)).as("n3"),
        countDistinct(when(lenOk, col("__h"))).as("n4"))
      .selectExpr("""stack(5,
        CAST(0 AS BIGINT), 'raw',         n0, CAST(0 AS BIGINT),
        CAST(1 AS BIGINT), 'lang_en',     n1, n0 - n1,
        CAST(2 AS BIGINT), 'quality',     n2, n1 - n2,
        CAST(3 AS BIGINT), 'length',      n3, n2 - n3,
        CAST(4 AS BIGINT), 'exact_dedup', n4, n3 - n4
      ) AS (stage_idx, stage, n_docs, n_dropped)""")
  }

  private val posRe = "\\b(good|great|excellent|love|happy|best|nice|amazing|wonderful|fantastic)\\b"
  private val negRe = "\\b(bad|terrible|awful|hate|sad|worst|poor|horrible|wrong|broken)\\b"

  /** Lexicon-based sentiment: positive/negative marker counts →
    * polarity in [-1, 1] and a 3-way label (cf. large-scale lexicon
    * sentiment on Spark, EDBT'16 — the scalable non-ML baseline).
    * Pure column expressions; one narrow pass. */
  def sentiment(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val pos = size(regexp_extract_all(t, lit(posRe), lit(0))).cast("double")
    val neg = size(regexp_extract_all(t, lit(negRe), lit(0))).cast("double")
    docs.select(col(idCol),
      pos.cast("long").as("pos_hits"),
      neg.cast("long").as("neg_hits"),
      round((pos - neg) / greatest(pos + neg, lit(1.0)), 4).as("polarity"))
      .withColumn("sentiment",
        when(col("polarity") > 0.2, "positive")
          .when(col("polarity") < -0.2, "negative")
          .otherwise("neutral"))
  }

  /** (`keyAs`, `as`) rows, one per non-empty word of the normalized
    * text, keyed by `idCol` — the word stream every token and BPE
    * operator reads. */
  private def wordRows(docs: DataFrame, idCol: String, textCol: String,
                       as: String, keyAs: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as(keyAs),
        explode(split(normalizeText(col(textCol)), " ")).as(as))
      .filter(length(col(as)) > 0)

  /** The two-level (doc_id, `term`) → `term` aggregate (`n`, `doc_freq`)
    * of [[tokenFrequency]] and [[ngramFrequency]]. */
  private def termFrequency(rows: DataFrame, term: String, minCount: Long): DataFrame =
    rows.groupBy(col("doc_id"), col(term))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col(term))
      // count(doc_id), not count(*): a null doc_id forms its own level-1
      // group, and COUNT(DISTINCT doc_id) semantics (the pre-two-level
      // shape and the SQL oracle) exclude nulls from the document count.
      // Its occurrences still land in `n` via the sum, as COUNT(*) does.
      .agg(sum(col("__tf")).as("n"), count(col("doc_id")).as("doc_freq"))
      .filter(col("n") >= minCount)

  /** Corpus token-frequency table: per-token total count + document
    * frequency — the vocabulary-building input for tokenizer/BPE
    * training and stopword derivation.
    *
    * Two-level aggregate instead of one groupBy with a mixed
    * count/count-distinct: Spark plans the mixed form through Expand,
    * which REPLICATES every exploded token row (one copy per distinct
    * group) before the first shuffle — at sf1 that was the 9.1× wall
    * (r4 verdict). Level 1 groups by (doc, token), so the map-side
    * partial collapses every repeated token within a document before
    * anything shuffles; level 2 then folds the already-distinct pairs
    * into per-token totals (sum of tf) + document frequency (row
    * count) on a far smaller table. minCount prunes the long tail
    * before it is ever collected. */
  def tokenFrequency(docs: DataFrame, idCol: String, textCol: String,
                     minCount: Long): DataFrame =
    termFrequency(wordRows(docs, idCol, textCol, "token"), "token", minCount)

  /** Corpus word-n-gram frequency table — the merge-candidate input a
    * BPE/WordPiece tokenizer build selects from (most-frequent adjacent
    * pairs), complementing [[tokenFrequency]]'s unigram vocabulary.
    * Grams come as STRINGS from one native pass per doc
    * ([[graft.functions.StringExpressions.ShingleStrings]] — the
    * interpreted slice/concat HOF chain this family replaced in round
    * 5), then the same skew-safe two-level aggregate as
    * [[tokenFrequency]] (SURVEY §8 rule 1): level 1 collapses repeats
    * within a document map-side, level 2 folds per-gram totals +
    * document frequency with COUNT(DISTINCT)-style null-id exclusion.
    * minCount prunes the Zipfian tail before it is ever collected. */
  def ngramFrequency(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minCount: Long): DataFrame =
    termFrequency(docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.StringExpressions.shingleStrings(
          normalizeText(col(textCol)), n)).as("ngram")), "ngram", minCount)

  /** BPE merge-candidate table (round 8) — the first iteration of BPE
    * tokenizer training (Sennrich et al. 2016): frequency of every
    * adjacent SYMBOL pair over the corpus, symbols being the
    * characters of each normalized word plus the end-of-word sentinel
    * `_` (safe: normalized text is [a-z0-9 ]). `rank` 1 is the merge a
    * BPE trainer would perform; re-running after applying a merge to
    * the vocab table (a vocab-sized rewrite, not a corpus pass) yields
    * iteration 2 — the corpus is never re-read.
    *
    * Scale shape: the ONLY corpus-sized work is the word-frequency
    * reduction, the same skew-safe two-level aggregate as
    * [[tokenFrequency]]; pair extraction then explodes the VOCAB table
    * (corpus-size-independent — 100 TB of text and 100 GB of text have
    * comparable vocabularies), so the interpreted higher-order slice
    * lambda never touches a corpus row, and the pair aggregate/rank
    * live on an alphabet²-bounded table (the one sanctioned global
    * window: its partition is bounded by construction). */
  def bpePairCounts(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long): DataFrame = {
    val sym = concat(col("word"), lit("_"))
    wordFrequency(docs, idCol, textCol, "__c")
      .select(col("__c"),
        explode(transform(sequence(lit(1), length(sym) - 1),
          i => sym.substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("__c")).as("pair_count"))
      .filter(col("pair_count") >= minCount)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pair_count").desc, col("pair").asc)).cast("long"))
  }

  /** Full BPE merge LOOP (round 10) — the N-iteration tokenizer build
    * [[bpePairCounts]] documents the recipe for (Sennrich et al. 2016):
    * the corpus reduces ONCE to the word-frequency table, and every
    * merge round after that is vocab-sized — count adjacent symbol
    * pairs weighted by word frequency, take the most frequent (ties on
    * the pair string, the e49 rank order), rewrite the vocab applying
    * the merge, repeat. Emits the merge table a tokenizer trainer
    * persists: (merge_rank, pair, pair_count), stopping early when no
    * pair reaches `minCount`.
    *
    * Vocab representation: each word is a single-space-joined symbol
    * string padded with boundary spaces (" h e l l o _ "). The merge
    * rewrite must be Sennrich's greedy left-to-right non-overlapping
    * pass, and a naive " x y " → " xy " literal replace is NOT: it
    * consumes the trailing boundary space, so on an identical-symbol
    * run (" a a a a a ", which earlier merges produce naturally from
    * e.g. "ababababab") the scan resumes PAST the third symbol's
    * leading space and pairs sites (1,2),(4,5) where greedy pairs
    * (1,2),(3,4) — a second pass cannot repair that (round-10 flaw).
    * Instead each round transiently DOUBLES every space, so adjacent
    * sites no longer share a boundary character: one literal replace
    * of " x  y " → " xy " (consuming only the INNER space of each
    * boundary) then matches exactly the greedy pairing — after a
    * match, the right neighbor's outer space is still there to lead
    * the next match — and halving the double spaces restores the
    * representation (every boundary is exactly two spaces by
    * construction, replacement included). Both engines run the same
    * three literal `replace` calls (single-pass, left-to-right,
    * non-overlapping in both) on the same strings, so vocab states
    * cannot drift (the oracle unrolls the same rounds in SQL). The
    * per-round top-1 collect is one bounded row (the Components.scala
    * precedent), and the per-round lazy localCheckpoint stops plan
    * growth across rounds — the same trade e17's label propagation
    * makes.
    *
    * Scale shape: one corpus-sized two-level aggregate total (the
    * word-frequency reduction, §8 rule 1), checkpointed so NO round
    * re-reads the corpus; each round then costs one aggregate + one
    * projection over the VOCAB table, which is corpus-size-independent
    * (100 TB of text and 100 GB of text have comparable vocabularies). */
  def bpeMergeLoop(docs: DataFrame, idCol: String, textCol: String,
                   nMerges: Int, minCount: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, merges) = bpeTrainVocab(docs, idCol, textCol, nMerges, minCount)
    merges.toDF("merge_rank", "pair", "pair_count")
  }

  /** The shared e60/e63 training core: runs the merge loop and returns
    * BOTH the final vocab state (word, w = space-joined symbol string,
    * c = corpus frequency) and the merge table. The `word` column rides
    * along untouched by the rewrites so encode-side consumers (e63)
    * can join the trained segmentation back onto corpus words. */
  private def bpeTrainVocab(docs: DataFrame, idCol: String, textCol: String,
                            nMerges: Int, minCount: Long): (DataFrame, Seq[(Long, String, Long)]) = {
    require(nMerges >= 1 && nMerges <= 10000, s"nMerges $nMerges out of range")
    // the ONLY corpus-derived table; checkpointed so the loop's
    // per-round actions replay vocab blocks, never the corpus scan
    var vocab = bpeInitialVocab(wordFrequency(docs, idCol, textCol, "c"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      r += 1
      val top = vocab
        .select(explode(graft.functions.StringExpressions.shingleStrings(
          trim(col("w")), 2)).as("pair"), col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("pc"))
        .filter(col("pc") >= minCount)
        .orderBy(col("pc").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val pair = top(0).getString(0)
        val pc = top(0).getLong(1)
        merges += ((r.toLong, pair, pc))
        vocab = bpeMerge(vocab, pair)
      }
    }
    (vocab, merges.toSeq)
  }

  /** The corpus word-frequency table of BPE training: (word, count
    * `as`), by the same two-level aggregate as [[tokenFrequency]]. */
  private def wordFrequency(docs: DataFrame, idCol: String, textCol: String,
                            as: String): DataFrame =
    wordRows(docs, idCol, textCol, "word")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("word"))
      .agg(sum(col("__tf")).as(as))

  /** The merge-free BPE vocab state of a word table: `w` is each word's
    * symbols, space-joined and padded with boundary spaces, plus the
    * end-of-word sentinel (" h e l l o _ "); the table's other columns
    * follow. Checkpointed: every merge round reads it. */
  private def bpeInitialVocab(words: DataFrame): DataFrame =
    words.select(col("word") +:
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" _ ")).as("w") +:
        words.columns.toSeq.filter(_ != "word").map(col): _*)
      .checkpointAs("TextOps.bpeInitialVocab")

  /** One BPE merge of `pair` ("x y") over a vocab state, by the
    * doubled-space scheme (see [[bpeMergeLoop]]): " x  y " consumes one
    * space of each boundary, leaving the neighbors' outer spaces intact
    * for the next match. Checkpointed per round, so the plan does not
    * grow with the rounds. */
  private def bpeMerge(vocab: DataFrame, pair: String): DataFrame = {
    val pat = lit(s" ${pair.replace(" ", "  ")} ")
    val rep = lit(s" ${pair.replace(" ", "")} ")
    vocab
      .withColumn("w",
        replace(replace(replace(col("w"), lit(" "), lit("  ")), pat, rep),
          lit("  "), lit(" ")))
      .checkpointAs("TextOps.bpeMerge")
  }

  /** Per-doc token counts under the TRAINED BPE tokenizer (round 11) —
    * the real token accounting e10's whitespace/regex proxy stands in
    * for, and the quantity every packing (e23/e28), mixture (e33) and
    * cost model actually budgets by: train the e60 merge loop, then
    * count each document's tokens as the sum over its words of the
    * final segmentation's symbol count (the `_` end-of-word marker
    * counts as a token unless a merge absorbed it — Sennrich's </w>
    * convention for an unmerged marker).
    *
    * Scale shape: training is e60's (ONE corpus reduction, vocab-sized
    * rounds); encoding never rewrites the corpus — the corpus
    * tokenizes once (narrow), the trained vocab (word → symbol count)
    * is vocabulary-sized so AQE broadcasts the join, and the per-doc
    * sum is a doc-keyed partial aggregate. This is the encode-side
    * payoff of training on the WORD table: applying M merges to 100 TB
    * of raw text would cost M corpus rewrites; applying them to the
    * vocab costs M vocab rewrites and one broadcast join.
    *
    * Oracle: the e60 CTE chain carrying `word` through every round,
    * then the same join + sum in SQL — vocab states are bit-identical
    * by the e60 argument, so token counts are exact. */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     nMerges: Int, minCount: Long): DataFrame = {
    val (vocab, _) = bpeTrainVocab(docs, idCol, textCol, nMerges, minCount)
    encodedCounts(wordRows(docs, idCol, textCol, "word"), vocab)
  }

  /** Per-doc (n_tokens, n_words) of (doc_id, word) rows whose words
    * count the symbols of their final `vocab` state. */
  private def encodedCounts(words: DataFrame, vocab: DataFrame): DataFrame =
    words.join(vocab.select(col("word"),
        size(split(trim(col("w")), " ")).cast("long").as("__tc")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__tc")).as("n_tokens"), count(lit(1)).as("n_words"))

  /** ENCODE-ONLY application of a persisted merge table (round 11) —
    * the inference half of the tokenizer lifecycle [[bpeTrainVocab]]
    * trains: given merges in rank order (the e60 artifact, typically
    * persisted to the g13 versioned store and read back), segment a
    * FRESH corpus's words by replaying the merges — no pair counting,
    * no top-1 collects, just M vocab-sized greedy rewrites (the same
    * doubled-space literal replace as training, so a word seen in
    * training segments EXACTLY as it did there, and an unseen word
    * segments by the same greedy rule a scalar encoder applies).
    * Returns per-doc (n_tokens, n_words) like [[bpeTokenCounts]].
    *
    * Scale shape: the fresh corpus reduces once to its DISTINCT word
    * table (two-level aggregate); each merge rewrites that vocab
    * (corpus-size-independent); the (word → symbol count) result
    * broadcasts back onto one narrow tokenize pass. This is the daily
    * inference cadence: train once on the big corpus, encode each new
    * crawl at vocab cost. */
  def applyBpeMerges(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[String]): DataFrame = {
    require(merges.forall(_.contains(" ")), "merges must be 'x y' pairs")
    val inst = wordRows(docs, idCol, textCol, "word")
    val vocab = merges.foldLeft(bpeInitialVocab(inst.select(col("word")).distinct()))(bpeMerge)
    encodedCounts(inst, vocab)
  }

  /** Per-doc top-k terms by TF-IDF — the keyword/vocabulary projection
    * of the corpus (classic two-pass scheme: per-doc term counts, then
    * corpus-wide document frequencies, idf = ln(N/df)). The scalar doc
    * count broadcasts. Rank is taken on the ROUNDED score (then token)
    * so ordering is reproducible across engines' last-ulp log/division
    * differences.
    *
    * Document frequency is a partial-aggregated `groupBy(token)` joined
    * back onto the materialized tf table — NOT a count window
    * partitioned by token (SURVEY §8 skew playbook). Token frequency is
    * Zipfian on every real corpus: a window does no map-side combine,
    * so the "the"/"of" partitions would co-locate one row per containing
    * document — billions of rows in single partitions at 100 TB. The
    * groupBy collapses them map-side; the lazy localCheckpoint keeps
    * the corpus tokenized exactly once across the two branches (shape
    * race measured below). The df side is the
    * vocabulary — small next to the corpus — so AQE broadcasts the
    * join-back at runtime and falls back to a shuffled (skew-splitting)
    * join only if the vocabulary outgrows the broadcast budget. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = wordRows(docs, idCol, textCol, "token")
    // The tf table feeds two branches (df aggregate + join-back), so it
    // must materialize ONCE — every alternative was measured at sf1,
    // min-of-3 interleaved in one JVM (local[32]):
    //   count window on token (skew-unsafe)   1.22 s
    //   tf.persist(MEMORY_AND_DISK)           2.79 s  (columnar cache
    //     encode costs more than the tokenize pass it saves)
    //   no materialization                    3.22 s  (corpus scanned +
    //     tokenized twice: ReuseExchange cannot dedupe the branches —
    //     column pruning collapses the df branch's inner aggregate to a
    //     bare distinct, a different subtree; spelling it count(tf) to
    //     block pruning doesn't survive either, the non-null rewrite
    //     turns it back into count(1))
    //   lazy localCheckpoint                  1.23 s  (raw UnsafeRow
    //     blocks, no columnar encode; both branches read the blocks)
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .checkpointAs("TextOps.tfidfTopK.tf")
    // tf rows are distinct (doc, token), so df = per-token row count
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("__n").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-doc unigram language-model quality score — the CCNet-style
    * "how surprising is this document under the corpus's own unigram
    * model" proxy (Wenzek et al. 2020 use a KenLM 5-gram; the unigram
    * form is the engine-native scale path): gibberish, boilerplate and
    * wrong-language docs score far below fluent text. The model IS the
    * corpus: token → ln(n/total) over tokens with n ≥ minCount;
    * rarer (pruned) tokens score as out-of-vocabulary with additive
    * 0.5 smoothing, ln(0.5/total).
    *
    * Cross-engine determinism: per-token log-probs quantize to
    * integer micro-logs (⌊ln(p)·10⁶⌋ as BIGINT), so each doc's sum is
    * exact integer arithmetic — no float summation order — and the
    * final per-token average floors onto a 4-decimal grid from exact
    * inputs (the b5 quantize-then-integer-sum pattern; sums stay under
    * 2⁵³ so the double division is exact-input correctly-rounded).
    *
    * Scale shape: reuses the two-level (doc, token) partial aggregate
    * (§8 rule 1 — repeats collapse map-side before any shuffle; the
    * "the" partition never concentrates). The vocabulary join-back is
    * minCount-pruned and Zipf says that prunes the long tail, so AQE
    * broadcasts it at ordinary scales and falls back to a shuffled
    * join (skew-splitting) only if the vocabulary outgrows the budget.
    * `total` is a 1-row scalar broadcast. The tf table feeds the vocab
    * aggregate and the join-back, so it materializes once — the same
    * measured lazy-localCheckpoint trade as [[tfidfTopK]] above. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     minCount: Long): DataFrame = {
    val tf = wordRows(docs, idCol, textCol, "token")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .checkpointAs("TextOps.unigramLogProb.tf")
    // vocabulary-sized, but TWO consumers (the total scalar and the
    // minCount-pruned join side) — materialize so the tf table is
    // shuffled into per-token totals exactly once
    val vocabAll = tf.groupBy(col("token")).agg(sum(col("tf")).as("__vn"))
      .checkpointAs("TextOps.unigramLogProb.vocab")
    val total = vocabAll.agg(sum(col("__vn")).as("__total"))
    val vocab = vocabAll.filter(col("__vn") >= minCount)
    val lnTotal = col("__total").cast("double")
    val scored = tf.join(vocab, Seq("token"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__lpq", micros(
        when(col("__vn").isNull, log(lit(0.5) / lnTotal))
          .otherwise(log(col("__vn").cast("double") / lnTotal))))
    microLogScore(scored, "n_tokens", "oov_tokens", "__vn")
  }

  /** Per-doc `total` tf, `rare` tf (null `model`) and the tf-weighted
    * mean micro-log `__lpq` floored onto the 1e-4 grid, in exact integers. */
  private def microLogScore(scored: DataFrame, total: String, rare: String,
                            model: String): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as(total),
        sum(when(col(model).isNull, col("tf")).otherwise(lit(0L))).as(rare),
        (floor(sum(col("__lpq") * col("tf")).cast("double") /
          (lit(100.0) * sum(col("tf")))) / 10000.0).as("logprob"))

  /** CCNet-style LM-quality bucketing (round 9, after Wenzek et al.
    * 2020): per language, rank documents by their corpus-LM score
    * ([[unigramLogProb]]) and split the corpus into head / middle /
    * tail thirds — the curation tiering that routes head-quality text
    * to training and tail to review, without a hand-tuned threshold.
    *
    * Bucket boundaries are VALUE thresholds on the integer micro-log
    * grid (the largest score value whose descending cumulative count
    * reaches ⌈n/3⌉ resp. ⌈2n/3⌉, decided as 3·cum ≥ n in exact
    * integers), so ties share a bucket and the split is deterministic
    * and engine-exact — never a row-rank tiebreak on equal scores.
    * Documents with zero tokens carry no score and are absent, as in
    * e34.
    *
    * Scale shape: e34's score pass (tf shuffle + vocab join), one
    * doc-keyed equi-join to recover the language column, then the
    * winsorize/e46 histogram discipline — per-(lang, score) counts
    * partial-aggregate into a bounded histogram, ONE cumulative
    * window over THAT yields both thresholds, and the per-lang
    * threshold rows broadcast back. The corpus is never sorted or
    * ranked. The scored table feeds two consumers (histogram +
    * bucket join) — materialized per §8 rule 3. */
  def lmQualityBuckets(docs: DataFrame, idCol: String, textCol: String,
                       langCol: String, minCount: Long): DataFrame = {
    val scored = unigramLogProb(docs, idCol, textCol, minCount)
      .select(col("doc_id"), col("n_tokens"), col("logprob"),
        round(col("logprob") * 10000).cast("long").as("__lp"))
      .join(docs.select(col(idCol).as("doc_id"), col(langCol)), "doc_id")
      .checkpointAs("TextOps.lmQualityBuckets.scored")
    val cumW = Window.partitionBy(col(langCol)).orderBy(col("__lp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = scored
      .groupBy(col(langCol), col("__lp"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(langCol))))
      .groupBy(col(langCol))
      .agg(max(when(col("__cum") * 3 >= col("__n"), col("__lp"))).as("__t_head"),
        max(when(col("__cum") * 3 >= col("__n") * 2, col("__lp"))).as("__t_mid"))
    scored.join(broadcast(thr), Seq(langCol))
      .select(col("doc_id"), col(langCol), col("n_tokens"), col("logprob"),
        when(col("__lp") >= col("__t_head"), "head")
          .when(col("__lp") >= col("__t_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Corpus-self-trained BIGRAM LM quality score (round 8) — the next
    * LM order up from [[unigramLogProb]], closing on the CCNet/KenLM
    * filter shape: per doc, the mean log-probability of its word
    * bigrams under additively-smoothed corpus bigram statistics,
    *   P(cur | prev) = (c2' + 1) / (n_ctx(prev) + V),
    * where c2' is the corpus count of the bigram when it clears
    * `minCount` (else 0 — rare pairs fall to the smoothing floor,
    * which is also how out-of-vocabulary text scores low WITHOUT an
    * unk-mapping join over the corpus), n_ctx(prev) is the number of
    * bigram occurrences opening with `prev`, and V is the
    * context-vocabulary size (contexts clearing minCount, +1) — both
    * derived from the tiny pair-count table, never a second corpus
    * pass. Log-probs quantize to integer micro-logs so doc sums are
    * exact integers (the e34/b5 pattern); docs need ≥ 2 words to have
    * a score. Output: (doc_id, n_bigrams, rare_bigrams, logprob).
    *
    * Scale shape: bigram strings come from the same one-native-pass
    * ShingleStrings kernel as e31; the (doc, pair) table two-level
    * partial-aggregates (§8 rule 1) and materializes once for its two
    * consumers (pair-count aggregate + score join-back). The
    * pair-count and context tables are corpus-distinct-bigram-sized
    * and shrink to the minCount head before joining back on the
    * Zipfian pair key (AQE skew territory, same as e34's vocab
    * join). */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long): DataFrame = {
    // NO materialization of the corpus-sized (doc, pair) table: its
    // two consumers each re-scan + re-shingle the corpus instead
    // (columnar scan + the native kernel), which the BASELINE.md e50
    // plan study measured strictly cheaper than a localCheckpoint write
    // of the 10×-wider exploded table (sf30: 21 s vs 66 s; sf10: 9.5 s
    // vs checkpointed 19-34 s). Two rejected variants, both measured:
    // (a) a single join against an UNPRUNED per-pair score table —
    // loses the small-table broadcasts (the score table is the full
    // distinct-bigram population, the pruned kept/ctx tables are the
    // Zipf head); (b) packed-poly-hash join keys — DIVERGES from
    // string semantics at sf10+ (pair population vs PolyP ≈ 2^30 —
    // birthday collisions merge counts), which is why the join-backs
    // key on the pair STRING.
    def tf2 = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.StringExpressions.shingleStrings(
          normalizeText(col(textCol)), 2)).as("pair"))
      .groupBy(col("doc_id"), col("pair")).agg(count(lit(1)).as("tf"))
    val pairCounts = tf2.groupBy(col("pair")).agg(sum(col("tf")).as("__c2"))
      .withColumn("__prev", substring_index(col("pair"), " ", 1))
      .checkpointAs("TextOps.bigramLogProb.pairCounts") // vocab-sized: ctx, V, kept
    val ctx = pairCounts.groupBy(col("__prev"))
      .agg(sum(col("__c2")).as("__nctx"))
    val vocabV = ctx.filter(col("__nctx") >= minCount)
      .agg((count(lit(1)) + 1L).as("__v"))
    val kept = pairCounts.filter(col("__c2") >= minCount)
      .select(col("pair"), col("__c2"))
    val scored = tf2
      .withColumn("__prev", substring_index(col("pair"), " ", 1))
      .join(kept, Seq("pair"), "left")
      .join(ctx, Seq("__prev"), "left")
      .crossJoin(broadcast(vocabV))
      .withColumn("__lpq", micros(log(
        (coalesce(col("__c2"), lit(0L)) + 1L).cast("double") /
          (col("__nctx") + col("__v")).cast("double"))))
    microLogScore(scored, "n_bigrams", "rare_bigrams", "__c2")
  }

  /** PII-style redaction for corpus cleaning: emails → <EMAIL>, URLs →
    * <URL>, digit runs of 4+ → <NUM>. One narrow regexp_replace chain;
    * patterns stay in the Java/RE2 common subset so any engine
    * reproduces the output byte-for-byte. Email/URL first — <NUM> must
    * not eat the digits inside them. */
  def redact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    val num = "[0-9]{4,}"
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), email, "<EMAIL>"),
          url, "<URL>"),
        num, "<NUM>").as("redacted_text"))
  }

  /** Polynomial rolling-hash fingerprint over normalized text — the
    * cheap exact-dup / shard-routing key. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      polyFingerprint(normalizeText(col(textCol))).as("fingerprint"))

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * per doc, the fraction of words in the most-frequent word, the
    * duplicate-word fraction, and the most-frequent-bigram fraction.
    * High values flag boilerplate/spam for pretraining filters.
    *
    * Only FRACTIONS of the max count are emitted, so no tie-break on
    * which gram is "top" ever matters. Fractions are exact-e4 half-up
    * ratios of integer counts — bit-identical across engines.
    *
    * Scale shape: explode + two-level aggregation keyed on (doc, gram) —
    * the shuffle key is fine-grained, so hot documents don't hot-spot a
    * partition; bigrams come from a per-doc window lead over the
    * exploded positions (same doc-keyed partitioning the aggregation
    * wants). Docs with no words keep a row with zero counts via the
    * left join from the id spine. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normalizeText(col(textCol))
    val words = when(length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, " "))
    val toks = docs.select(col(idCol).as("doc_id"), explode(words).as("word"))
      .filter(length(col("word")) > 0)
    val wc = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val wstats = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("total"), count(lit(1)).as("dstnct"), max(col("c")).as("topw"))
    // Bigrams come from a per-row zip of the word array against itself
    // shifted by one — NOT from a lead() window over the exploded
    // tokens: the window formulation shuffled AND sorted the whole
    // exploded token table per doc (225M rows at sf30) and went
    // super-linear at the third decade for exactly the d15 reason —
    // the sort spilled (105 s solo at sf30; this shape: 12 s). slice/
    // arrays_zip are codegen'd Catalyst expressions, so the pair
    // stream stays narrow and inside whole-stage codegen.
    val bigrams = docs
      .select(col(idCol).as("doc_id"), words.as("__w"))
      .select(col("doc_id"),
        slice(col("__w"), lit(1), greatest(size(col("__w")) - 1, lit(0))).as("__a"),
        slice(col("__w"), lit(2), greatest(size(col("__w")) - 1, lit(0))).as("__b"))
      .select(col("doc_id"), explode(arrays_zip(col("__a"), col("__b"))).as("z"))
      .select(col("doc_id"),
        concat(col("z.__a"), lit(" "), col("z.__b")).as("bigram"))
    val bstats = bigrams.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("btotal"), max(col("c")).as("topb"))
    docs.select(col(idCol).as("doc_id"))
      .join(wstats, Seq("doc_id"), "left")
      .join(bstats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total"), lit(0L)).as("n_words"),
        coalesce(col("dstnct"), lit(0L)).as("n_distinct"),
        when(col("total") > 0, fracE4(col("topw"), col("total")))
          .otherwise(0.0).as("top_word_frac"),
        when(col("total") > 0, fracE4(col("total") - col("dstnct"), col("total")))
          .otherwise(0.0).as("dup_word_frac"),
        when(col("btotal") > 0, fracE4(col("topb"), col("btotal")))
          .otherwise(0.0).as("top_bigram_frac"))
  }

  /** Overlapping fixed-size chunking — the context-window prep step
    * that splits long documents into `size`-word chunks advancing by
    * `size − overlap` words. A tail start is suppressed when the
    * previous chunk already reached the end of the document (its chunk
    * would be a strict suffix of the predecessor's). Emits
    * (doc_id, chunk_start, n_tokens, chunk_text).
    *
    * Fully narrow: per-row sequence of starts, explode, slice, join —
    * no shuffle at any corpus size; chunk boundaries depend only on the
    * row itself. */
  def chunkText(docs: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val t = trim(col(textCol))
    val ws = when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
    val base = docs.select(col(idCol).as("doc_id"), ws.as("__ws"))
      .withColumn("__n", size2(col("__ws")))
      .filter(col("__n") > 0)
    base
      .withColumn("chunk_start",
        explode(sequence(lit(0), col("__n") - 1, lit(stride))))
      .filter(col("chunk_start") === 0 ||
        col("chunk_start") - stride + size < col("__n"))
      .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
        slice(col("__ws"), col("chunk_start") + 1, lit(size)).as("__chunk"))
      .select(col("doc_id"), col("chunk_start"),
        size2(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** `functions.size` under a name that doesn't collide with the
    * chunker's `size` parameter. */
  private def size2(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Per-source distinctive tokens by LIFT vs the whole corpus —
    * "what makes this source different" (round 8): lift =
    * (c_s/n_s)/(c_all/n_all), top-k per source among tokens the
    * source uses ≥ minCount times. The corpus-composition view a
    * mixture designer reads before setting e33's sampling rates.
    *
    * Skew discipline (SURVEY §8 rule 1): token keys are Zipfian, so
    * every corpus-scale aggregate is a partial-aggregated groupBy —
    * (source, token) counts collapse map-side, token/source totals
    * are aggregates OF that aggregate. The per-source top-k cannot
    * window over (source) directly (a source's candidate set scales
    * with vocabulary): it runs the distributed two-stage top-k — a
    * salt on hash(token) bounds the first window's partitions at
    * 1/64th of a source's candidates, and the final window ranks at
    * most 64·k survivors per source. Exact: a token in a source's
    * true top-k is necessarily in its own salt bucket's top-k.
    *
    * Lift doubles are ratios of exact integer counts evaluated with
    * one expression shape, so ordering and the floor-half-up 1e-4
    * rounding are engine-portable (§8 round-half-up finding). */
  def sourceTokenLift(docs: DataFrame, textCol: String, sourceCol: String,
                      minCount: Long, k: Int): DataFrame = {
    require(k > 0 && minCount >= 1)
    val tok = wordRows(docs.filter(col(sourceCol).isNotNull), sourceCol, textCol, "token",
      keyAs = "source")
    val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_s"))
    val tot = st.groupBy(col("token")).agg(sum(col("c_s")).as("c_all"))
    val src = st.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val all = st.agg(sum(col("c_s")).as("n_all"))
    val cand = st.filter(col("c_s") >= minCount)
      .join(tot, Seq("token"))
      .join(broadcast(src), Seq("source"))
      .crossJoin(broadcast(all))
      .withColumn("__lift",
        (col("c_s").cast("double") * col("n_all")) /
          (col("n_s").cast("double") * col("c_all")))
    val w1 = Window.partitionBy(col("source"), pmod(hash(col("token")), lit(64)))
      .orderBy(col("__lift").desc, col("token"))
    val survivors = cand.withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= k).drop("__r")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("__lift").desc, col("token"))
    survivors.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("source"), col("token"), col("c_s"), col("c_all"),
        (floor(col("__lift") * 10000 + 0.5) / 10000.0).as("lift"),
        col("rank").cast("long").as("rank"))
  }
}
