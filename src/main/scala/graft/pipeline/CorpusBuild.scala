package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextOps}
import graft.graph.Components
import graft.sample.Sampling
import graft.Checkpoint._

/** End-to-end corpus build (e56, round 9) — the composition the
  * standalone E-group operators exist FOR, run as ONE query so the
  * stage CONTRACTS (column names, null behavior, determinism) are
  * verified to compose, not just to hold solo:
  *
  *   raw docs
  *     → curation filters (e53's lang → quality → length survivors)
  *     → near-dup cluster dedup, canonical kept (e4 pairs + e18)
  *     → duplicate-span scrub of the kept text (e44)
  *     → per-source top-quantile quality filter on the POST-SCRUB
  *       stopword ratio (e46 — scrubbing changes quality, so ranking
  *       runs after it, the order a real pipeline uses)
  *     → exact per-source cap (e47)
  *     → temperature mixture sampling (e33)
  *     → fixed-token-budget sequence packing per source (e23)
  *     → deterministic shard shuffle of the packed sequences (e48)
  *
  * Output: one row per packed training sequence —
  * (shard, position, source, bin, seq_id, n_docs, n_tokens) — fully
  * deterministic, so a single DuckDB CTE chain composed from the stage
  * operators' own oracles hash-verifies the WHOLE pipeline. A sequence
  * is identified by the minimum doc_id it packs (unique across
  * sources: a doc packs into exactly one (source, bin)); zero-token
  * docs (fully scrubbed) join no sequence, the e28 discipline.
  *
  * Scale shape: every stage keeps its own operator's plan — the
  * filters are one narrow pass; the pair join is banded/blocked (e4's
  * PPJoin); the cluster table broadcasts back as an anti-join (e18);
  * the scrub's rebuild is the one corpus-linear shuffle a rewrite
  * cannot avoid (e44); quantile, cap, and shard all run the
  * bucket-histogram decomposition (zero corpus sorts, SURVEY §8 rule
  * 9); the mixture is a broadcast rate filter; packing is one window
  * per source group. Composing them adds NO new shuffle beyond the
  * final tiny sequence-table aggregation.
  *
  * Re-expresses the reference's end-to-end DAG shape (airflow_dag.py's
  * extract → validate → transform chain) at the corpus-curation level.
  */
object CorpusBuild {

  def corpusBuild(docs: DataFrame, idCol: String, textCol: String,
                  srcCol: String,
                  minQuality: Double, minWords: Long, maxWords: Long,
                  shingleSize: Int, jaccardThreshold: Double,
                  scrubWindow: Int,
                  keepNum: Long, keepDen: Long,
                  cap: Long,
                  budgetNum: Long, budgetDen: Long,
                  seqBudget: Int, nShards: Int): DataFrame = {
    // stage 1-3: e53's cumulative lang → quality → length survivors.
    // Materialized (lazy localCheckpoint, §8 rule 3): THREE consumers
    // (the pair build, the canonical anti-join, and the scrub's
    // join-back through kept) would otherwise each re-run the
    // five-regex-family filter pass over the corpus — measured 15.5 →
    // 12.4 s at sf0.1 from this checkpoint alone.
    val sv = TextOps.curationSurvivors(
      docs.filter(col(srcCol).isNotNull), idCol, textCol, Seq(srcCol),
      minQuality, minWords, maxWords)
      .checkpointAs("CorpusBuild.corpusBuild.survivors")
    // stage 4: near-dup clusters (e4 pairs, blocked per source — the
    // survivor set is single-language) → keep the canonical member (e18)
    val pairs = Dedup.ngramJaccardPairs(sv, idCol, textCol, Seq(srcCol),
      shingleSize, jaccardThreshold)
    // two consumers (scrub + join-back) — same rule
    val kept = Components.keepCanonical(sv, pairs, idCol, "doc_a", "doc_b")
      .checkpointAs("CorpusBuild.corpusBuild.kept")
    // stage 5: duplicate-span scrub (e44) — clean_text is the
    // normalized stream, the representation every stage below ranks,
    // packs, and counts on
    val scrubbed = Dedup.dupSpanScrub(kept, idCol, textCol, scrubWindow)
      .select(col("doc_id").as(idCol), col("clean_text"))
      .join(kept.select(col(idCol), col(srcCol)), Seq(idCol))
    // stage 6: per-source top-quantile filter (e46) on the POST-SCRUB
    // stopword ratio — the same e9 expression the standalone operator
    // ranks on, re-evaluated over clean_text
    // Materialized (lazy localCheckpoint, §8 rule 3): `scored` is
    // consumed by quantileTopFilter's histogram AND filter branches,
    // and everything downstream (cap, mixture, packing) re-derives
    // from it — without materialization each branch re-runs the whole
    // scrub pipeline (the e44 rebuild shuffle + collect_list + the
    // stopword regex). QueryStageProbe on e56 at sf0.1 showed the
    // scrub subtree's stages duplicated wholesale (36k/35k-record
    // stage pairs); at 100 TB that is a second full corpus-linear
    // scrub pass for nothing.
    val scored = scrubbed.withColumn("stopword_ratio",
      TextOps.stopwordRatioCol(col("clean_text")))
      .checkpointAs("CorpusBuild.corpusBuild.scored")
    val filtered = Sampling.quantileTopFilter(scored, "stopword_ratio",
      srcCol, keepNum, keepDen)
    // stage 7-8: exact per-source cap (e47), temperature mixture (e33)
    val capped = Sampling.groupCapSample(filtered, idCol, srcCol, cap)
    val mixed = Sampling.temperatureMixSample(capped, idCol, srcCol,
      budgetNum, budgetDen)
    // stage 9: fixed-budget packing per source (e23's bin assignment)
    val packed = TextOps.packSequences(mixed, idCol, "clean_text", srcCol,
      seqBudget)
    val seqs = packed.filter(col("tokens") > 0)
      .groupBy(col(srcCol).as("source"), col("bin"))
      .agg(min(col(idCol)).as("seq_id"),
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"))
    // stage 10: deterministic shard shuffle of the sequences (e48)
    Sampling.shuffleShard(seqs, "seq_id", nShards)
      .select(col("shard"), col("position"), col("source"), col("bin"),
        col("seq_id"), col("n_docs"), col("n_tokens"))
  }
}
