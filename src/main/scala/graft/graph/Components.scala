package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoint._

/** Distributed connected components over a pair (edge) table.
  *
  * The dedup pipeline's final step: near-dup PAIRS (the output of the
  * MinHash/SimHash/Jaccard candidate generators) become CLUSTERS, so a
  * corpus build can keep exactly one canonical document per cluster.
  *
  * Algorithm: min-label propagation — every node starts labeled with
  * its own id and repeatedly takes the minimum label over itself and
  * its neighbors until a fixpoint. Iterations are bounded by cluster
  * diameter; near-dup clusters are shallow (boilerplate families
  * converge in 2-3 rounds). Each round costs one shuffle of the
  * (node, label) table against the cached symmetric edge list — the
  * corpus itself is never touched, only the pair graph, which is
  * orders of magnitude smaller than the 100 TB input. Lineage is
  * truncated per round with localCheckpoint (the standard iterative-
  * graph pattern; cf. the MapReduce large-star/small-star family,
  * Kiveris et al. 2014, and GraphX Pregel).
  */
object Components {

  /** Label every node of the pair graph with the minimum id reachable
    * from it. Emits (node, component); nodes absent from `pairs`
    * (singleton docs) are by definition their own component and are
    * not emitted — [[keepCanonical]] treats absence as "keep".
    *
    * Each round combines one neighbor-min propagation with one
    * pointer-jumping shortcut (component ← label(component), the
    * hash-to-min idea of Rastogi et al. ICDE'13 / the large-star move
    * of Kiveris et al. SoCC'14), so convergence needs O(log diameter)
    * rounds, not O(diameter) — a 1M-hop chain (the pathological
    * near-dup shape) closes in ~20 rounds. If `maxIter` rounds still
    * have not reached the fixpoint the call THROWS rather than return
    * silently-split components: wrong labels poison every downstream
    * keep/drop decision and are invisible to the caller. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    // symmetric edge list in ONE pass over `pairs` (a union of two
    // selects would evaluate the — possibly expensive — pair plan
    // twice); duplicate edges are harmless under min-aggregation, so
    // no distinct shuffle either
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // every node appears as src of the symmetric list; seeding with
    // min(self, neighbors) costs the same single shuffle a distinct
    // would and completes the first propagation round for free — and
    // pointer-jumping the seed INSIDE the same job (one more tiny
    // self-join before the checkpoint) starts the loop at 2-hop reach,
    // which shaves a full round off typical shallow near-dup graphs
    // seed0 feeds BOTH sides of the seed pointer-jump join. Without its
    // own materialization the two join branches are two separate RDD
    // lineages, so the eager `labels` checkpoint below submits the
    // seed aggregation's exchange TWICE — and each copy recomputes
    // everything upstream of `edges`, i.e. the whole (possibly very
    // expensive) pair plan, because the edges persist() cache is still
    // cold when the two copies run concurrently (QueryStageProbe on
    // e17 at sf0.1: two identical 11k-record map stages, 13.1 + 3.7
    // task-sec — the PPJoin verify paid twice). The lazy localCheckpoint
    // gives both branches the SAME cached RDD: one stage, one verify
    // (SURVEY §8 rule 3, the same fix `prop` already carries in the
    // round loop).
    val seed0 = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("__m"))
      .select(col("node"), least(col("node"), col("__m")).as("__c1"))
      .checkpointAs("Components.connectedComponents.seed")
    var labels = pointerJump(seed0)
      .checkpointAs("Components.connectedComponents.seedJump", eager = true)
    // Convergence via the LABEL-SUM SIGNATURE: min-propagation only ever
    // DECREASES a label, so sum(component) is strictly decreasing until
    // the fixpoint and equality between rounds proves no label moved —
    // one scalar aggregate per round instead of carrying the previous
    // label through an extra join and filter-counting the diffs.
    // Decimal(38,0) keeps the sum exact out to ~1e19 graph nodes.
    // A null sum means EITHER an empty label table (legitimate: empty
    // edge input) OR decimal(38,0) overflow in non-ANSI mode — and the
    // overflow case must fail loudly: coercing it to ZERO would let two
    // consecutive overflowed rounds compare equal and report convergence
    // with wrong labels, in a function whose contract is to throw
    // rather than be silently wrong. One action either way: the row
    // count rides the same aggregate.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum(col("component").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("c")).head()
      val s = row.getDecimal(0)
      if (s == null) {
        require(row.getLong(1) == 0L,
          "label-sum overflowed decimal(38,0): convergence signature unusable")
        java.math.BigDecimal.ZERO // empty graph
      } else s
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // one propagation + pointer jump per round, O(log diameter) total.
      // Neighbor components and own component fold through a single
      // union + min-aggregation (least(own, neighborMin) as one shuffle,
      // not a groupBy plus a join back). LAZY checkpoint: the round's
      // sum action materializes it AND truncates lineage (`prop` feeds
      // both sides of the jump join, so without truncation the logical
      // plan doubles per round).
      val prop = edges.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("component"))
        .unionByName(labels)
        .groupBy(col("node"))
        .agg(min(col("component")).as("__c1"))
        .checkpointAs("Components.connectedComponents.propagate")
      val next = pointerJump(prop).checkpointAs("Components.connectedComponents.round")
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component labels would be silently wrong; raise maxIter")
    labels
  }

  /** Pointer jumping over (node, __c1): component ← min(__c1,
    * label(__c1)). Labels are ids of nodes in the table, so the lookup
    * hits (left join + coalesce guards only first-round states). */
  private def pointerJump(t: DataFrame): DataFrame =
    t.join(t.select(col("__c1").as("__cc"), col("node").as("__c1")), Seq("__c1"), "left")
      .select(col("node"),
        least(col("__c1"), coalesce(col("__cc"), col("__c1"))).as("component"))

  /** Corpus dedup by cluster: drop every non-canonical member (node
    * whose component label is not its own id); documents in no pair
    * survive untouched. The cluster table is tiny relative to the
    * corpus, so the anti-join broadcasts under AQE — the 100 TB side
    * never shuffles. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String, bCol: String): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("component") =!= col("node"))
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Dup-cluster size histogram (round 11, e66) — the dedup REPORT a
    * curation run publishes: how many clusters of each size the pair
    * graph resolves to (count-of-counts over
    * [[connectedComponents]]' output, the d23 histogram shape). Both
    * aggregates are rule-1 partials over bounded domains (component
    * ids, then cluster sizes); all-integer outputs. Singleton docs
    * (never in any pair) are NOT clusters — components only covers
    * pair-connected nodes, so size-1 rows cannot appear. */
  def componentSizeHistogram(components: DataFrame): DataFrame =
    components.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
}
