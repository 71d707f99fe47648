package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation with pointer
  * doubling — the step that turns near-duplicate PAIRS into duplicate
  * CLUSTERS so a dedup pipeline can keep exactly one representative per
  * cluster (pairs alone under-delete: a–b and b–c dropped pairwise can still
  * keep two of {a,b,c}).
  *
  * Algorithm per round, all as shuffled joins/aggregations (no driver-side
  * graph state):
  *   (1) rep-level neighbor-min over the CONTRACTED graph:
  *       l₁(n) = min(l(n), min dst of contracted edges out of l(n))
  *   (2) full path compression: jump l(n) ← l(l(n)) to the fixpoint
  *       (each jump squares the remaining pointer depth — O(log depth)
  *       node-sized joins)
  *   (3) contraction: map both endpoints of the contracted edge set
  *       through the new labels and drop internal edges; EMPTY ⟺ done.
  * The contraction is load-bearing, not an optimization: it merges whole
  * components per round (star contraction — the large-star/small-star
  * family, Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14), giving O(log n) rounds on ANY topology. Neighbor-min over the
  * ORIGINAL edges with a single pointer jump — this operator's previous
  * formulation — crawls on high-diameter graphs: a 997-node
  * permutation-cycle graph (diameter ~250, q250's edge stream) measured 59
  * rounds there vs 5 contracted, and blew the 25-round budget.
  *
  * Scale notes (100 TB):
  *   - `edges` is persisted (pinned in durable mode) so each round
  *     touches the deduplicated edge list, never the upstream candidate
  *     generator; min() is map-side combinable so hub nodes don't skew
  *     step (1).
  *   - The convergence probe rides the pin job as an `observe()`
  *     metric (labels only ever decrease, so Σ label is strictly monotone
  *     until the fixpoint) — zero extra jobs or driver round-trips.
  *   - l₁ is materialized once per round; the pointer-double join consumes
  *     the stored blocks twice instead of recomputing the neighbor-min
  *     subplan for both join sides.
  *   - Step (2)'s probe side concentrates on a giant component's label. The
  *     hot-label split bounds that structurally: labels owning ≥
  *     `hotLabelThreshold` nodes (at most n/threshold of them — a bounded,
  *     model-sized set, like a centroid table) resolve through a broadcast
  *     map; only keys with < threshold rows ever reach the shuffled join.
  *     AQE's skew split remains as backstop for the cold path.
  */
object ConnectedComponents {

  /** @param pairs two-column DataFrame of undirected edges (u, v)
    * @param maxIters convergence bound; O(log n) rounds are expected, so 25
    *                 covers any plausible corpus (2^25 pointer depth)
    * @param hotLabelThreshold pointer-double probe keys with at least this
    *                 many rows are resolved via broadcast instead of shuffle
    * @return (node, rep) — rep is the minimum node id reachable from node;
    *         every node that appears in `pairs` gets a row
    */
  def apply(pairs: DataFrame, maxIters: Int = 25,
      hotLabelThreshold: Long = 100000L): DataFrame = {
    val e0 = pairs.toDF("u", "v")
    val edgesPlan = e0.union(e0.select(col("v"), col("u")))
      .toDF("src", "dst")
      .distinct()
    // Durable mode pins the deduplicated edge list too: each round's
    // neighbor-min re-reads it, and persist() blocks are exactly as
    // executor-loss-fragile as localCheckpoint's. Block mode keeps the
    // lazy persist (no eager job).
    val (edges, edgeCount) =
      if (Materialize.durable(pairs.sparkSession)) {
        val p = Materialize.pin(edgesPlan, "cc_edges")
        (p.df, p.rows)
      } else {
        val e = edgesPlan.persist()
        (e, e.count())
      }
    // Each round's result is pinned (Materialize.pin): the pointer-double
    // join references l₁ TWICE, so without materialization the neighbor-min
    // subplan runs twice per round and the logical plan doubles per round
    // (planning itself goes exponential). The convergence probe rides the
    // pin job (one action per round, no extra pass).
    // Seed with round 1's neighbor-min already applied: label₀(n) =
    // min(n, min neighbor) — one aggregation instead of a distinct plus a
    // full propagate round (every node appears as src of the bidirectional
    // edge list, so the groupBy also enumerates the node set).
    // Pins are STATS-CLAMPED (r13): a pin's LogicalRDD carries the origin
    // plan's sizeInBytes, and the pointer-double join of a round with
    // itself SQUARES it per round — seeded from a streaming micro-batch
    // (huge default stats) the estimate BigInts hit millions of bits and
    // Catalyst's stats rewrite grinds the driver. Rewriting each round's
    // stats from its OBSERVED row count (×64 B/row — two longs + row
    // overhead, deliberately generous) makes the rounds safe at any seed.
    def pin(df: DataFrame, tag: String, extra: Column*): Pinned = {
      val p = Materialize.pin(df, tag, extra: _*)
      p.copy(df = org.apache.spark.sql.GraftSqlBridge.withStats(p.df,
        BigInt(math.max(p.rows, 1L)) * 64, Some(BigInt(p.rows))))
    }
    // Σ label, the convergence probe; sum() over an empty frame is NULL —
    // treat as 0 (degenerate empty graph)
    val labelSumCol = sum(col("label")).as("s")
    def labelSum(m: Map[String, Any]): Long = Option(m("s")).fold(0L)(_.asInstanceOf[Long])
    var labels = pin(
      edges.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("nbr"))
        .select(col("node"), least(col("node"), col("nbr")).as("label")),
      "cc_seed").df
    // One pointer jump l'(n) = l(l(n)): labels are always node ids, so the
    // label table has a row for every label value; left+coalesce is only a
    // safety net. Hot labels (≥ threshold probe rows) resolve through a
    // BROADCAST of their lookup rows — bounded at n/threshold rows, one
    // (label, l(label)) pair per hot label, id-type-generic (no driver
    // materialization) — so no shuffle key ever carries a giant component's
    // full row set. The split is gated on the label table's total row count
    // (observed on its pin job): below threshold — e.g. any
    // test-scale run — no label can be hot and the plain join runs with
    // zero extra cost.
    def jump(cur: DataFrame, curRows: Long): DataFrame = {
      val lookup = cur.select(col("node").as("label"), col("label").as("label2"))
      if (curRows < hotLabelThreshold) {
        cur.join(lookup, Seq("label"), "left")
          .select(col("node"), coalesce(col("label2"), col("label")).as("label"))
      } else {
        val hotLookup = cur.groupBy(col("label"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= hotLabelThreshold)
          .select(col("label"))
          .join(lookup, Seq("label"))
          .withColumnRenamed("label2", "hot2")
        val marked = cur.join(broadcast(hotLookup), Seq("label"), "left")
        val hotDone = marked.filter(col("hot2").isNotNull)
          .select(col("node"), col("hot2").as("label"))
        val coldDone = marked.filter(col("hot2").isNull)
          .join(lookup, Seq("label"), "left")
          .select(col("node"), coalesce(col("label2"), col("label")).as("label"))
        hotDone.union(coldDone)
      }
    }
    // The round-0 contracted graph IS the input graph; every round
    // re-contracts it through the fresh labels, so the edge set the next
    // round touches shrinks to the COMPONENT graph — this contraction is
    // what makes the outer loop O(log n) on ANY topology. Without it
    // (neighbor-min over the ORIGINAL edges, the previous formulation),
    // min-labels crawl: a permutation-cycle graph (diameter ~250 at 997
    // nodes, from q250's edge stream) needed 59 rounds against the
    // documented O(log n) and tripped maxIters; contracted, it converges
    // in 5 (verified by exact simulation and the q250 gate).
    var (cEdges, cEdgeCount) = (edges, edgeCount)
    var iter = 0
    while (cEdgeCount > 0 && iter < maxIters) {
      // (1) rep-level neighbor-min over the CONTRACTED graph, applied to
      // every node through its label (join on label = contracted src).
      val nbrMin = cEdges.groupBy(col("src").as("label"))
        .agg(min(col("dst")).as("nbr"))
      val l1 = pin(
        labels.join(nbrMin, Seq("label"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label")),
        s"cc_l1_$iter", labelSumCol)
      var (cur, curRows, curSum) = (l1.df, l1.rows, labelSum(l1.metrics))
      // (2) FULL PATH COMPRESSION: jump to the pointer fixpoint — each
      // jump squares the remaining pointer depth, so O(log depth)
      // node-sized joins.
      var inner = 0
      var compressed = false
      while (!compressed) {
        // Defensive cap mirroring the outer maxIters guard: each jump
        // SQUARES the remaining pointer depth, so 64 jumps resolve chains
        // of length 2^64 — termination otherwise rests on the label-sum
        // being strictly monotone, and any regression (or a Long-sum wrap
        // at extreme id scales) must fail loudly, not loop forever.
        require(inner < 64,
          s"connectedComponents: path compression did not converge after " +
            s"$inner jumps in round $iter (label-sum no longer monotone?)")
        val next = pin(jump(cur, curRows), s"cc_j_${iter}_$inner", labelSumCol)
        val nextSum = labelSum(next.metrics)
        compressed = nextSum == curSum
        cur = next.df; curSum = nextSum; curRows = next.rows
        inner += 1
      }
      labels = cur
      // (3) CONTRACT: map both endpoints through the new labels, drop
      // internal edges. Empty ⟺ every input edge is inside one component
      // ⟺ converged (and the single label per component is necessarily the
      // min member id — the min node's label can never exceed itself).
      val l = labels
      val Pinned(ce, cen, _) = pin(
        cEdges
          .join(l.select(col("node").as("src"), col("label").as("ls")), Seq("src"))
          .join(l.select(col("node").as("dst"), col("label").as("ld")), Seq("dst"))
          .select(col("ls").as("src"), col("ld").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct(),
        s"cc_edges_$iter")
      cEdges = ce; cEdgeCount = cen
      iter += 1
    }
    require(cEdgeCount == 0,
      s"connectedComponents: not converged after $maxIters rounds " +
        s"($cEdgeCount contracted edges remain)")
    edges.unpersist()
    labels.withColumnRenamed("label", "rep")
  }
}
