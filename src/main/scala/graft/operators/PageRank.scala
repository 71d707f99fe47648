package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.idiv

/** Weighted PageRank over an edge list, in exact integer micro-arithmetic.
  *
  * The rank vector is carried as BIGINT micro-units (1.0 ≡ 1 000 000) and
  * every per-edge contribution is floored INDIVIDUALLY before the sum:
  *
  *   pr'(v) = (1-d)·10⁶ div N  +  Σ_{u→v} (17·pr(u)·w(u,v)) div (20·outw(u))
  *
  * with d = 0.85 = 17/20. Floor-then-sum is order-insensitive, so the result
  * is bit-identical on any partitioning AND in any engine with integer
  * division — the DuckDB oracle unrolls the same recurrence. (A float
  * PageRank would be order-sensitive in the reduction; micro-units cost at
  * most N·iters·10⁻⁶ of total mass to flooring.)
  *
  * Semantics: dangling mass is NOT redistributed (nodes without out-edges
  * absorb rank; standard teleport-only variant). Width bound: 17·pr·w < 2⁶³
  * ⇔ pr·w < 5.4e17 — pr ≤ 10⁶, so edge weights to ~5.4e11 are safe; past
  * that, lift the product to DECIMAL(38,0) on both sides.
  *
  * Shape at 100 TB: the rank vector is node-sized and re-shuffled on `src`
  * each round (one hash join per iteration against the edge list, which can
  * be pre-partitioned on src and reused); the per-round aggregate shuffles
  * only (dst, partial-sum) rows. Each round is pinned ([[Materialize.pin]],
  * durable under `spark.graft.materialize=durable`) to truncate the
  * iteration lineage exactly as in [[ConnectedComponents]].
  */
object PageRank {

  /** @param edges DataFrame with columns (src: long-ish, dst same type, w: long > 0)
    * @param iters number of full recurrence rounds (≥ 0)
    * @return (v, pr_micro: bigint) — one row per node appearing as src or dst
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = e.join(outw, "src") // (src, dst, w, ow) — built once, reused per round
    val nodes = e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct()
    // N as a 1-row broadcast, never a driver-side collect
    val nAgg = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))

    var pr = Materialize.pin(
      nodes.crossJoin(nAgg)
        .select(col("v"), idiv(lit(1000000L), col("n_nodes")).as("pr")), "pr_0").df
    for (round <- 1 to iters) {
      val contrib = pr.join(ew, pr("v") === ew("src"))
        .select(col("dst").as("v"),
          idiv(lit(17L) * col("pr") * col("w"), lit(20L) * col("ow")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      pr = Materialize.pin(
        nodes.crossJoin(nAgg).join(contrib, Seq("v"), "left")
          .select(col("v"),
            (idiv(lit(150000L), col("n_nodes")) + coalesce(col("s"), lit(0L))).as("pr")),
        s"pr_$round").df
    }
    pr
  }
}
