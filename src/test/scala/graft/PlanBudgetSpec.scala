package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.PlanCount

/** REGRESSION-TESTED plan shapes — the executable form of PLANS.md's hand
  * audit, per the round-7 review: nothing previously FAILED when a plan
  * regressed (a dropped persist, a re-introduced per-round exchange, a
  * broadcast flipping to SMJ). These budgets do.
  *
  * Static side: tree-level physical node counts (shuffle exchanges,
  * broadcast exchanges, cache-read sites) for the most expensive batch
  * queries from `out/bench.json`, planned with AQE OFF so the counted
  * tree is the deterministic static shape. Counts are pinned EXACTLY:
  * the fixture and Spark version are fixed, so any drift is a real plan
  * change — if it is an intentional improvement, re-pin the row and say
  * why in the commit.
  *
  * Runtime side: q117's per-round co-partitioning contract (the
  * `repartition(o_custkey)` before the checkpoint) is invisible in the
  * outer plan, so it is pinned by total shuffle-WRITE records with
  * auto-broadcast disabled: losing the contract re-shuffles the whole
  * `ord` table once per round and the record count multiplies by the
  * round depth — far outside the budget.
  */
class PlanBudgetSpec extends AnyFunSuite {
  import TestSpark._

  /** (query, shuffles, broadcasts, cacheReads) — measured at sf0.001,
    * AQE off, shuffle.partitions=8 or 4 (counts are partition-agnostic).
    */
  private val budgets = Seq(
    // SetSimJoin persists ordered/pref; candidates join reads CACHE, never
    // the upstream token pipeline. Since the r8 dictionary-encoding rewrite
    // the static estimator is conservative over the rank-join→agg prep, so
    // the tiny-SF joins plan as shuffle joins (0 static broadcasts) — the
    // honest 100 TB shape; AQE re-broadcasts genuinely small sides at
    // runtime. 5 shuffles = cand join (2 sides) + dedup + 2 verify joins.
    ("q158_setsim_join", 5, 0, 3),
    // r13: the edge set reads the materialized co-purchase stage (one
    // shuffle less — the in-query self-join is gone); at sf0.001 the tiny
    // stage file broadcasts into the degree join (+1 broadcast), at scale
    // AQE re-decides. cacheReads 3 = oriented (2 wedge branches + semi).
    ("q164_triangles", 5, 2, 3),
    // containment: probe-prefix join + dedup + 2 verify joins + output sort;
    // cacheReads 4 = the persisted `ordered` read by prefix/postings/both
    // verify sides (strings never leave the vocabulary aggregate)
    ("q214_containment_join", 6, 0, 4),
    // r8 live-edge-set peel (GraphStatQueries q205): the loop state is a
    // localCheckpoint'd edge set, so the output plan is only the final
    // degree agg + sort over the checkpoint RDD — the persisted `it` table
    // and the per-round core joins no longer appear in the returned plan
    // (they run inside the loop, behind the checkpoint). 2 shuffles =
    // final groupBy + orderBy; 0 broadcasts, 0 cacheReads.
    ("q205_kcore", 2, 0, 0),
    ("q171_table_diff", 6, 2, 0),
    // union+window formulation (kept to pin the formulation against q77's
    // native merge — the scale path, one fewer window shuffle per side)
    ("q69_asof_forward", 3, 0, 0),
    ("q77_asof_forward_native", 4, 0, 0),
    // r13: tier frames localCheckpoint'd, not persisted — persist()
    // deduplicates execution but every consumer still embeds the full
    // tier lineage in its LOGICAL plan, which went exponential when
    // tier 5 landed (9.1M-char plan, 116 s of pure Catalyst time at
    // sf0.1); the checkpoint truncates the plan to the stored blocks, so
    // cacheReads drop to 0 (checkpoint scans are not cache reads) and
    // the downstream tier joins re-appear as their own exchanges.
    ("q215_dedup_cascade", 7, 3, 0),
    ("q157_profile", 2, 0, 0),
    ("q179_abc_class", 4, 1, 1),
    ("q162_heavy_hitters", 2, 2, 2),
    // r8: top-20 commutes with the singles/lift joins (ordering is a total
    // order over pair-table columns), so the 120M-row pair table stops at
    // the take-ordered instead of crossing two join exchanges; one more
    // NODE (the 20-row side re-sort), 2 corpus-sized exchanges less VOLUME.
    // r13: pair support and the incidence table read the materialized
    // co-purchase stages (the private distinct + self-join exchanges are
    // gone, and with them the persist: cacheReads 0).
    ("q182_basket_pairs", 4, 3, 0),
    // 3-way join: both dims broadcast, facts shuffle once per agg level
    ("q05_join3_month", 2, 2, 0),
    // region/nation MUST broadcast — an SMJ here shuffles the fact table
    ("q06_dim_join", 2, 1, 0),
    ("q16_window_rank", 2, 1, 0),
    // native as-of: range-partitioned probe + build, no broadcast
    ("q74_asof_native", 4, 0, 0),
    ("q26_vector_topk", 1, 1, 0),
    ("q72_tfidf", 6, 1, 0),
    ("q47_dedup_corpus", 6, 2, 0),
    ("q60_dedup_clusters", 1, 0, 0),
    ("q189_bfs_hops", 4, 0, 1),
    ("q117_fixpoint_chain", 2, 0, 0),
    ("q34_ngram_jaccard", 3, 2, 0),
    ("q32_minhash_pairs", 1, 0, 0),
    // r10 part 3: dup-span family + the bigram model. q262: gram-count agg
    // + window + final sort; the dup-set join-back broadcasts statically
    // (post-agg estimate; at scale AQE re-decides — sf100 ran it as SMJ
    // against a 25M-row dup set, correctly). q263: + the coverage distinct.
    ("q262_dup_spans", 3, 1, 0),
    ("q263_dup_span_scrub", 4, 2, 0),
    // q265's TWO broadcasts are the pinned lesson: the model tables must
    // broadcast (the sf100 SMJ flip cost 2x the whole query — BASELINE.md
    // r10 part 3); a regression to 0 broadcasts here is that cliff back.
    ("q265_bigram_familiarity", 4, 2, 0),
    ("q260_tpch_q12", 2, 1, 0),
    ("q01_filter_project", 1, 0, 0))

  test("top-query physical plans match their pinned exchange/cache budgets") {
    // Insulation from sibling suites on the shared session: any suite that
    // built one of these queries left its persist()s registered in the
    // CacheManager, and Spark substitutes cached fragments into NEW plans
    // by plan matching — cacheReads appear, sizes shrink, SMJs flip to
    // broadcasts, and the pinned counts drift for reasons that have
    // nothing to do with the code under test. Verify/Bench sessions are
    // fresh, so the gate context always matches the cleared state.
    spark.catalog.clearCache()
    obs.Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false") { session =>
      val drift = budgets.flatMap { case (name, s, b, c) =>
        val df = SparkEntry.queries(name)(session, sf0001)
        val got = PlanCount.counts(df.queryExecution.executedPlan)
        if (got == ((s, b, c))) None
        else Some(s"$name: expected (shuffles=$s, broadcasts=$b, cacheReads=$c), got $got")
      }
      assert(drift.isEmpty, "plan-shape drift:\n" + drift.mkString("\n"))
    }
  }

  /** RUNTIME budgets: total shuffle-WRITE records with auto-broadcast off
    * (TestSpark.shuffleRecordsDuring is the shared instrument; sf0.001).
    * Static tree counts can't see per-round exchanges inside loop-driven
    * operators — record volume can. Per-query headroom over the measured
    * healthy value is stated per row (it is NOT a uniform 3×); every
    * ceiling sits far below its named failure mode, which is what the
    * budget actually exists to catch.
    *
    *   - q117: measured ~4.6k (≈3.3× headroom) with the bucketed-ord
    *     contract (window + bucket-aligned repartition of 1.5k orders, then
    *     only the shrinking frontier per round). Losing the contract
    *     re-shuffles 1.5k ord rows × ~19 rounds ≈ 30k (the pre-fix
    *     measurement) — 2× the ceiling.
    *   - q189: measured ~51.5k (≈2.9× headroom) with the pa-keyed persist
    *     (one-time build: li distinct + self-join + edge distinct +
    *     repartition; per-round frontier only). Losing the pa-repartition
    *     re-shuffles the edge table per BFS round ≈ 85.9k (pre-fix) —
    *     clears the ceiling with margin because the round count grows with
    *     graph diameter.
    *   - q164: measured ~297k (≈1.5× headroom — deliberately tight: the
    *     healthy number is dominated by the one legitimate corpus-sized
    *     self-join, so 3× slack would let a whole extra branch rebuild
    *     hide). The failure mode — a dropped persist re-executing the edge
    *     build per branch — adds ~2× the total per branch ≈ 594k+, still
    *     comfortably past the 450k ceiling.
    *   - q116: measured ~87.5k (≈2.6× headroom). This is the DISPOSITION
    *     the round-9 verdict asked for: stock Spark 4 UnionLoop replans per
    *     round and recomputes the windowed `ord` CTE each time (~19 rounds
    *     × ~4.5k records at sf0.001) — an accepted stock-engine cost, kept
    *     for SQL-surface parity; q117 (same oracle) is the scale path at
    *     ~3k records via its bucketed+sorted ord table. The budget makes a
    *     FURTHER q116 plan regression (a second per-round ord rescan, a
    *     lost rn pushdown — roughly doubling the count) detectable instead
    *     of silently riding the "UnionLoop is just slow" assumption.
    */
  private val runtimeBudgets = Seq(
    ("q117_fixpoint_chain", 15000L, "per-round ord re-shuffle is back?"),
    ("q189_bfs_hops", 150000L, "per-round edge re-shuffle is back (pa-repartition lost)?"),
    ("q164_triangles", 450000L, "edge/oriented persist lost (per-branch rebuild)?"),
    ("q116_recursive_chain", 230000L, "extra per-round rescan on top of UnionLoop's replanning?"))

  test("loop/iterative queries stay within their runtime shuffle-record budgets") {
    obs.Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") { c =>
      val drift = runtimeBudgets.flatMap { case (name, budget, failureMode) =>
        spark.catalog.clearCache()
        var n = 0L
        val got = shuffleRecordsDuring {
          n = SparkEntry.queries(name)(c, sf0001).count()
        }
        if (n > 0 && got > 0 && got < budget) None
        else Some(s"$name shuffled $got records (budget $budget, rows $n) — $failureMode")
      }
      assert(drift.isEmpty, "runtime shuffle-record drift:\n" + drift.mkString("\n"))
    }
  }
}
