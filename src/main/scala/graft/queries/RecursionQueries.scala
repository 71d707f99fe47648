package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.IterativeFixpoint

/** Recursive-query surface: a recursive CTE (Spark 4's `WITH RECURSIVE` /
  * `UnionLoop`) and the engine's hand-rolled [[IterativeFixpoint]] twin.
  *
  * The workload walks each customer's order chain in date order (the
  * hierarchy-walk shape recursive CTEs exist for): frontier row =
  * (customer, position, depth, running decimal total), one hop per round.
  * The SAME SQL text runs on Spark and DuckDB for q116 (oracle can't
  * drift); q117 computes the identical result through IterativeFixpoint —
  * sharing q116's oracle proves the library loop is result-identical to
  * the built-in recursion.
  *
  * Scale story: each hop is an equi-join on (o_custkey, rn) — partitioned,
  * never all-pairs; the fixpoint twin adds per-round lineage truncation and
  * durable pins (`spark.graft.materialize=durable`, executor-loss-tolerant)
  * that the built-in UnionLoop lacks. RecursionSpec pins the UnionLoop
  * physical node for q116 and the step-schema guard; MaterializeSpec pins
  * block ≡ durable parity for the operator.
  */
object RecursionQueries extends QueryModule {

  private val q116 =
    """WITH RECURSIVE ord AS (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(o_totalprice AS DECIMAL(18,6)) AS price,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |),
      |chain AS (
      |  SELECT o_custkey, rn, CAST(0 AS BIGINT) AS depth, price AS cum
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.o_custkey, o.rn, c.depth + 1, CAST(c.cum + o.price AS DECIMAL(18,6))
      |  FROM chain c JOIN ord o ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
      |)
      |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
      |  CAST(ROUND(SUM(cum), 6) AS DECIMAL(38,6)) AS cum_price
      |FROM chain GROUP BY depth ORDER BY depth""".stripMargin
  // ^ the OUTPUT cast is (38,6) — Protocol.DOut's rationale applies to raw
  // SQL too: the depth-0 SUM(cum) reaches ~2.0e12 at sf10 (13 integer
  // digits), a loud ANSI overflow under (18,6)'s 12. Recursion-internal
  // arithmetic stays (18,6): per-customer cums are bounded by chain length
  // × order price (~1e7), scale-free. Same text runs on DuckDB.

  private def runQ116(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("orders")
    // Spark 4 guards WITH RECURSIVE with a 1M-row emission cap
    // (spark.sql.cteRecursionRowLimit) — a runaway-recursion safety net,
    // not a perf knob. This chain emits exactly one row per order, so at
    // sf1 (1.5M orders) the DEFAULT cap kills a correct query
    // (RECURSION_ROW_LIMIT_EXCEEDED, found by the sf1 rehearsal). Size the
    // cap to the workload's KNOWN output bound (+1 anchor slack) instead
    // of disabling it: an actual runaway still trips. Set on the session
    // (not scoped): UnionLoopExec reads it at EXECUTION, which happens
    // after this builder returns, so a save/restore scope would restore
    // the default before the query ever runs.
    val bound = math.max(1000000L, orders.count() + 1L)
    s.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
    // r14 (VERDICT item 3): UnionLoop re-plans and RE-EXECUTES the
    // recursion-step subtree every round, and with `ord` as a plain CTE
    // that meant ~25 rounds × (orders scan + full row_number window +
    // exchange) — 10.9 s wall, the suite's second-slowest entry. The
    // 100 TB recipe is q117's: land `ord` ONCE as a bucketed+sorted table
    // keyed by the hop join's exact keys (o_custkey, rn), so each round's
    // hop join gets the ord side exchange-free AND sort-free from the
    // scan itself, and only the shrinking frontier shuffles per round.
    // The RECURSIVE surface is unchanged (still WITH RECURSIVE through
    // UnionLoopExec — RecursionSpec pins the node); only the invariant
    // subtree moved out of the loop (guide §2.4/§3.3: materialize the
    // subtree shared by every iteration). The oracle SQL is untouched —
    // same text, same rows, hash-checked.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val tbl = "q116_ord_bucketed"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val whDir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), tbl)
    val whFs = whDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(whDir)) whFs.delete(whDir, true)
    orders
      .select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,6)").as("price"),
        row_number().over(w).as("rn"))
      .repartition(8, col("o_custkey"), col("rn"))
      .write.bucketBy(8, "o_custkey", "rn").sortBy("o_custkey", "rn")
      .mode("overwrite").saveAsTable(tbl)
    s.sql(
      s"""WITH RECURSIVE chain AS (
         |  SELECT o_custkey, rn, CAST(0 AS BIGINT) AS depth, price AS cum
         |  FROM $tbl WHERE rn = 1
         |  UNION ALL
         |  SELECT o.o_custkey, o.rn, c.depth + 1, CAST(c.cum + o.price AS DECIMAL(18,6))
         |  FROM chain c JOIN $tbl o ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
         |)
         |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
         |  CAST(ROUND(SUM(cum), 6) AS DECIMAL(38,6)) AS cum_price
         |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** IterativeFixpoint twin of q116. `ord` is window-numbered once and
    * landed as a bucketed table — every round's hop join re-reads it
    * instead of recomputing the window (the one subplan shared by all
    * rounds). Depth bound 30 covers the fixture's ≤25-order chains; a
    * violation fails loudly rather than truncating silently.
    */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // `ord` is joined once per round — it must enter every round's join
    // with ZERO exchange, or the whole table re-shuffles per round (the
    // 45×-at-10×-data regression the sf1 rehearsal caught). The previous
    // repartition+localCheckpoint pinning does NOT deliver that: Spark 4.1
    // reports UnknownPartitioning on a localCheckpoint (measured — the
    // LogicalRDD partitioning is not preserved into planning), so every
    // round paid a full ord exchange anyway (PlanBudgetSpec's shuffle-
    // record budget exposed it: 19 × 1,500-record exchanges at sf0.001).
    // The shape that actually holds — and the one a 100 TB deployment
    // uses — is a BUCKETED, SORTED table:
    //   - bucketBy(8, o_custkey) + sortBy(o_custkey, rn): the scan itself
    //     reports HashPartitioning(o_custkey, 8) and per-bucket ordering,
    //     so the round join needs neither exchange NOR sort on ord;
    //   - repartition(8, o_custkey) before the write aligns write tasks
    //     with buckets — one file per bucket, keeping the sort usable;
    //   - requireAllClusterKeysForCoPartition=false (scoped to the
    //     iteration) lets the subset partitioning co-locate a join keyed
    //     (o_custkey, rn): the frontier alone shuffles to match the
    //     buckets, frontier-sized and shrinking.
    // Per-round frontiers are pinned (Materialize.pin via
    // IterativeFixpoint): a fresh lineage-truncated relation per round,
    // in memory blocks unless the session asks for durable pins.
    val tbl = "q117_ord_bucketed"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    // a crashed previous run can leave the managed dir without the
    // catalog entry, which blocks CREATE — clear it
    val whDir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), tbl)
    val whFs = whDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(whDir)) whFs.delete(whDir, true)
    Tables.load(s, dir, "orders")
      .select(col("o_custkey"),
        Protocol.dec(col("o_totalprice")).as("price"),
        row_number().over(w).cast("long").as("rn"))
      .repartition(8, col("o_custkey"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey", "rn")
      .mode("overwrite").saveAsTable(tbl)
    val ord = s.table(tbl)
    val anchor = ord.filter(col("rn") === 1)
      .select(col("o_custkey"), col("rn"),
        lit(0L).as("depth"), col("price").as("cum"))
    val coPart = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPartSaved = s.conf.get(coPart, "true")
    s.conf.set(coPart, "false")
    val chain = try {
      // iterate() plans every round join eagerly inside this scope; the
      // returned chain is a plain union of pinned rounds, conf-independent
      IterativeFixpoint.iterate(
        anchor,
        f => f.as("f").join(ord.as("o"),
            col("f.o_custkey") === col("o.o_custkey") &&
              col("o.rn") === col("f.rn") + 1)
          .select(col("o.o_custkey").as("o_custkey"), col("o.rn").as("rn"),
            (col("f.depth") + lit(1L)).as("depth"),
            (col("f.cum") + col("o.price")).cast(Protocol.D).as("cum")),
        maxRounds = 30)
    } finally s.conf.set(coPart, coPartSaved)
    chain.groupBy(col("depth"))
      .agg(Protocol.big(count(lit(1))).as("n_chains"),
        Protocol.out6(sum(col("cum"))).as("cum_price"))
      .orderBy(col("depth"))
  }

  override val declared: Seq[Declared] = Seq(
    Declared("q116_recursive_chain", runQ116, Some(q116)),
    Declared("q117_fixpoint_chain", (s, dir) => q117(s, dir), Some(q116))
  )
}
