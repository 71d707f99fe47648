package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import Protocol._

/** Optimizer-lever coverage ([EXT], SURVEY §2.2): runtime bloom-filter join
  * pruning and correlated LATERAL subqueries — the two Catalyst capabilities
  * the matrix did not yet exercise under the oracle gate. Both are
  * semantics-preserving (the oracle runs the plain declarative SQL), so the
  * gate checks results while the companion spec (OptimizerLeverSpec) pins
  * the physical artifacts: the injected `might_contain` filter on the fact
  * scan side, and the decorrelated lateral join.
  */
object OptimizerQueries extends QueryModule {

  /** The conf set that makes InjectRuntimeFilter fire at fixture scale: the
    * join must stay a shuffle join (broadcast would already prune via DPP /
    * the broadcast itself), and the application-side size floor (10 GB
    * default — a CLUSTER setting) drops to 0 so a 60 k-row fixture scan
    * qualifies. At real scale only the broadcast thresholds differ: the
    * 10 GB floor is exactly right for a 100 TB fact table.
    */
  val bloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** q152's logical query, conf-independent (the spec runs it both ways). */
  def bloomJoinPlan(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.load(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" &&
        dec(col("o_totalprice")) > lit(400000).cast(D))
      .select(col("o_orderkey"))
    Tables.load(s, dir, "lineitem")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(big(count(lit(1))).as("n_items"),
        out6(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount")))))
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** One text, both engines (SURVEY §2.3 protocol). */
  private val lateralSql =
    """SELECT n_name, c_name, bal_micro
      |FROM nation, LATERAL (
      |  SELECT c_name,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS bal_micro
      |  FROM customer WHERE c_nationkey = n_nationkey
      |  ORDER BY bal_micro DESC, c_name LIMIT 2)
      |ORDER BY n_name, bal_micro DESC, c_name""".stripMargin

  override val declared: Seq[Declared] = Seq(

    // q152 — RUNTIME BLOOM-FILTER JOIN PRUNING: a 3 %-selective dimension
    // predicate (urgent + high-value orders) prunes the fact scan through an
    // injected bloom filter — Catalyst plants a BloomFilterAggregate over
    // the filtered creation side and a `might_contain` predicate on
    // l_orderkey BEFORE the fact side's shuffle, so ~97 % of lineitem rows
    // drop pre-exchange instead of riding the shuffle to die in the join.
    //
    // The builder materializes on a session clone carrying the confs (an
    // eager Materialize.pin) so the gate run actually executes the
    // bloom-pruned plan; the result is conf-independent and the oracle runs
    // the plain join. OptimizerLeverSpec pins `might_contain` in the scoped plan,
    // its absence in the default plan, and result equality between the two.
    //
    // Shape at 100 TB: THE semi-join-reduction lever for shuffle joins too
    // big to broadcast — the bloom rides the existing exchange; with the
    // default 10 GB application floor restored it engages exactly where it
    // pays.
    Declared("q152_bloom_join",
      (s, dir) => graft.obs.Sessions.withConf(s, bloomConfs: _*) { c =>
        graft.operators.Materialize.pin(bloomJoinPlan(c, dir), "q152_bloom").df
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 6) AS DECIMAL(18,6)) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT' AND CAST(o_totalprice AS DECIMAL(18,6)) > 400000
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // q153 — CORRELATED LATERAL SUBQUERY (top-2-per-group as the user
    // writes it): `nation, LATERAL (… WHERE c_nationkey = n_nationkey ORDER
    // BY … LIMIT 2)`. One SQL text on both engines. Catalyst decorrelates
    // the per-row subquery into a relational plan (window/limit over the
    // correlation key + join) instead of executing it per outer row —
    // nested-loop re-execution would be O(|nation|·|customer|) at scale.
    // OptimizerLeverSpec pins the decorrelated shape (LateralJoin is gone
    // from the optimized plan; a single customer scan survives).
    Declared("q153_lateral_topn",
      (s, dir) => {
        Seq("nation", "customer").foreach(t =>
          Tables.load(s, dir, t).createOrReplaceTempView(t))
        s.sql(lateralSql)
      },
      Some(lateralSql))
  )

}
