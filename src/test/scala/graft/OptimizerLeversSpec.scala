package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for three stock optimizer levers the 100 TB story leans on but no
  * spec had pinned yet:
  *
  *   1. **Runtime bloom-filter join pruning** (InjectRuntimeFilter): a
  *      selective dim filter is converted to a bloom filter evaluated on the
  *      fact side BEFORE its shuffle — at 100 TB this drops most of the fact
  *      exchange for selective star joins that are too big to broadcast.
  *   2. **Cost-based broadcast flip from ANALYZE statistics**: with column
  *      stats, a selective filter's cardinality estimate shrinks the join
  *      side below the broadcast threshold without any hint — the knob that
  *      decides exchange strategy fleet-wide once tables carry stats.
  *   3. **Nested schema pruning**: a projection of one struct subfield must
  *      reach the parquet scan as a pruned ReadSchema — reading a 2-field
  *      struct for a 1-subfield projection is the nested version of "scan
  *      reads all columns", and multimodal metadata columns are structs.
  */
class OptimizerLeversSpec extends AnyFunSuite {
  import TestSpark._

  test("selective dim filter injects a bloom filter on the fact side") {
    obs.Sessions.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // the fixture scan is far below the 10 GB production default
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // too big to broadcast — the shuffle-join case bloom filters exist for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
      val li = graft.model.Tables.load(c, sf0001, "lineitem")
      val part = graft.model.Tables.load(c, sf0001, "part")
        .filter(col("p_brand") === "Brand#1")
      val joined = li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected:\n$opt")
      // and it must sit on the fact (lineitem) side, keyed on l_partkey
      assert(opt.linesIterator.exists(l =>
          l.contains("might_contain") && l.contains("l_partkey")),
        s"bloom filter not applied to the fact join key:\n$opt")
      // correctness unchanged by the filter
      assert(joined.collect().map(_.getString(0)).sameElements(Array("Brand#1")))
    }
  }

  test("ANALYZE column statistics flip the join to broadcast without a hint") {
    spark.sql("DROP TABLE IF EXISTS cbo_customer")
    graft.model.Tables.load(spark, sf0001, "customer")
      .write.mode("overwrite").saveAsTable("cbo_customer")
    try {
      obs.Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> "true",
        // between the 1-row stats estimate and the pruned-scan size guess
        "spark.sql.autoBroadcastJoinThreshold" -> "1KB") { c =>
        val orders = graft.model.Tables.load(c, sf0001, "orders")
        def plan(): String = {
          val dim = c.table("cbo_customer").filter(col("c_custkey") === 7)
          orders.join(dim, orders("o_custkey") === dim("c_custkey"))
            .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
            .queryExecution.executedPlan.toString
        }
        // no stats: size estimate falls back to file bytes -> no broadcast
        val before = plan()
        assert(!before.contains("BroadcastHashJoin"),
          s"expected shuffle join before ANALYZE:\n$before")
        c.sql(
          "ANALYZE TABLE cbo_customer COMPUTE STATISTICS FOR ALL COLUMNS")
        // with ndv stats the c_custkey=7 estimate is ~1 row -> broadcast
        val after = plan()
        assert(after.contains("BroadcastHashJoin"),
          s"column stats did not flip the join to broadcast:\n$after")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cbo_customer")
  }

  test("CBO join reorder rebuilds the left-deep chain around the selective dim") {
    for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.model.Tables.load(spark, sf0001, "lineitem")
      .write.mode("overwrite").saveAsTable("cbo_li")
    graft.model.Tables.load(spark, sf0001, "orders")
      .write.mode("overwrite").saveAsTable("cbo_ord")
    graft.model.Tables.load(spark, sf0001, "customer")
      .write.mode("overwrite").saveAsTable("cbo_cust")
    try {
      for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust"))
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      def topJoinLine(reorder: Boolean): String = obs.Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> reorder.toString) { c =>
        // written LEFT-DEEP with the fact-fact join first: (li ⋈ ord) ⋈ cust.
        // With stats + reorder, the planner should join the ~1-row filtered
        // customer to orders FIRST, making the TOP join the orderkey one.
        val li = c.table("cbo_li")
        val ord = c.table("cbo_ord")
        val cust = c.table("cbo_cust").filter(col("c_custkey") === 7)
        val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .groupBy(col("c_mktsegment")).agg(count(lit(1)))
        // first Join line in the tree rendering = the TOP (outermost) join
        q.queryExecution.optimizedPlan.toString.linesIterator
          .find(_.contains("Join ")).getOrElse("")
      }
      val off = topJoinLine(reorder = false)
      val on = topJoinLine(reorder = true)
      assert(off.contains("o_custkey"),
        s"without reorder the top join should be the written custkey join: $off")
      assert(on.contains("l_orderkey"),
        s"with CBO reorder the selective dim join should sink below the fact join: $on")
    } finally
      for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("q152's gate build executes the bloom-pruned plan; results conf-independent") {
    import graft.queries.OptimizerQueries
    val default = OptimizerQueries.bloomJoinPlan(spark, sf0001)
    // default session (10 GB application floor): no bloom on a fixture scan
    assert(!default.queryExecution.optimizedPlan.toString.contains("might_contain"))
    val defaultRows = default.collect()
    obs.Sessions.withConf(spark, OptimizerQueries.bloomConfs: _*) { c =>
      val scoped = OptimizerQueries.bloomJoinPlan(c, sf0001)
      val opt = scoped.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), s"no bloom filter under q152's confs:\n$opt")
      assert(opt.linesIterator.exists(l =>
          l.contains("might_contain") && l.contains("l_orderkey")),
        s"bloom not keyed on the fact join key:\n$opt")
      assert(scoped.collect().sameElements(defaultRows))
    }
  }

  test("q153's correlated LATERAL decorrelates; exact per-group cap") {
    val df = SparkEntry.queries("q153_lateral_topn")(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("LateralJoin"),
      s"lateral subquery not decorrelated (per-outer-row re-execution):\n$opt")
    // inner lateral: nations keep min(2, customers) rows, empty nations drop
    val expected = graft.model.Tables.load(spark, sf0001, "customer")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("c"))
      .select(sum(least(col("c"), lit(2L)))).collect()(0).getLong(0)
    assert(df.count() == expected)
  }

  test("struct subfield projection prunes the parquet ReadSchema") {
    val docs = graft.model.Tables.load(spark, sf0001, "documents")
    val dir = tmpDir("nested")
    docs.select(col("doc_id"),
        struct(col("lang"), col("n_chars"), col("source")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .select(col("doc_id"), col("meta.lang").as("lang"))
      .filter(col("lang") =!= "")
    val phys = q.queryExecution.executedPlan.toString
    val readSchema = phys.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$phys"))
    assert(readSchema.contains("lang"), s"lang not read: $readSchema")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      s"nested pruning failed — unused subfields read: $readSchema")
    assert(q.count() > 0)
  }
}
