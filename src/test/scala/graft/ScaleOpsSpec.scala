package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Udafs
import graft.operators.SaltedJoin
import graft.sources.BucketedTables

/** Scale-posture operators: bucketed co-located joins (no shuffle), salted
  * skew handling (identical results), typed UDAFs (partials merge right).
  */
class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("ConnectedComponents hot-label path: giant component resolves via broadcast") {
    import spark.implicits._
    // one giant star (label 0 owns `big` nodes — far past the threshold),
    // a 60-node chain (cold path, exercises pointer doubling), an isolated
    // pair: the hot split must activate AND the result must stay exact
    val big = 3000
    val star = (1 until big).map(i => (0L, i.toLong))
    val chain = (0 until 59).map(i => (100000L + i, 100000L + i + 1))
    val pair = Seq((900000L, 900001L))
    val edges = (star ++ chain ++ pair).toDF("u", "v")

    // capture executed plans of the operator's internal jobs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val hot =
      try graft.operators.ConnectedComponents(edges, hotLabelThreshold = 1000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally {
        // listener bus is async: give outstanding onSuccess callbacks a beat
        val deadline = System.currentTimeMillis() + 10000
        while (!plans.asScala.exists(_.contains("BroadcastHashJoin")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
        spark.listenerManager.unregister(listener)
      }

    // correctness: exact expected cluster map
    (1 until big).foreach(i => assert(hot(i.toLong) == 0L))
    (0 to 59).foreach(i => assert(hot(100000L + i) == 100000L))
    assert(hot(900001L) == 900000L && hot(900000L) == 900000L)
    assert(hot.size == big + 60 + 2)

    // parity: the plain-join path (threshold never reached) agrees exactly
    val cold = graft.operators.ConnectedComponents(edges, hotLabelThreshold = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold == hot)

    // the split genuinely ran through a broadcast: some internal round job
    // carried a BroadcastHashJoin (the plain path uses only shuffled joins)
    assert(plans.asScala.exists(_.contains("BroadcastHashJoin")),
      "hot-label broadcast join never appeared in any executed plan")
  }

  test("bucketed twin tables join with ZERO shuffle exchanges") {
    BucketedTables.bucketFacts(spark, sf0001, buckets = 4)
    // disable broadcast so the plan must rely on bucketing for co-location
    // (at fixture scale the dim side would otherwise be broadcast, which
    // hides what we are proving) — on a clone, so the shared session's
    // thresholds are never written
    val (q, plan) = obs.Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") { c =>
      val df = BucketedTables.colocatedRevenue(c)
      (df, df.queryExecution.executedPlan.toString)
    }
    // the join itself must not introduce a shuffle: the only Exchange allowed
    // is the one for the final groupBy aggregation
    val joinSection = plan.split("HashAggregate").last // below the aggs sits the join
    assert(joinSection.contains("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
      s"join re-shuffled a bucketed side:\n$plan")
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"join re-shuffled a bucketed side:\n$plan")
    // and it is still correct vs the plain parquet join
    val l = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val expect = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("rev"),
        count(lit(1)).as("n"))
    assert(q.exceptAll(expect).count() == 0 && expect.exceptAll(q).count() == 0)
  }

  test("salted join returns exactly the unsalted result") {
    import spark.implicits._
    val fact = (1 to 5000).map(i => (if (i % 10 == 0) 1 else i % 50, i))
      .toDF("k", "v") // key 1 is hot
    val dim = (0 until 50).map(i => (i, s"d$i")).toDF("k", "name")
    val salted = SaltedJoin.join(fact, dim, "k", salts = 8)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.select("k", "v", "name").exceptAll(plain.select("k", "v", "name")).count() == 0)
    val counts = SaltedJoin.skewProofCount(fact, "k", salts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(1) == 500 + 100 - 0) // i%50==1 (100) plus i%10==0 (500) hot rows
  }

  test("GlobalCumSum equals the single-partition window cumsum, distributed") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // values chosen so partial sums differ per ordering mistake; shuffled
    // input order so the range repartition actually has to sort
    val df = scala.util.Random.shuffle((1L to 5000L).toList)
      .map(i => (i, i % 97 + 1)).toDF("k", "v").repartition(7)
    val got = graft.operators.GlobalCumSum
      .withCumSum(df, Seq(col("k")), col("v"), "cum", numPartitions = Some(6))
    val naive = df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0)
    // plan pin: after the cached one-shuffle imperative pass, the output
    // query is a pure projection — no window operator (single-partition or
    // otherwise) and no further exchange anywhere
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
    // and fractional value columns are rejected, not silently truncated
    intercept[IllegalArgumentException] {
      graft.operators.GlobalCumSum.withCumSum(
        df.withColumn("w", col("v") + 0.5), Seq(col("k")), col("w"), "cum")
    }
    spark.catalog.clearCache() // GlobalCumSum's cached pass is caller-owned
  }

  test("q119 sweep-line: no partition-less window anywhere in the plan") {
    // the naive sweep is two global windows (running sum + LEAD); the
    // declared query must contain ONLY user_id-partitioned windows — the
    // global passes go through GlobalCumSum/GlobalRank + a rank self-join
    val df = graft.SparkEntry.queries("q119_interval_concurrency")(spark, sf0001)
    val phys = df.queryExecution.executedPlan.toString
    // the upstream sessionization (user-partitioned windows) is hidden
    // behind GlobalCumSum's imperative-pass boundary; the visible plan must
    // show that boundary and contain NO window operator at all — global
    // running sum and successor lookup are cumsum/rank arithmetic + an equi
    // self-join, never a partition-less Window
    assert(phys.contains("ExistingRDD"), s"expected the cumsum pass boundary:\n$phys")
    assert(!phys.contains("Window"), s"window leaked into the sweep:\n$phys")
    assert(df.collect().nonEmpty)
    spark.catalog.clearCache() // GlobalCumSum/GlobalRank caches are caller-owned
  }

  test("q144 skyline: sort-sweep plan — no nested loop, no partition-less window") {
    // the canonical NOT EXISTS formulation is quadratic (nested loop); the
    // engine's sweep must be prefix-max (GlobalCumSum.withCumMax pass
    // boundary) + rank successor join + one equi join back — all linear
    val df = graft.SparkEntry.queries("q144_skyline")(spark, sf0001)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"all-pairs operator leaked into the skyline:\n$phys")
    assert(!phys.contains("Window"), s"window leaked into the sweep:\n$phys")
    assert(phys.contains("ExistingRDD"), s"expected the prefix-max pass boundary:\n$phys")
    assert(df.collect().nonEmpty)
    spark.catalog.clearCache() // GlobalCumSum/GlobalRank caches are caller-owned
  }

  test("GlobalCumSum.withCumMax equals the single-partition window running max") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(1000).toLong - 500L))
    val df = rows.toDF("k", "v")
    val got = graft.operators.GlobalCumSum
      .withCumMax(df, Seq(col("k")), col("v"), "rm", numPartitions = Some(7))
      .select(col("k"), col("rm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("rm",
        max(col("v")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("withCumSumAndLead equals window running-sum + LEAD (r13 fused pass)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    // duplicate-heavy head column (the q119 shape: repeated t_us, total
    // order restored by the tie-break key) across 7 uneven partitions
    val rows = (1 to 500).map(i => (rnd.nextInt(60).toLong, i.toLong,
      if (rnd.nextBoolean()) 1L else -1L))
    val df = rows.toDF("t", "id", "d")
    val order = Seq(col("t"), col("id"))
    val got = graft.operators.GlobalCumSum
      .withCumSumAndLead(df, order, col("d"), "cum", "t", "nt",
        numPartitions = Some(7))
      .select(col("id"), col("cum"), col("nt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    val w = Window.orderBy(order: _*)
    val want = df
      .withColumn("cum", sum(col("d")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nt", lead(col("t"), 1).over(w))
      .collect().map(r => r.getLong(1) -> ((r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("withCumMaxExclusive equals LAG of the window running max (r13 fused pass)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(17)
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(1000).toLong - 500L))
    val df = rows.toDF("k", "v")
    val got = graft.operators.GlobalCumSum
      .withCumMaxExclusive(df, Seq(col("k")), col("v"), "rm", "pm",
        numPartitions = Some(5))
      .select(col("k"), col("rm"), col("pm"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val w = Window.orderBy(col("k"))
    val want = df
      .withColumn("rm", max(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pm", coalesce(lag(col("rm"), 1).over(w), lit(Long.MinValue)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("withStats clamps a checkpoint's carried statistics without touching rows (r13)") {
    import spark.implicits._
    val df = (1L to 100L).toDF("x").localCheckpoint(true)
    def sizeOf(d: org.apache.spark.sql.DataFrame): BigInt =
      d.queryExecution.optimizedPlan.stats.sizeInBytes
    val clamped = org.apache.spark.sql.GraftSqlBridge
      .withStats(df, BigInt(6400), Some(BigInt(100)))
    assert(sizeOf(clamped) == BigInt(6400))
    assert(clamped.as[Long].collect().sorted.toSeq == (1L to 100L))
    // the pathology the clamp exists for: a checkpoint self-join SQUARES
    // the carried estimate; clamping between rounds keeps it linear
    val joined = clamped.join(clamped.withColumnRenamed("x", "y"),
      clamped("x") === col("y")).localCheckpoint(true)
    val reclamped = org.apache.spark.sql.GraftSqlBridge
      .withStats(joined, BigInt(12800), Some(BigInt(100)))
    assert(sizeOf(reclamped) == BigInt(12800))
  }

  test("persisted IVF index: search joins the bucketed lists with no corpus shuffle") {
    import graft.operators.AnnIvf
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val centroids = AnnIvf.trainCentroids(e, k = 4, iters = 1, dim = 64)
    AnnIvf.buildIndex(e, centroids, table = "ivf_idx_spec", buckets = 4)
    val indexed = AnnIvf.topKIndexed(spark, "ivf_idx_spec", q, k = 3, centroids, nprobe = 2)
    // identical results to the assign-per-batch path with the same model
    val direct = AnnIvf.topK(e, q, k = 3, centroids, nprobe = 2)
    assert(indexed.exceptAll(direct).count() == 0 && direct.exceptAll(indexed).count() == 0)
    // plan pin: the probe batch broadcasts onto the stored lists — the
    // corpus side must reach the join straight from its buckets, never
    // through a shuffle on the cluster key (the only hashpartitioning
    // exchange allowed is groupedTopK's per-qid top-k merge)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(cluster"),
      s"corpus side re-shuffled on the cluster key:\n$plan")
  }

  test("int8-quantized embeddings preserve brute-force top-k") {
    import graft.functions.VectorFunctions._
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val deq = e.withColumn("qe", dequantizeInt8(quantizeInt8(col("e"))))
    // per-vector reconstruction error bounded by scale/2 per dim
    val maxErr = deq.select(max(aggregate(
      zip_with(col("e"), col("qe"), (a, b) => abs(a - b)),
      lit(0.0d), (m, x) => greatest(m, x)))).collect().head.getDouble(0)
    assert(maxErr < 0.02, s"reconstruction error $maxErr")
    // top-10 of query 0 by exact cosine vs quantized cosine: recall >= 0.9
    def top10(cands: org.apache.spark.sql.DataFrame, c: String) =
      cands.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(
          cands.filter(col("vec_id") === 0).select(col(c).as("qv"))))
        .withColumn("cos", cosine(col(c), col("qv")))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = top10(e, "e")
    val approx = top10(deq.select(col("vec_id"), col("qe")), "qe")
    assert(exact.intersect(approx).size >= 9, s"recall ${exact.intersect(approx).size}/10")
  }

  test("AQE skew-join splits the hot partition at runtime") {
    // one key owns ~95% of the fact side; thresholds lowered so the
    // fixture-sized skew is visible to AQE's planner
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val plan = obs.Sessions.withConf(spark, keep: _*) { c =>
      import c.implicits._
      val fact = ((1 to 190000).map(_ => 1) ++ (1 to 10000).map(i => i % 100 + 2))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
      val dim = (1 to 101).map(i => (i, s"d$i")).toDF("k", "name")
      val joined = fact.join(dim, Seq("k"))
      // materialize THIS dataset's own QueryExecution (count() would plan a
      // separate aggregate query and leave joined's adaptive plan unexecuted)
      assert(joined.collect().length == 200000)
      joined.queryExecution.executedPlan.toString
    }
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n${plan.take(2000)}")
  }

  test("WeightedMean UDAF: vwap across partitions") {
    import spark.implicits._
    Udafs.register(spark)
    val df = Seq((10.0, 1.0), (20.0, 3.0)).toDF("p", "q").repartition(2)
    df.createOrReplaceTempView("trades")
    val vwap = spark.sql("SELECT weighted_mean(p, q) FROM trades").collect().head.getDouble(0)
    assert(math.abs(vwap - (10 * 1 + 20 * 3) / 4.0) < 1e-12)
    val clipped = spark.sql("SELECT clip01(1.5), clip01(-0.5), clip01(0.25)").collect().head
    assert(clipped.getDouble(0) == 1.0 && clipped.getDouble(1) == 0.0 && clipped.getDouble(2) == 0.25)
  }

  test("Ohlc UDAF matches sort-based open/close on shuffled input") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val ticks = rnd.shuffle((0 until 1000).toList).map { i =>
      (i.toLong * 1000, 100.0 + (i * 17 % 31), (i % 5 + 1).toDouble)
    }
    val ds = ticks.toDS().repartition(7)
    val bar = ds.select(Udafs.Ohlc.toColumn).collect().head
    assert(bar.open == 100.0 + 0)              // price at ts 0
    assert(bar.close == 100.0 + (999 * 17 % 31)) // price at max ts
    assert(bar.count == 1000)
    assert(bar.volume == ticks.map(_._3).sum)
  }

  test("count_min_sketch heavy-hitter estimates bound the exact q105 counts") {
    // the 100 TB workflow: one CMS pass (fixed memory) surfaces suspects,
    // exact counts confirm — the sketch must never UNDER-estimate (CMS
    // guarantee) and over-estimation stays within eps·N at the given
    // confidence. Pinned against the same exact counts q105 declares.
    val ev = graft.model.Tables.load(spark, sf0001, "events")
    val n = ev.count()
    val eps = 0.001
    val sketchBytes = ev.selectExpr(
      s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").collect().head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val exact = ev.groupBy(col("user_id")).count()
      .orderBy(col("count").desc, col("user_id")).limit(20)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    exact.foreach { case (uid, cnt) =>
      val est = cms.estimateCount(uid)
      assert(est >= cnt, s"CMS under-estimated user $uid: $est < $cnt")
      assert(est <= cnt + (eps * n).ceil.toLong * 2,
        s"CMS over-estimate out of band for user $uid: $est vs $cnt (n=$n)")
    }
  }

  test("approx_percentile tracks the exact distributed percentiles") {
    // q52's gate checks the EXACT percentiles against DuckDB; here the
    // sketch path (what you'd actually run at 100 TB) is bound against
    // them: accuracy 10000 → rank error ≤ n/10000, so on ~6k rows the
    // sketch must land within one value-step of exact.
    val li = graft.model.Tables.load(spark, sf0001, "lineitem")
    val both = li.groupBy(col("l_returnflag")).agg(
      percentile(col("l_quantity"), lit(0.5)).as("exact"),
      approx_percentile(col("l_quantity"), lit(0.5), lit(10000)).as("approx"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (e, a) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(e - a) <= math.max(1.0, 0.01 * math.abs(e)),
        s"flag ${r.getString(0)}: approx $a vs exact $e")
    }
  }

  test("observe metrics ride the materializing job - no extra scan") {
    import spark.implicits._
    val df = Seq((1L, Some(2.0)), (2L, None), (3L, Some(9.5))).toDF("id", "v")
    val (observed, obs) = graft.operators.QualityMetrics.observed(
      df, nullCols = Seq("v"), boundCols = Seq("id"))
    assert(observed.count() == 3) // the ONLY job; metrics piggyback on it
    val m = obs.get
    assert(m("rows") == 3L && m("nulls_v") == 1L)
    assert(m("min_id") == 1L && m("max_id") == 3L)
  }

  test("partitioned table write prunes partitions on read") {
    val ev = graft.model.Tables.load(spark, sf0001, "events")
      .withColumn("day", to_date(col("ts")))
    val dir = tmpDir("events-part")
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    val scan = q.queryExecution.executedPlan.toString
    // partition filter must reach the scan, and only one partition is read
    assert(scan.contains("PartitionFilters: [isnotnull(day"), scan)
    val parts = q.select("day").distinct().count()
    assert(parts == 1)
    assert(q.count() > 0)
  }

  test("runtime bloom-filter pruning fires on a selective shuffled join") {
    // Spark's InjectRuntimeFilter: a selective filter on one join side
    // grows a bloom filter that prunes the OTHER side's shuffle input at
    // runtime — the third pruning lever next to static pushdown and AQE,
    // and the one that matters at 100 TB when the big side can't know the
    // dim's surviving keys statically. Thresholds are tuned down because
    // the fixture scans are tiny; at scale the defaults (10 GB application
    // side) gate it to genuinely large scans.
    obs.Sessions.withConf(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c => // no broadcast: SMJ + runtime filter
      val li = c.read.parquet(s"$sf0001/lineitem.parquet")
      val ord = c.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_totalprice") > 400000) // selective creation side
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(ord("o_orderkey")).agg(sum(li("l_quantity")))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter") ||
        optimized.contains("might_contain"), s"no runtime bloom filter in:\n$optimized")
      assert(j.count() > 0)
    }
  }

  test("ZOrderLayout: zKey2 column matches the bit-interleave reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("a", "b")
      .select(graft.operators.ZOrderLayout.zKey2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pairs.map { case (a, b) => graft.operators.ZOrderLayout.zKey2Ref(a, b) })
  }

  test("ZOrderLayout: a dimensional box query touches far fewer z-ordered files") {
    val orders = graft.model.Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).cast("long").as("day"))
    val stats = orders.agg(
      min("o_custkey"), max("o_custkey"), min("day"), max("day")).head()
    val (c0, c1, d0, d1) = (stats.getLong(0), stats.getLong(1),
      stats.getLong(2), stats.getLong(3))
    // a ~20% x ~20% box in the middle of both dimensions
    def box(lo: Long, hi: Long) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)
    val (cLo, cHi) = box(c0, c1)
    val (dLo, dHi) = box(d0, d1)

    val natural = tmpDir("zorder_nat")
    val zordered = tmpDir("zorder_z")
    // natural layout: insertion order (orderkey) — every file spans the
    // full custkey/day range, so box stats prune nothing
    orders.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("overwrite").parquet(natural)
    graft.operators.ZOrderLayout.writeClustered(orders,
      pmod(col("o_custkey"), lit(65536L)), pmod(col("day"), lit(65536L)),
      zordered, files = 16)

    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("o_custkey").between(cLo, cHi) && col("day").between(dLo, dHi))
        .select(input_file_name()).distinct().count()
    val nat = filesTouched(natural)
    val z = filesTouched(zordered)
    assert(z * 2 <= nat,
      s"z-order box locality: expected <= half the files, got z=$z natural=$nat")
    // same rows either way
    assert(spark.read.parquet(zordered).count() == orders.count())
  }

  test("synthetic rate-source ticks feed the ingest transform") {
    val ticks = graft.streaming.Ingest.syntheticTicks(spark, ticksPerSecond = 1000)
    assert(ticks.isStreaming)
    val q = graft.streaming.Ingest.toBtcusdt(ticks)
      .writeStream.format("memory").queryName("synth").outputMode("append").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1500)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM synth").collect()
      assert(rows.nonEmpty)
      val r = rows.head
      assert(r.getAs[java.math.BigDecimal]("price").doubleValue >= 26000.0)
      assert(r.getAs[String]("parameter") == "BTCUSDT")
    } finally q.stop()
  }
}
