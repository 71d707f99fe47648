package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.operators.AsOfJoin

/** The native Catalyst as-of operator (plans.AsOfJoinPlan/Exec): semantics
  * pinned on hand-checked inputs, row-set parity against the union+window
  * formulation at fixture scale, and the physical plan shape (merge exec
  * present; no window, no nested-loop join).
  */
class NativeAsOfSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("native as-of: latest-at-or-before per key, inclusive, left-outer") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "c1"),
      (1L, ts("2024-01-01 10:00:10"), "c2"),
      (2L, ts("2024-01-01 10:00:01"), "c3")
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:10"), 10.0), // equal ts: inclusive match
      (2L, ts("2024-01-01 10:00:02"), 2.0)   // after c3: no match
    ).toDF("user_id", "ts", "v")

    val out = AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c1") == Some(3.0))
    assert(out("c2") == Some(10.0))
    assert(out("c3") == None)
  }

  test("native as-of: NULL payload survives (match stays atomic per right row)") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:05"), "c1")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), Some(3.0)),
      (1L, ts("2024-01-01 10:00:04"), None)
    ).toDF("user_id", "ts", "v")

    val row = AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("m_ts", "m_v").collect().head
    assert(row.getTimestamp(0) == ts("2024-01-01 10:00:04"))
    assert(row.isNullAt(1))
  }

  test("native as-of: empty right side -> all-null payload, all left rows kept") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:05"), "c1")).toDF("user_id", "ts", "tag")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("user_id", "ts", "v")
    val rows = AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_").collect()
    assert(rows.length == 1 && rows.head.isNullAt(3) && rows.head.isNullAt(4))
  }

  test("native as-of: self-as-of on one scan (exprId collision) stays correct") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:05"), 5.0)
    ).toDF("user_id", "ts", "v")
    // both sides derive from the SAME DataFrame — the aliasing in
    // backwardNative must mint fresh right-side attribute ids
    val out = AsOfJoin.backwardNative(df, df, Seq("user_id"), "ts", Seq("v"), "p_")
      .select("v", "p_v").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(out == Set((3.0, 3.0), (5.0, 5.0))) // inclusive: each row matches itself
  }

  test("native as-of matches the union+window formulation on the events fixture") {
    val ev = Tables.load(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("v_value"))

    val a = AsOfJoin.backward(clicks, views, Seq("user_id"), "ts", Seq("v_value"), "m_")
      .select("event_id", "m_ts", "m_v_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val b = AsOfJoin.backwardNative(clicks, views, Seq("user_id"), "ts", Seq("v_value"), "m_")
      .select("event_id", "m_ts", "m_v_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(a.nonEmpty && a == b)
  }

  test("native as-of FORWARD: earliest-at-or-after per key, inclusive, left-outer") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "c1"),
      (1L, ts("2024-01-01 10:00:10"), "c2"), // equal ts: inclusive match
      (2L, ts("2024-01-01 10:00:03"), "c3")  // after last right for key 2: no match
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:07"), 7.0),
      (1L, ts("2024-01-01 10:00:10"), 10.0),
      (2L, ts("2024-01-01 10:00:02"), 2.0)
    ).toDF("user_id", "ts", "v")

    val out = AsOfJoin.forwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c1") == Some(7.0))
    assert(out("c2") == Some(10.0))
    assert(out("c3") == None)
  }

  test("native as-of FORWARD: randomized parity with the window formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xF0E)
    def rows(n: Int) = Seq.fill(n)((
      rnd.nextInt(4).toLong,
      ts(f"2024-01-01 10:00:${rnd.nextInt(30)}%02d"),
      rnd.nextInt(100).toDouble))
    val left = rows(200).toDF("user_id", "ts", "lv")
    val right = rows(300).toDF("user_id", "ts", "v")
      .groupBy(col("user_id"), col("ts")).agg(max(col("v")).as("v"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "lv", "m_ts", "m_v").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(_.toString).toSeq
    val a = canon(AsOfJoin.forward(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    val b = canon(AsOfJoin.forwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    assert(a == b)
  }

  test("native as-of: randomized parity with the window formulation (duplicate ts, sparse keys)") {
    import spark.implicits._
    // adversarial shape: few keys (forces multi-row groups), coarse ts
    // (forces equal-ts ties on both sides), payload occasionally null
    val rnd = new scala.util.Random(0xA50F)
    def rows(n: Int) = Seq.fill(n)((
      rnd.nextInt(4).toLong,
      ts(f"2024-01-01 10:00:${rnd.nextInt(30)}%02d"),
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toDouble)))
    val left = rows(200).map { case (k, t, v) => (k, t, v.getOrElse(-1.0)) }
      .toDF("user_id", "ts", "lv")
    // right must be unique per (key, ts): the operator contract
    val right = rows(300).toDF("user_id", "ts", "v")
      .groupBy(col("user_id"), col("ts")).agg(max(col("v")).as("v"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "lv", "m_ts", "m_v").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(_.toString).toSeq
    val a = canon(AsOfJoin.backward(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    val b = canon(AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    assert(a == b)
  }

  test("native as-of NEAREST: closer side wins, exact tie goes backward") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "closer_back"),  // back Δ2 vs fwd Δ3
      (1L, ts("2024-01-01 10:00:09"), "closer_fwd"),   // back Δ6 vs fwd Δ1? -> 10:00:10 fwd
      (1L, ts("2024-01-01 10:00:06.500000"), "tie")    // Δ3.5 both -> backward
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:10"), 10.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.nearestNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("closer_back") == 3.0)
    assert(out("closer_fwd") == 10.0)
    assert(out("tie") == 3.0)
  }

  test("native as-of NEAREST: randomized parity with the window formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x4EA1)
    def rows(n: Int) = Seq.fill(n)((
      rnd.nextInt(4).toLong,
      ts(f"2024-01-01 10:00:${rnd.nextInt(30)}%02d"),
      rnd.nextInt(100).toDouble))
    val left = rows(200).toDF("user_id", "ts", "lv")
    val right = rows(300).toDF("user_id", "ts", "v")
      .groupBy(col("user_id"), col("ts")).agg(max(col("v")).as("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "lv", "m_ts", "m_v").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(_.toString).toSeq
    val a = canon(AsOfJoin.nearest(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    val b = canon(AsOfJoin.nearestNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_"))
    assert(a == b)
  }

  test("native as-of NEAREST: NULL ts never read as a raw 0") {
    import spark.implicits._
    // long ts keeps the distances TZ-free; nearest accepts integral ts
    val left = Seq(
      (1L, Some(4L), "non_null_wins"), // back candidate has NULL ts
      (2L, Some(4L), "only_candidate"), // the ONLY candidate has NULL ts
      (3L, Option.empty[Long], "null_probe") // probe ts NULL, back absent
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, Option.empty[Long], 99.0), // NULL read as 0 would be "closer" to 4
      (1L, Some(10L), 10.0),
      (2L, Option.empty[Long], 7.0),
      (3L, Some(1L), 1.0),
      (3L, Some(9L), 9.0)
    ).toDF("user_id", "ts", "v")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Seq[String], String, Seq[String], String) => org.apache.spark.sql.DataFrame) =
      f(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
        .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    val native = run(AsOfJoin.nearestNative)
    assert(native("non_null_wins") == Some(10.0)) // NOT 99.0 via |4-0| < |10-4|
    assert(native("only_candidate") == Some(7.0)) // sole candidate matches, as in backward
    assert(native("null_probe") == Some(1.0))     // fwd candidate when back absent
    assert(run(AsOfJoin.nearest) == native)       // window formulation agrees
  }

  test("native as-of: degenerate arguments rejected with named messages") {
    import spark.implicits._
    val left = Seq((1L, 1L, 1.0)).toDF("user_id", "ts", "lv")
    val right = Seq((1L, 1L, 2.0)).toDF("user_id", "ts", "v")
    def go(keys: Seq[String], vals: Seq[String]) =
      intercept[IllegalArgumentException] {
        AsOfJoin.backwardNative(left, right, keys, "ts", vals, "m_")
      }.getMessage
    assert(go(Seq("user_id", "ts"), Seq("v")).contains("must not also be an equality key"))
    assert(go(Seq("user_id", "user_id"), Seq("v")).contains("duplicate key"))
    assert(go(Seq("user_id"), Seq("ts")).contains("must not include tsCol"))
    assert(go(Seq("user_id"), Seq("v", "v")).contains("duplicate rightVals"))
  }

  test("native as-of NEAREST: string ts rejected at plan construction") {
    import spark.implicits._
    val left = Seq((1L, "a", 1.0)).toDF("user_id", "ts", "lv")
    val right = Seq((1L, "a", 2.0)).toDF("user_id", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.nearestNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
    }
    assert(e.getMessage.contains("nearest"))
  }

  test("native as-of: mismatched ts types fail fast at plan construction") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:05"), "c1")).toDF("user_id", "ts", "tag")
    val right = Seq((1L, 1704103203L, 3.0)).toDF("user_id", "ts", "v") // ts is LONG
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
    }
    assert(e.getMessage.contains("ts types must match"))
  }

  test("native as-of: payload name collision with a left column is rejected") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:05"), 9.9)).toDF("user_id", "ts", "m_v")
    val right = Seq((1L, ts("2024-01-01 10:00:03"), 3.0)).toDF("user_id", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.backwardNative(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
    }
    assert(e.getMessage.contains("prefix"))
  }

  test("native as-of under AQE: all three directions match the window formulation " +
      "with coalescing forced") {
    // AQE rewrites the exchanges under AsOfJoinExec after materialization;
    // the exec's zipPartitions contract (equal partition counts, matched
    // key clustering) must survive CoalesceShufflePartitions. Tiny advisory
    // size + many initial partitions forces a real coalesce decision.
    obs.Sessions.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "17",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB") { c =>
      val ev = Tables.load(c, sf0001, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("v_value"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id", "m_ts", "m_v_value").collect()
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      for ((native, window) <- Seq(
          (AsOfJoin.backwardNative _, AsOfJoin.backward _),
          (AsOfJoin.forwardNative _, AsOfJoin.forward _),
          (AsOfJoin.nearestNative _, AsOfJoin.nearest _))) {
        val n = native(clicks, views, Seq("user_id"), "ts", Seq("v_value"), "m_")
        val w = window(clicks, views, Seq("user_id"), "ts", Seq("v_value"), "m_")
        assert(canon(n) == canon(w))
        val executed = n.queryExecution.executedPlan.toString
        assert(executed.contains("AdaptiveSparkPlan"), s"AQE not active:\n$executed")
        assert(executed.contains("AsOfJoin"), s"native exec missing under AQE:\n$executed")
      }
    }
  }

  test("native as-of over bucketed sorted twins: ZERO exchange below the merge") {
    // DEPLOY claims pre-bucketing both sides by the key makes the native
    // as-of exchange-free — pin it. Both sides bucketed on user_id AND
    // sorted by (user_id, ts), single file per bucket, same bucket count:
    // EnsureRequirements must find the clustering AND the ordering already
    // satisfied.
    val ev = Tables.load(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("v_value"))
    graft.sources.BucketedTables.writeBucketed(
      clicks, "clicks_asof_b", "user_id", buckets = 4, sortBy = Seq("user_id", "ts"))
    graft.sources.BucketedTables.writeBucketed(
      views, "views_asof_b", "user_id", buckets = 4, sortBy = Seq("user_id", "ts"))
    // sorted-bucket scan ordering is behind a default-off flag (Spark
    // checks one-file-per-bucket lazily; writeBucketed guarantees it)
    try obs.Sessions.withConf(spark,
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") { c =>
      val out = AsOfJoin.backwardNative(
        c.table("clicks_asof_b"), c.table("views_asof_b"),
        Seq("user_id"), "ts", Seq("v_value"), "m_")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"native exec missing:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed as-of still shuffles:\n$plan")
      assert(!plan.contains("Sort "), s"sorted buckets still re-sorted:\n$plan")
      // and the exchange-free plan returns exactly the plain path's rows
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id", "m_ts", "m_v_value").collect()
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val plain = AsOfJoin.backwardNative(clicks, views, Seq("user_id"), "ts", Seq("v_value"), "m_")
      assert(canon(out) == canon(plain))
    } finally {
      spark.sql("DROP TABLE IF EXISTS clicks_asof_b")
      spark.sql("DROP TABLE IF EXISTS views_asof_b")
    }
  }

  test("native as-of plan: AsOfJoinExec present, no WindowExec / nested loop") {
    val ev = Tables.load(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("v_value"))
    val plan = AsOfJoin.backwardNative(clicks, views, Seq("user_id"), "ts", Seq("v_value"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native exec missing:\n$plan")
    assert(!plan.contains("WindowExec"), "window encoding leaked into native plan")
    assert(!plan.contains("BroadcastNestedLoop"), "nested-loop fallback in native plan")
  }

  test("native as-of accepts TIMESTAMP_NTZ end-to-end, all three directions") {
    // NTZ is physically long micros like TimestampType; since the fixture
    // regeneration made NTZ a type users actually hit, pin that raw NTZ
    // frames (no normalization) flow through backward/forward/nearest and
    // produce the same matches as their session-zoned twins
    import spark.implicits._
    def ntz(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "c1"),
      (1L, ts("2024-01-01 10:00:10"), "c2"),
      (2L, ts("2024-01-01 10:00:01"), "c3")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:12"), 12.0),
      (2L, ts("2024-01-01 10:00:02"), 2.0)).toDF("user_id", "ts", "v")
    Seq[(String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame)](
      ("backward", AsOfJoin.backwardNative(_, _, Seq("user_id"), "ts", Seq("v"), "m_")),
      ("forward", AsOfJoin.forwardNative(_, _, Seq("user_id"), "ts", Seq("v"), "m_")),
      ("nearest", AsOfJoin.nearestNative(_, _, Seq("user_id"), "ts", Seq("v"), "m_"))
    ).foreach { case (name, join) =>
      val tz = join(left, right)
        .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
      val nz = join(ntz(left), ntz(right))
        .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
      assert(nz == tz, s"$name: NTZ result diverged: ntz=$nz tz=$tz")
    }
  }
}
