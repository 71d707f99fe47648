package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, RangeJoin}
import graft.queries.VectorQueries

/** Unit semantics for the custom operators, pinned against tiny hand-checked
  * inputs (the DuckDB cross-check runs in tools/check.py at fixture scale).
  */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("withConf: scopes live on a clone; the parent's conf is never written") {
    import graft.obs.Sessions
    val key = "spark.sql.shuffle.partitions"
    val parent = spark.newSession()
    parent.conf.set("spark.graft.test.marker", "runtime") // set after creation
    parent.range(3).createOrReplaceTempView("with_conf_view")
    val before = parent.conf.getAll
    val inside = Sessions.withConf(parent, key -> "3") { c =>
      assert(parent.conf.getAll == before, "the parent's conf changed inside the body")
      // the clone starts from the parent's runtime conf and temp views
      assert(c.conf.get("spark.graft.test.marker") == "runtime")
      assert(c.table("with_conf_view").count() == 3)
      c.conf.get(key)
    }
    assert(inside == "3" && parent.conf.getAll == before)
    // also when the body throws
    intercept[RuntimeException] {
      Sessions.withConf(parent, key -> "5") { _ => throw new RuntimeException("boom") }
    }
    assert(parent.conf.getAll == before)
    // a frame built from the clone keeps the clone's conf up to execution
    val lenient = Sessions.withConf(parent, "spark.sql.ansi.enabled" -> "false")(
      _.sql("SELECT CAST('x' AS INT) AS v"))
    assert(lenient.collect().head.isNullAt(0))
    assert(parent.conf.getAll == before)
  }

  test("as-of join: latest right row at-or-before, per key, inclusive ties") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "c1"),
      (1L, ts("2024-01-01 10:00:10"), "c2"),
      (2L, ts("2024-01-01 10:00:01"), "c3")
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:10"), 10.0), // equal ts: must match c2 (inclusive)
      (2L, ts("2024-01-01 10:00:02"), 2.0)   // after c3: must NOT match
    ).toDF("user_id", "ts", "v")

    val out = AsOfJoin.backward(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c1") == Some(3.0))
    assert(out("c2") == Some(10.0))
    assert(out("c3") == None)
  }

  test("as-of join: NULL right payload survives and columns stay atomic per match") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:05"), "c1")).toDF("user_id", "ts", "tag")
    // newest right row at-or-before c1 carries v = NULL: the match must emit
    // (m_ts = 10:00:04, m_v = NULL), not borrow v = 3.0 from the older row.
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), Some(3.0)),
      (1L, ts("2024-01-01 10:00:04"), None)
    ).toDF("user_id", "ts", "v")

    val row = AsOfJoin.backward(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("m_ts", "m_v").collect().head
    assert(row.getTimestamp(0) == ts("2024-01-01 10:00:04"))
    assert(row.isNullAt(1))
  }

  test("range join: exactly the rows within (ts-window, ts], bucket edges included") {
    import spark.implicits._
    val probe = Seq((1L, ts("2024-01-01 10:10:00"), 100L)).toDF("user_id", "ts", "event_id")
    val cand = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L),  // exactly window lower bound: included
      (1L, ts("2024-01-01 10:04:59"), 2L),  // just outside: excluded
      (1L, ts("2024-01-01 10:10:00"), 3L),  // equal ts: included
      (1L, ts("2024-01-01 10:10:01"), 4L),  // future: excluded
      (2L, ts("2024-01-01 10:09:00"), 5L)   // other key: excluded
    ).toDF("user_id", "ts", "event_id")

    val got = RangeJoin.backwardWindow(probe, cand, Seq("user_id"), "ts", 300000000L)
      .select(col("r.event_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("as-of join equals the naive per-row reference on randomized data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val left = (1 to 400).map { i =>
      (rnd.nextInt(8).toLong, new java.sql.Timestamp(base + rnd.nextInt(100000) * 1000L), i)
    }
    // right unique per (key, ts) as the contract requires
    val right = (1 to 300).map { _ =>
      (rnd.nextInt(8).toLong, new java.sql.Timestamp(base + rnd.nextInt(100000) * 1000L), rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val got = AsOfJoin.backward(
        left.toDF("k", "ts", "row_id"), right.toDF("k", "ts", "v"),
        Seq("k"), "ts", Seq("v"), "m_")
      .select("row_id", "m_ts", "m_v").collect()
      .map(r => r.getInt(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    left.foreach { case (k, ts, id) =>
      val expect = right.filter(r => r._1 == k && !r._2.after(ts)) match {
        case e if e.isEmpty => (None, None)
        case e =>
          val m = e.maxBy(_._2.getTime)
          (Some(m._2), Some(m._3))
      }
      assert(got(id) == expect, s"row $id key $k ts $ts")
    }
  }

  test("as-of join forward: earliest right row at-or-after, inclusive ties") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "c1"),
      (1L, ts("2024-01-01 10:00:10"), "c2"), // equal ts: inclusive
      (2L, ts("2024-01-01 10:00:03"), "c3")  // nothing at-or-after
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:07"), 7.0),
      (1L, ts("2024-01-01 10:00:10"), 10.0),
      (2L, ts("2024-01-01 10:00:02"), 2.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.forward(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("c1") == Some(7.0))
    assert(out("c2") == Some(10.0))
    assert(out("c3") == None)
  }

  test("as-of join nearest: closer side wins, exact tie prefers backward") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "mid"),   // 2s to past(03), 1s to future(06) -> future
      (1L, ts("2024-01-01 10:00:04"), "tie"),   // 1s to both 03 and 06... no: 1s to 03, 2s to 06 -> past
      (1L, ts("2024-01-01 10:00:00"), "early"), // only future exists at-or-after? 03 -> future
      (2L, ts("2024-01-01 10:00:09"), "late")   // only past exists (08) -> past
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:03"), 3.0),
      (1L, ts("2024-01-01 10:00:06"), 6.0),
      (2L, ts("2024-01-01 10:00:08"), 8.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.nearest(left, right, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("tag", "m_v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("mid") == Some(6.0))
    assert(out("tie") == Some(3.0))
    assert(out("early") == Some(3.0))
    assert(out("late") == Some(8.0))
    // exact-tie case: 10:00:05 with rights at 04 and 06 must take the past
    val tieL = Seq((9L, ts("2024-01-01 10:00:05"), "t")).toDF("user_id", "ts", "tag")
    val tieR = Seq((9L, ts("2024-01-01 10:00:04"), 4.0), (9L, ts("2024-01-01 10:00:06"), 6.0))
      .toDF("user_id", "ts", "v")
    val tie = AsOfJoin.nearest(tieL, tieR, Seq("user_id"), "ts", Seq("v"), "m_")
      .select("m_v").collect().head.getDouble(0)
    assert(tie == 4.0)
  }

  test("as-of join forward/nearest equal the naive reference on randomized data") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val left = (1 to 300).map { i =>
      (rnd.nextInt(6).toLong, new java.sql.Timestamp(base + rnd.nextInt(50000) * 1000L), i)
    }
    val right = (1 to 200).map { _ =>
      (rnd.nextInt(6).toLong, new java.sql.Timestamp(base + rnd.nextInt(50000) * 1000L), rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    def naive(k: Long, t: java.sql.Timestamp): (Option[Double], Option[Double]) = {
      val past = right.filter(r => r._1 == k && !r._2.after(t))
        .sortBy(_._2.getTime).lastOption
      val future = right.filter(r => r._1 == k && !r._2.before(t))
        .sortBy(_._2.getTime).headOption
      val near = (past, future) match {
        case (Some(p), Some(f)) =>
          if (t.getTime - p._2.getTime <= f._2.getTime - t.getTime) Some(p._3) else Some(f._3)
        case (p, f) => p.orElse(f).map(_._3)
      }
      (future.map(_._3), near)
    }
    val fwd = AsOfJoin.forward(left.toDF("k", "ts", "row_id"), right.toDF("k", "ts", "v"),
        Seq("k"), "ts", Seq("v"), "m_")
      .select("row_id", "m_v").collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val near = AsOfJoin.nearest(left.toDF("k", "ts", "row_id"), right.toDF("k", "ts", "v"),
        Seq("k"), "ts", Seq("v"), "m_")
      .select("row_id", "m_v").collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    left.foreach { case (k, t, id) =>
      val (ef, en) = naive(k, t)
      assert(fwd(id) == ef, s"forward row $id key $k ts $t")
      assert(near(id) == en, s"nearest row $id key $k ts $t")
    }
  }

  test("range join equals the naive filter on randomized data") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val w = 300000000L // 5 min in micros
    val probe = (1 to 200).map { i =>
      (rnd.nextInt(6).toLong, new java.sql.Timestamp(base + rnd.nextInt(7200) * 1000L), i.toLong)
    }
    val cand = (1 to 200).map { i =>
      (rnd.nextInt(6).toLong, new java.sql.Timestamp(base + rnd.nextInt(7200) * 1000L), (1000 + i).toLong)
    }
    val got = RangeJoin.backwardWindow(
        probe.toDF("k", "ts", "pid"), cand.toDF("k", "ts", "cid"),
        Seq("k"), "ts", w)
      .select(col("l.pid"), col("r.cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (pk, pts, pid) <- probe
      (ck, cts, cid) <- cand
      if pk == ck
      if cts.getTime * 1000 >= pts.getTime * 1000 - w && !cts.after(pts)
    } yield (pid, cid)).toSet
    assert(got == expect)
  }

  test("grouped top-k equals naive window ranking") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i % 5, i, (i * 37 % 101).toDouble))
      .toDF("g", "id", "score")
    val naive = df.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"score".desc, $"id")))
      .filter($"rn" <= 3).select($"g", $"rn".cast("long").as("rn"), $"id")
    val fast = VectorQueries.groupedTopK(df, "g", 3, Seq($"score".desc, $"id"))
      .select($"g", $"rn", $"id")
    assert(fast.except(naive).count() == 0 && naive.except(fast).count() == 0)
  }

  test("global rank equals native single-partition window functions") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"score".desc, $"id")
    // 203 rows, 4 tiles -> uneven NTILE split (3 wide tiles); duplicate
    // scores force the tiebreaker to carry the total order.
    val df = (1 to 203).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("id", "score")
    val naive = df.select($"id",
      row_number().over(w).cast("long").as("rank"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      ntile(4).over(w).cast("long").as("tile"))
    val fast = graft.operators.GlobalRank
      .withRankColumns(df, Seq($"score".desc, $"id"), tiles = 4)
      .select($"id", $"rank", $"pr", $"cd", $"tile")
    assert(fast.except(naive).count() == 0 && naive.except(fast).count() == 0)
  }
}
