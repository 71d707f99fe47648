package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TradeTick
import graft.streaming.Stateful

class StatefulSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming session windows split on the gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val events = ms.toDF().toDF("user_id", "ts")
    val q = Stateful.sessionCounts(events, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      // user 1: two bursts 40 min apart -> 2 sessions; user 2: one session
      ms.addData(
        (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
        (1L, ts("2024-01-01 10:50:00")),
        (2L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // advance watermark far enough to close all sessions
      ms.addData((99L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events FROM sessions ORDER BY user_id, session_start")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(rows == List((1L, 2L), (1L, 1L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming dedup against static corpus drops known and repeated docs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpus = Seq("known doc one", "known doc two").toDF("text")
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val out = Stateful.dedupAgainstCorpus(
      ms.toDF().toDF("text", "ts"), corpus)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpusdedup").start()
    try {
      ms.addData(
        ("known doc one", ts("2024-01-01 10:00:00")),  // in corpus: dropped
        ("fresh doc", ts("2024-01-01 10:00:01")),      // new: kept
        ("fresh doc", ts("2024-01-01 10:00:02")))      // stream repeat: dropped
      q.processAllAvailable()
      ms.addData(("another fresh", ts("2024-01-01 10:00:03")))
      q.processAllAvailable()
      val got = spark.sql("SELECT text FROM corpusdedup ORDER BY text")
        .collect().map(_.getString(0)).toList
      assert(got == List("another fresh", "fresh doc"))
    } finally q.stop()
  }

  test("small-file compaction preserves rows and cuts file count") {
    val dir = tmpDir("compact") + "/t"
    val df = graft.model.Tables.load(spark, sf0001, "lineitem")
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    val rows = graft.tools.Compactor.compact(spark, dir, targetBytes = 512L * 1024)
    assert(rows == df.count())
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before, s"$after files after vs $before before")
    assert(spark.read.parquet(dir).count() == rows) // readable post-rename
    // park-then-swap cleanup: no stale .pre-compact left behind, and a
    // stale park from a simulated earlier crash is reclaimed on re-run
    val parked = new java.io.File(dir + ".pre-compact")
    assert(!parked.exists(), "pre-compact park not cleaned up")
    parked.mkdirs()
    val rows2 = graft.tools.Compactor.compact(spark, dir, targetBytes = 512L * 1024)
    assert(rows2 == rows && !parked.exists())
  }

  test("stream-stream interval join matches within tolerance, both sides watermarked") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Stateful.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      views.toDF().toDF("user_id", "ts"),
      key = "user_id", tolerance = "10 minutes")
    val q = joined.select(col("user_id"), col("ts"), col("r_ts"))
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      views.addData(
        (1L, ts("2024-01-01 10:00:00")), // 5 min before the click: matches
        (1L, ts("2024-01-01 09:40:00")), // 25 min before: outside tolerance
        (2L, ts("2024-01-01 10:03:00"))) // other user: no click
      clicks.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, r_ts FROM ssj ORDER BY user_id, r_ts")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toList
      assert(rows == List((1L, ts("2024-01-01 10:00:00"))))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched rows null-pad after the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Stateful.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      views.toDF().toDF("user_id", "ts"),
      key = "user_id", tolerance = "10 minutes", watermark = "10 minutes",
      joinType = "left_outer")
    val q = joined.select(col("user_id"), col("ts"), col("r_ts"))
      .writeStream.outputMode("append").format("memory").queryName("ssoj").start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00")))   // matches user 1's click
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00")),               // matched inner
        (2L, ts("2024-01-01 10:05:00")))               // NO view: outer row
      q.processAllAvailable()
      // inner result is out immediately; the unmatched verdict for user 2 is
      // still provisional (a view could arrive until wm passes 10:05)
      val early = spark.sql("SELECT user_id FROM ssoj WHERE r_ts IS NULL").count()
      assert(early == 0L, "outer row emitted before the watermark allowed it")
      // advance BOTH watermarks far past 10:05 + tolerance
      views.addData((9L, ts("2024-01-01 11:00:00")))
      clicks.addData((9L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      views.addData((8L, ts("2024-01-01 12:00:00")))
      clicks.addData((8L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, r_ts FROM ssoj ORDER BY user_id")
        .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toList
      assert(rows.contains((1L, Some(ts("2024-01-01 10:00:00")))), s"inner row lost: $rows")
      assert(rows.contains((2L, None)), s"outer null-padded row missing: $rows")
      // rejects unsupported types loudly
      intercept[IllegalArgumentException] {
        Stateful.intervalJoin(clicks.toDF().toDF("user_id", "ts"),
          views.toDF().toDF("user_id", "ts"), key = "user_id", joinType = "cross")
      }
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join: both sides null-pad, keys survive") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Stateful.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      views.toDF().toDF("user_id", "ts"),
      key = "user_id", tolerance = "10 minutes", watermark = "10 minutes",
      joinType = "full_outer")
    val q = joined.select(col("user_id"), col("ts"), col("r_ts"))
      .writeStream.outputMode("append").format("memory").queryName("ssfj").start()
    try {
      views.addData(
        (1L, ts("2024-01-01 10:00:00")),  // matches user 1's click
        (3L, ts("2024-01-01 10:02:00")))  // NO click: right-outer row
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00")),  // matched inner
        (2L, ts("2024-01-01 10:05:00")))  // NO view: left-outer row
      q.processAllAvailable()
      // advance BOTH watermarks far enough for both unmatched verdicts
      Seq("11:00:00", "12:00:00").foreach { t =>
        views.addData((9L, ts(s"2024-01-01 $t")))
        clicks.addData((9L, ts(s"2024-01-01 $t")))
        q.processAllAvailable()
      }
      val rows = spark.sql("SELECT user_id, ts, r_ts FROM ssfj WHERE user_id < 9 ORDER BY user_id")
        .collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(1)), Option(r.getTimestamp(2)))).toList
      assert(rows.contains((1L, Some(ts("2024-01-01 10:05:00")), Some(ts("2024-01-01 10:00:00")))),
        s"inner row lost: $rows")
      assert(rows.contains((2L, Some(ts("2024-01-01 10:05:00")), None)),
        s"left-outer row missing: $rows")
      // the right-only row must keep its key (coalesced), left ts null
      assert(rows.contains((3L, None, Some(ts("2024-01-01 10:02:00")))),
        s"right-outer row missing or key lost: $rows")
    } finally q.stop()
  }

  test("watermarked tumbling aggregation drops late rows past the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = ms.toDF().toDF("id", "ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("wmagg").start()
    try {
      // window 10:00 gets two rows; event at 10:30 advances watermark to 10:20
      ms.addData((1L, ts("2024-01-01 10:00:05"), 1.0), (2L, ts("2024-01-01 10:00:20"), 2.0))
      q.processAllAvailable()
      ms.addData((3L, ts("2024-01-01 10:30:00"), 3.0))
      q.processAllAvailable()
      // this row is 30 min late, far past the 10-min watermark: MUST be dropped
      ms.addData((4L, ts("2024-01-01 10:00:40"), 100.0))
      q.processAllAvailable()
      // close remaining windows
      ms.addData((5L, ts("2024-01-01 11:00:00"), 5.0))
      q.processAllAvailable()
      val w10 = spark.sql(
        "SELECT n, s FROM wmagg WHERE date_format(window.start, 'HH:mm') = '10:00'")
        .collect().head
      assert(w10.getLong(0) == 2L, "late row leaked into the closed window")
      assert(w10.getDouble(1) == 3.0)
    } finally q.stop()
  }

  test("runningOhlc drops cross-batch late ticks instead of duplicating bars") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TradeTick]
    val base = 1700000040000L // minute-aligned
    def tick(id: Long, p: String, tMs: Long) = TradeTick(id, "BTCUSDT", p, "1.00000000", tMs, true)
    val q = Stateful.runningOhlc(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName("latebars").start()
    try {
      // batch 1: minute 0 (two ticks) then minute 1 -> bar for minute 0 emits
      ms.addData(tick(1, "10", base), tick(2, "11", base + 1000), tick(3, "20", base + 60000))
      q.processAllAvailable()
      // batch 2: LATE tick for minute 0 -> must be dropped, not rotate back
      ms.addData(tick(4, "99", base + 2000))
      q.processAllAvailable()
      // batch 3: minute 2 -> bar for minute 1 emits
      ms.addData(tick(5, "30", base + 120000))
      q.processAllAvailable()
      val bars = spark.sql("SELECT windowStartSec, open, close, count FROM latebars ORDER BY windowStartSec")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toList
      // exactly one bar per closed window; minute-0 bar excludes the late 99
      assert(bars == List(
        (base / 1000, 10.0, 11.0, 2L),
        (base / 1000 + 60, 20.0, 20.0, 1L)))
    } finally q.stop()
  }

  test("runningOhlcTws (transformWithState) emits the same bars as the v1 operator") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    obs.Sessions.withConf(spark, providerKey ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { c =>
      import c.implicits._
      implicit val ctx = c.sqlContext
      val ms = MemoryStream[TradeTick]
      val base = 1700000040000L
      def tick(id: Long, p: String, tMs: Long) = TradeTick(id, "BTCUSDT", p, "2.00000000", tMs, true)
      val q = Stateful.runningOhlcTws(ms.toDS())
        .writeStream.outputMode("append").format("memory").queryName("twsbars").start()
      try {
        // same scenario as the v1 late-tick test: rotation on later minute,
        // cross-batch late tick dropped, multi-batch state carry
        ms.addData(tick(1, "10", base), tick(2, "11", base + 1000), tick(3, "20", base + 60000))
        q.processAllAvailable()
        ms.addData(tick(4, "99", base + 2000)) // late -> dropped
        q.processAllAvailable()
        ms.addData(tick(5, "30", base + 120000))
        q.processAllAvailable()
        val bars = c.sql(
          "SELECT windowStartSec, open, high, low, close, volume, count FROM twsbars ORDER BY windowStartSec")
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getLong(6))).toList
        assert(bars == List(
          (base / 1000, 10.0, 11.0, 10.0, 11.0, 4.0, 2L),
          (base / 1000 + 60, 20.0, 20.0, 20.0, 20.0, 2.0, 1L)))
      } finally q.stop()
    }
  }

  test("stream-static enrich joins the symbol dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TradeTick]
    val dim = Seq(("BTCUSDT", "Bitcoin"), ("ETHUSDT", "Ether")).toDF("symbol", "asset")
    val q = Stateful.enrich(ms.toDF(), dim)
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      ms.addData(TradeTick(1, "BTCUSDT", "1.0", "1.00000000", 0L, true))
      q.processAllAvailable()
      val r = spark.sql("SELECT asset FROM enriched").collect()
      assert(r.map(_.getString(0)).toSeq == Seq("Bitcoin"))
    } finally q.stop()
  }

  test("STREAM-STREAM as-of join: multi-batch replay matches the batch operator") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def L(k: String, ms: Long, id: Long) = Stateful.AsOfEv(k, ts(ms), 1, id, 0.0)
    def R(k: String, ms: Long, v: Double) = Stateful.AsOfEv(k, ts(ms), 0, 0L, v)

    // interleaved quotes (right) and probes (left) on two keys; probes
    // before any quote, at exact quote times (inclusive), and between
    val batch1 = Seq(
      R("a", 1000, 1.0), L("a", 500, 1), L("a", 1000, 2), L("a", 1500, 3),
      R("b", 2000, 9.0))
    val batch2 = Seq(
      // R(a,1200) lands AFTER probe id=3 (ts 1500) arrived but BEFORE the
      // watermark emitted it — the match must upgrade to this later-arriving
      // earlier-timestamped quote (the reason emission is watermark-gated)
      R("a", 1200, 1.5),
      R("a", 2000, 2.0), L("a", 2500, 4),
      L("b", 1999, 5), L("b", 2000, 6), L("b", 9000, 7))
    val ms = MemoryStream[Stateful.AsOfEv]
    val q = Stateful.asOfJoinStream(ms.toDS(), delay = "1 second")
      .writeStream.outputMode("append").format("memory").queryName("ss_asof").start()
    try {
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      // watermark pusher: its own key, far future — flushes every pending
      // probe via event-time timers on the no-data batch that follows
      ms.addData(R("zz_pusher", 10000000, 0.0)); q.processAllAvailable()

      val got = spark.sql("SELECT key, tsUs, id, mTsUs, mV FROM ss_asof")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSet

      // batch twin on the same rows
      val all = batch1 ++ batch2
      val left = all.filter(_.side == 1).map(e => (e.key, e.ts, e.id)).toDF("key", "ts", "id")
      val right = all.filter(_.side == 0).map(e => (e.key, e.ts, e.v)).toDF("key", "ts", "v")
      val expect = graft.operators.AsOfJoin.backward(left, right, Seq("key"), "ts", Seq("v"), "m_")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L, r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[java.sql.Timestamp].getTime * 1000L),
          Option(r.get(4)))).toSet
      assert(got == expect, s"\ngot    $got\nexpect $expect")
      assert(got.size == 7) // every probe emitted exactly once
    } finally q.stop()
  }

  test("STREAM-STREAM as-of join: randomized replay parity with the batch operator " +
      "(RocksDB state store)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the production state backend: per-key buffers live in RocksDB, so the
    // encoder round-trip of AsOfBufV1 through the store is exercised too
    obs.Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { c =>
      runRandomizedAsOfReplay("ss_asof_rnd_rocks", c)
    }
  }

  test("STREAM-STREAM as-of join: randomized replay parity with the batch operator") {
    runRandomizedAsOfReplay("ss_asof_rnd")
  }

  private def runRandomizedAsOfReplay(sink: String,
      session: org.apache.spark.sql.SparkSession = spark): Unit = {
    import session.implicits._
    implicit val ctx = session.sqlContext
    val rnd = new scala.util.Random(0x55A0F)
    // 3 keys, coarse millisecond grid (forces equal-ts inclusive ties),
    // rights unique per (key, ts) per the operator contract
    val keys = Seq("k1", "k2", "k3")
    // base offset keeps every event ABOVE the engine's initial watermark
    // (rows with event time <= the watermark are dropped before the
    // stateful operator sees them, and the watermark starts at 0)
    val base = 3600000L
    val rights = (for (k <- keys; t <- 0 until 40 if rnd.nextBoolean())
      yield Stateful.AsOfEv(k, new java.sql.Timestamp(base + t * 100L), 0, 0L,
        rnd.nextInt(1000).toDouble))
    val lefts = (1 to 120).map(i => Stateful.AsOfEv(keys(rnd.nextInt(3)),
      new java.sql.Timestamp(base + rnd.nextInt(45) * 100L), 1, i.toLong, 0.0))
    // arrival order is shuffled and split into 3 batches — event time and
    // arrival order are fully decoupled (within the watermark window)
    val shuffled = rnd.shuffle(rights ++ lefts)
    val batches = shuffled.grouped((shuffled.size + 2) / 3).toSeq

    val ms = MemoryStream[Stateful.AsOfEv]
    val q = Stateful.asOfJoinStream(ms.toDS(), delay = "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      ms.addData(Stateful.AsOfEv("zz", new java.sql.Timestamp(10000000L), 0, 0L, 0.0))
      q.processAllAvailable()
      val got = session.sql(s"SELECT key, tsUs, id, mTsUs, mV FROM $sink")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSet
      val expect = graft.operators.AsOfJoin.backward(
        lefts.map(e => (e.key, e.ts, e.id)).toDF("key", "ts", "id"),
        rights.map(e => (e.key, e.ts, e.v)).toDF("key", "ts", "v"),
        Seq("key"), "ts", Seq("v"), "m_")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L, r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[java.sql.Timestamp].getTime * 1000L),
          Option(r.get(4)))).toSet
      val gotS: Set[String] = got.map(_.toString)
      val expS: Set[String] = expect.map(_.toString)
      assert(gotS == expS,
        s"\nmissing: ${expS -- gotS}\nspurious: ${gotS -- expS}")
      assert(got.size == 120)
    } finally q.stop()
  }

  test("stream-static AS-OF enrich: each event gets the dim version in force at its time") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // versioned fee schedule: 2 symbols × several effective-from versions
    val dim = Seq(
      ("BTCUSDT", 100L, 10), ("BTCUSDT", 200L, 20), ("BTCUSDT", 300L, 30),
      ("ETHUSDT", 150L, 5)
    ).toDF("symbol", "effective_ms", "fee_bps")

    val ms = MemoryStream[(String, Long, Long)]
    val stream = ms.toDF().toDF("symbol", "event_ms", "event_id")
    val q = Stateful.asOfEnrich(stream, dim, "symbol", "event_ms", "effective_ms")
      .writeStream.outputMode("append").format("memory").queryName("asof_enriched").start()
    try {
      // two micro-batches, events straddling version boundaries + one
      // pre-first-version event (must survive with null payload)
      ms.addData(("BTCUSDT", 50L, 1L), ("BTCUSDT", 100L, 2L), ("BTCUSDT", 250L, 3L))
      q.processAllAvailable()
      ms.addData(("BTCUSDT", 300L, 4L), ("BTCUSDT", 999L, 5L), ("ETHUSDT", 200L, 6L))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, fee_bps FROM asof_enriched").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(got == Map(
        1L -> None,       // before first version
        2L -> Some(10),   // inclusive at effective_ms
        3L -> Some(20),
        4L -> Some(30),   // inclusive at the newest version boundary
        5L -> Some(30),   // open-ended newest version
        6L -> Some(5)))

      // parity with the BATCH native as-of on the same data
      val batchStream = Seq(
        ("BTCUSDT", 50L, 1L), ("BTCUSDT", 100L, 2L), ("BTCUSDT", 250L, 3L),
        ("BTCUSDT", 300L, 4L), ("BTCUSDT", 999L, 5L), ("ETHUSDT", 200L, 6L)
      ).toDF("symbol", "ts", "event_id")
      val batch = graft.operators.AsOfJoin.backwardNative(
        batchStream, dim.withColumnRenamed("effective_ms", "ts"),
        Seq("symbol"), "ts", Seq("fee_bps"), "m_")
        .collect().map(r => r.getLong(2) -> Option(r.get(4))).toMap
      assert(batch == got)
    } finally q.stop()
  }

  /** Drives funnelStream over the given micro-batches, returning the final
    * (latest-row-wins) funnel table.
    */
  private def runFunnel(batches: Seq[Seq[Stateful.FunnelEv]],
      watermarkDelay: Option[String] = None,
      session: org.apache.spark.sql.SparkSession = spark)
      : Map[Long, (Option[Long], Option[Long], Option[Long])] = {
    import session.implicits._
    implicit val ctx = session.sqlContext
    val ms = MemoryStream[(Long, Long, Byte)]
    val acc = scala.collection.concurrent.TrieMap
      .empty[Long, (Option[Long], Option[Long], Option[Long])]
    val stream = Stateful.funnelStream(
      ms.toDS().map { case (u, t, e) => Stateful.FunnelEv(u, t, e) },
      watermarkDelay)
    val q = stream.writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[Stateful.FunnelRow], _: Long) =>
          b.collect().foreach(r => acc(r.userId) = (r.vTsUs, r.cTsUs, r.pTsUs))
      }
      .start()
    try {
      batches.foreach { b =>
        ms.addData(b.map(e => (e.userId, e.tsUs, e.etype)))
        q.processAllAvailable()
      }
    } finally q.stop()
    acc.toMap
  }

  test("streaming funnel re-derives the chain when an earlier view arrives late") {
    def ev(u: Long, t: Long, e: Int) = Stateful.FunnelEv(u, t, e.toByte)
    // batch 1: user 1's click precedes its only known view (no conversion
    // yet); user 2 converts fully. batch 2: user 1's EARLIER view arrives
    // late — the anchor drops from 100 to 40 and the click at 50 (previously
    // at-or-before the anchor) must now count, then the purchase at 60.
    val got = runFunnel(Seq(
      Seq(ev(1, 50, 1), ev(1, 100, 0), ev(2, 10, 0), ev(2, 20, 1), ev(2, 30, 2)),
      Seq(ev(1, 40, 0), ev(1, 60, 2))))
    assert(got == Map(
      1L -> ((Some(40L), Some(50L), Some(60L))),
      2L -> ((Some(10L), Some(20L), Some(30L)))))
  }

  private def runRandomizedFunnel(
      session: org.apache.spark.sql.SparkSession = spark): Unit = {
    val rnd = new scala.util.Random(4242)
    val events = (1 to 400).map { _ =>
      Stateful.FunnelEv(rnd.nextInt(25).toLong + 1,
        rnd.nextInt(10000).toLong, rnd.nextInt(3).toByte)
    }
    // arbitrary arrival order, 4 uneven micro-batches
    val shuffled = rnd.shuffle(events)
    val batches = shuffled.grouped(math.max(1, shuffled.size / 4 + 1)).toSeq
    val got = runFunnel(batches, session = session)
    val ref = events.groupBy(_.userId).map { case (u, evs) =>
      def times(t: Byte) = evs.filter(_.etype == t).map(_.tsUs).sorted
      val v = times(0).headOption
      val c = v.flatMap(a => times(1).find(_ > a))
      val p = c.flatMap(a => times(2).find(_ > a))
      u -> ((v, c, p))
    }
    assert(got == ref)
  }

  test("streaming funnel randomized multi-batch parity with the batch chain") {
    runRandomizedFunnel()
  }

  test("funnelAdvance freezes and prunes state as the watermark passes each stage") {
    import Stateful.{FunnelEv, FunnelStV1}
    def ev(t: Long, e: Int) = FunnelEv(1, t, e.toByte)
    val empty = FunnelStV1(1, Long.MaxValue, Nil, Nil)
    // wm=0: nothing frozen — the pre-anchor click at 50 is kept (a later
    // EARLIER view could still make it the conversion click)
    val (s1, r1) = Stateful.funnelAdvance(empty,
      Iterator(ev(100, 0), ev(50, 1), ev(150, 1), ev(200, 2)), Some(0L))
    assert(r1 == ((Some(100L), Some(150L), Some(200L))))
    assert(s1 == FunnelStV1(1, 100, List(50, 150), List(200)))
    // wm=120 (past the view): anchor frozen, clicks ≤ anchor dropped
    val (s2, _) = Stateful.funnelAdvance(s1, Iterator.empty, Some(120L))
    assert(s2 == FunnelStV1(1, 100, List(150), List(200), fixedV = true, wmAppliedUs = 120L))
    // wm=160 (past the click): click list collapses to the chosen click
    val (s3, _) = Stateful.funnelAdvance(s2, Iterator.empty, Some(160L))
    assert(s3 == FunnelStV1(1, 100, List(150), List(200), fixedV = true, fixedC = true,
      wmAppliedUs = 160L))
    // wm=300 (past the purchase): fully frozen — three longs of state
    val (s4, r4) = Stateful.funnelAdvance(s3, Iterator.empty, Some(300L))
    assert(s4 == FunnelStV1(1, 100, List(150), List(200),
      fixedV = true, fixedC = true, fixedP = true, wmAppliedUs = 300L))
    assert(r4 == ((Some(100L), Some(150L), Some(200L))))
    // no view yet: clicks/purchases at-or-before the watermark can never
    // qualify against a future (on-time, ≥ wm) anchor — dropped
    val (s5, r5) = Stateful.funnelAdvance(empty,
      Iterator(ev(10, 1), ev(20, 2), ev(500, 1)), Some(400L))
    assert(s5 == FunnelStV1(1, Long.MaxValue, List(500), Nil, wmAppliedUs = 400L))
    assert(r5 == ((None, None, None)))
  }

  test("streaming funnel with watermark pruning matches the batch chain under bounded disorder") {
    val rnd = new scala.util.Random(777)
    val events = (1 to 600).map { _ =>
      Stateful.FunnelEv(rnd.nextInt(25).toLong + 1,
        rnd.nextInt(10_000_000).toLong + 1, rnd.nextInt(3).toByte)
    }
    // time-ordered chunks of 1s span, shuffled WITHIN each chunk: disorder
    // is bounded by 1s < the 2s watermark delay, so nothing is late-dropped
    // and the pruned-state result must still equal the batch chain
    val batches = events.sortBy(_.tsUs).grouped(60).toSeq
      .map(chunk => rnd.shuffle(chunk))
    val got = runFunnel(batches, watermarkDelay = Some("2 seconds"))
    val ref = events.groupBy(_.userId).map { case (u, evs) =>
      def times(t: Byte) = evs.filter(_.etype == t).map(_.tsUs).sorted
      val v = times(0).headOption
      val c = v.flatMap(a => times(1).find(_ > a))
      val p = c.flatMap(a => times(2).find(_ > a))
      u -> ((v, c, p))
    }
    assert(got == ref)
  }

  test("streaming curation gate: dedup + quality + decontamination compose incrementally") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpusText = "already in the corpus text body here ok fine"
    val clean1 = "the quick brown fox jumps over the lazy dog again and again ok"
    val clean2 = "another perfectly sized document with unique words flowing nicely along here today"
    val short = "too short text"
    val repetitive = ("spam ham " * 10).trim
    val contaminated = "a b c d e plus other words to reach twelve tokens total here"
    val corpus = Seq(corpusText).toDF("text")
    val evalShingles = Seq("a b c", "b c d", "c d e")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val t0 = ts("2024-01-01 10:00:00")
    val gated = Stateful.curateStream(
      ms.toDF().toDF("doc_id", "ts", "text"), corpus, evalShingles,
      contaminationThreshold = 2)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("curated").start()
    try {
      ms.addData((1L, t0, clean2), (2L, t0, corpusText), (3L, t0, short))
      q.processAllAvailable()
      // batch 2: clean2 again (cross-batch stream dup), plus one doc per
      // failure mode — only clean1 may pass
      ms.addData((4L, t0, clean2), (5L, t0, clean1),
        (6L, t0, repetitive), (7L, t0, contaminated))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM curated")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L),
        s"curation gate kept $kept — expected the two clean docs only")
    } finally q.stop()
  }

  test("curateStream rejects a non-TIMESTAMP ts column up front") {
    // a STRING ts would only surface deep inside withWatermark analysis;
    // the gate's require names the column and the actual type instead
    import spark.implicits._
    val docs = Seq(("2024-01-01 10:00:00", "twelve tokens of text " * 3))
      .toDF("ts", "text")
    val e = intercept[IllegalArgumentException] {
      Stateful.curateStream(docs, Seq("x").toDF("text"), Seq("a b c"))
    }
    assert(e.getMessage.contains("TIMESTAMP") && e.getMessage.contains("STRING"),
      s"unhelpful message: ${e.getMessage}")
  }

  test("streaming curation gate: randomized parity with the batch rules") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(31337)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    def doc(): String = {
      val n = rnd.nextInt(20) + 4 // 4..23 tokens: some fail the >=12 gate
      val rep = rnd.nextBoolean() // some docs highly repetitive
      val words = if (rep) Seq.fill(n)(vocab(rnd.nextInt(3)))
        else Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      words.mkString(" ")
    }
    val texts = Seq.fill(60)(doc()) ++ Seq.fill(10)(doc()).flatMap(t => Seq(t, t))
    val corpusTexts = texts.take(8)
    val evalShingles = Seq("alpha beta gamma", "beta gamma delta")
    val arrivals = rnd.shuffle(texts).zipWithIndex
      .map { case (t, i) => (i.toLong, ts("2024-01-01 10:00:00"), t) }
    // batch reference: first stream occurrence of each text not in the
    // corpus, passing the same integer quality/repetition/decon rules
    def shingles(t: String): Seq[String] =
      t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq.distinct
    def passes(t: String): Boolean = {
      val toks = t.split(" ").toSeq
      val sh = t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val nd = sh.distinct.size
      toks.size >= 12 && 5 * (sh.size - nd) < 2 * sh.size &&
        shingles(t).count(evalShingles.contains) < 2
    }
    val expected = arrivals
      .groupBy(_._3).map { case (_, as) => as.minBy(_._1) }.toSeq // first per text
      .filterNot(a => corpusTexts.contains(a._3))
      .filter(a => passes(a._3))
      .map(_._1).toSet
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val gated = Stateful.curateStream(
      ms.toDF().toDF("doc_id", "ts", "text"), corpusTexts.toDF("text"),
      evalShingles, contaminationThreshold = 2)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("curated_rnd").start()
    try {
      // NOTE: within one micro-batch dropDuplicatesWithinWatermark keeps an
      // arbitrary member of a duplicate group, so replay batches in arrival
      // order with duplicates split across batches — the FIRST arrival is
      // then the survivor deterministically
      arrivals.grouped(25).foreach { b => ms.addData(b); q.processAllAvailable() }
      val kept = spark.sql("SELECT doc_id FROM curated_rnd")
        .collect().map(_.getLong(0)).toSet
      val keptTexts = arrivals.filter(a => kept(a._1)).map(_._3).toSet
      val expTexts = arrivals.filter(a => expected(a._1)).map(_._3).toSet
      assert(keptTexts == expTexts,
        s"curation parity broke: extra=${keptTexts -- expTexts} missing=${expTexts -- keptTexts}")
    } finally q.stop()
  }

  test("streaming funnel state survives a query kill + checkpoint restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(u: Long, t: Long, e: Int) = Stateful.FunnelEv(u, t, e.toByte)
    val ck = java.nio.file.Files.createTempDirectory("funnel_ck").toString
    val acc = scala.collection.concurrent.TrieMap
      .empty[Long, (Option[Long], Option[Long], Option[Long])]
    val ms = MemoryStream[(Long, Long, Byte)]
    def startQuery() = Stateful.funnelStream(
        ms.toDS().map { case (u, t, e) => Stateful.FunnelEv(u, t, e) })
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[Stateful.FunnelRow], _: Long) =>
          b.collect().foreach(r => acc(r.userId) = (r.vTsUs, r.cTsUs, r.pTsUs))
      }
      .start()
    // batch 1: establish partial state (view only), then KILL the query
    val q1 = startQuery()
    try {
      ms.addData(Seq(ev(1, 100, 0), ev(2, 10, 0)).map(e => (e.userId, e.tsUs, e.etype)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(acc(1L) == ((Some(100L), None, None)))
    // restart from the SAME checkpoint: the recovered state must still hold
    // user 1's view anchor, so the click+purchase complete the chain —
    // a lost state store would yield (None/None) for the c/p stages
    val q2 = startQuery()
    try {
      ms.addData(Seq(ev(1, 150, 1), ev(1, 200, 2), ev(2, 20, 1))
        .map(e => (e.userId, e.tsUs, e.etype)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(acc(1L) == ((Some(100L), Some(150L), Some(200L))))
    assert(acc(2L) == ((Some(10L), Some(20L), None)))
  }

  test("streaming funnel (watermarked) drops events later than the delay") {
    def ev(u: Long, t: Long, e: Int) = Stateful.FunnelEv(u, t, e.toByte)
    val M = 60000000L // one minute in µs
    val got = runFunnel(Seq(
      // batch 1: u1 converts fully; u99's far-future view advances the
      // watermark to ~998 min
      Seq(ev(1, 10 * M, 0), ev(1, 20 * M, 1), ev(1, 30 * M, 2), ev(99, 1000 * M, 0)),
      // batch 2: ALL of u1's arrivals are now later than the 2-min delay —
      // the earlier view@5 + click@6 would rewrite the frozen chain to
      // (5, 6, 30) if the late-row contract were broken
      Seq(ev(1, 5 * M, 0), ev(1, 6 * M, 1), ev(1, 31 * M, 2))),
      watermarkDelay = Some("2 minutes"))
    assert(got == Map(
      1L -> ((Some(10 * M), Some(20 * M), Some(30 * M))),
      99L -> ((Some(1000 * M), None, None))))
  }

  test("streaming funnel (watermarked) prunes idle users' state via timers") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(u: Long, t: Long, e: Int) = (u, t, e.toByte)
    val M = 60000000L
    val ms = MemoryStream[(Long, Long, Byte)]
    val q = Stateful.funnelStream(
        ms.toDS().map { case (u, t, e) => Stateful.FunnelEv(u, t, e) },
        watermarkDelay = Some("1 minute"))
      .writeStream.outputMode("update")
      .foreachBatch {
        // the batch must be fully consumed or the state stores never commit
        (b: org.apache.spark.sql.Dataset[Stateful.FunnelRow], _: Long) => b.count(); ()
      }
      .start()
    try {
      // user 1: clicks only (no view); user 2: full chain — both churn now
      ms.addData(Seq(ev(1, 1 * M, 1), ev(1, 2 * M, 1),
        ev(2, 1 * M, 0), ev(2, 2 * M, 1), ev(2, 3 * M, 2)))
      q.processAllAvailable()
      // far-future activity from OTHER users advances the watermark; the
      // idle users' timers must fire and collapse/remove their state
      ms.addData(Seq(ev(99, 1000 * M, 0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(99, 1001 * M, 0)))
      q.processAllAvailable()
      val rows = q.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
        .headOption.map(_.numRowsTotal)
      // user 1 (clicks below the watermark, no anchor) is REMOVED;
      // user 2 (frozen chain) and user 99 remain -> 2 state rows
      assert(rows.contains(2L),
        s"expected 2 state rows after idle pruning, got $rows")
    } finally q.stop()
  }

  test("streaming funnel randomized parity (RocksDB state store)") {
    // FunnelStV1 round-trips through the production state backend too
    obs.Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { c =>
      runRandomizedFunnel(c)
    }
  }
}
