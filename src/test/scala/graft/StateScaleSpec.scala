package graft

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Stateful

/** Adversarial STATE-SCALE pins for the custom stateful streaming
  * operators: thousands of keys plus one hot key, asserting the state
  * store tracks the WATERMARK-WINDOW bound, never the stream length. A
  * stateful operator whose state grows with history is the classic
  * streaming OOM at 100 TB — these specs make the bound a regression
  * test, not a scaladoc claim.
  */
class StateScaleSpec extends AnyFunSuite {
  import TestSpark._

  private val M = 60000000L // one minute in µs

  private def ts(us: Long) = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  test("as-of join: 2000 keys + hot key — one state row per key, retention-bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val nKeys = 2000
    val hotRights = 3000

    val ms = MemoryStream[Stateful.AsOfEv]
    val out = scala.collection.mutable.ArrayBuffer.empty[Stateful.AsOfOut]
    val q = Stateful.asOfJoinStream(ms.toDS(), delay = "1 minute",
        retentionMs = 60000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Stateful.AsOfOut], _: Long) =>
        out.synchronized { out ++= b.collect() }; ()
      }
      .start()
    def lastStateRows: Long = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
      .headOption.map(_.numRowsTotal).getOrElse(-1L)
    try {
      // trigger 1: every key gets one reference row; the hot key gets 3000
      // (all inside the watermark window — nothing prunable yet)
      val coldRights = (1 to nKeys).map(k =>
        Stateful.AsOfEv(s"k$k", ts(1 * M), 0, 0L, k.toDouble))
      val hot = (1 to hotRights).map(i =>
        Stateful.AsOfEv("hot", ts(1 * M + i * 100L), 0, i.toLong, i.toDouble))
      ms.addData(coldRights ++ hot)
      q.processAllAvailable()
      // ONE state row per distinct key regardless of the hot key's 3000
      // buffered rights (the buffer is inside the row, bounded by the
      // window; rows = keys is the store-level invariant)
      assert(lastStateRows == nKeys + 1,
        s"state rows after trigger 1 = $lastStateRows, want ${nKeys + 1}")

      // trigger 2: one probe per key + 50 hot probes, then a far-future
      // pusher advances the watermark past everything -> all probes flush
      val probes = (1 to nKeys).map(k =>
        Stateful.AsOfEv(s"k$k", ts(2 * M), 1, (10000 + k).toLong, 0.0))
      val hotProbes = (1 to 50).map(j =>
        Stateful.AsOfEv("hot", ts(1 * M + j * 5000L + 50L), 1, (50000 + j).toLong, 0.0))
      ms.addData(probes ++ hotProbes)
      q.processAllAvailable()
      ms.addData(Seq(Stateful.AsOfEv("pusher", ts(1000 * M), 0, 0L, 0.0)))
      q.processAllAvailable()
      val flushed = out.synchronized(out.toVector)
      assert(flushed.count(_.key.startsWith("k")) == nKeys)
      assert(flushed.count(_.key == "hot") == 50)
      // hot-key correctness under the merged buffers: each probe at
      // 1min + j·5000 + 50 µs matches the latest right ≤ it, i.e. the
      // right at 1min + (j·50)·100 (id j·50)
      flushed.filter(_.key == "hot").foreach { o =>
        val j = (o.id - 50000).toInt
        assert(o.mTsUs.contains(1 * M + (j * 50).toLong * 100L),
          s"hot probe $j matched ${o.mTsUs}")
      }
      // cold keys: each probe matches its key's single right
      flushed.filter(_.key.startsWith("k")).foreach { o =>
        assert(o.mTsUs.contains(1 * M) && o.mV.contains(o.key.drop(1).toDouble))
      }

      // trigger 3: watermark far past every key's retention window — the
      // timers expire idle keys; state collapses to ~the pusher key, NOT
      // the 2001-key (let alone 5000-event) history
      ms.addData(Seq(Stateful.AsOfEv("pusher", ts(2000 * M), 0, 1L, 0.0)))
      q.processAllAvailable()
      ms.addData(Seq(Stateful.AsOfEv("pusher", ts(3000 * M), 0, 2L, 0.0)))
      q.processAllAvailable()
      assert(lastStateRows <= 2,
        s"state rows after retention expiry = $lastStateRows, want <= 2")
    } finally q.stop()
  }

  test("funnel (watermarked): 2000 users — state holds frozen chains + active only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val nUsers = 2000
    val ms = MemoryStream[(Long, Long, Byte)]
    val q = Stateful.funnelStream(
        ms.toDS().map { case (u, t, e) => Stateful.FunnelEv(u, t, e) },
        watermarkDelay = Some("1 minute"))
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[Stateful.FunnelRow], _: Long) => b.count(); ()
      }
      .start()
    def lastStateRows: Long = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
      .headOption.map(_.numRowsTotal).getOrElse(-1L)
    try {
      // even users convert fully (their chains freeze to three longs and
      // are retained by design); odd users only click (no anchor — their
      // state must be REMOVED once the watermark passes)
      val evs = (1 to nUsers).flatMap { u =>
        if (u % 2 == 0)
          Seq((u.toLong, 1 * M, 0.toByte), (u.toLong, 2 * M, 1.toByte),
            (u.toLong, 3 * M, 2.toByte))
        else
          Seq((u.toLong, 1 * M, 1.toByte), (u.toLong, 2 * M, 1.toByte))
      }
      ms.addData(evs)
      q.processAllAvailable()
      // watermark pushes: idle users' timers fire, the cascade collapses
      ms.addData(Seq((999999L, 1000 * M, 0.toByte)))
      q.processAllAvailable()
      ms.addData(Seq((999999L, 1001 * M, 0.toByte)))
      q.processAllAvailable()
      val rows = lastStateRows
      // retained: nUsers/2 frozen chains + the pusher user
      assert(rows == nUsers / 2 + 1,
        s"state rows after idle pruning = $rows, want ${nUsers / 2 + 1}")
    } finally q.stop()
  }

  test("clamped fold: 2000 keys + hot key — buffers drain on watermark, rows = keys") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val nKeys = 2000
    val hotMoves = 3000
    val ms = MemoryStream[Stateful.BalEv]
    val q = Stateful.clampedFoldStream(ms.toDS(), delay = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("cfbound").start()
    def lastStateRows: Long = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
      .headOption.map(_.numRowsTotal).getOrElse(-1L)
    try {
      // one movement per key; the hot key gets 3000 — all inside the window
      val cold = (1 to nKeys).map(k =>
        Stateful.BalEv(s"k$k", ts(1 * M), k.toLong, k.toLong))
      val hot = (1 to hotMoves).map(i =>
        Stateful.BalEv("hot", ts(1 * M + i * 100L), 100000L + i, 1L))
      ms.addData(cold ++ hot)
      q.processAllAvailable()
      // store-level invariant: ONE row per key, the hot buffer lives
      // INSIDE its row (bounded by the watermark window, not stream length)
      assert(lastStateRows == nKeys + 1,
        s"state rows after trigger 1 = $lastStateRows, want ${nKeys + 1}")
      // watermark pusher: every buffer folds and drains; rows stay = keys
      // (the folded balance is deliberate O(1) resident state per key)
      ms.addData(Stateful.BalEv("zz", ts(100 * M), -1L, 0L))
      q.processAllAvailable()
      assert(lastStateRows == nKeys + 2,
        s"state rows after drain = $lastStateRows, want ${nKeys + 2}")
      val emitted = spark.sql("SELECT COUNT(*) FROM cfbound").collect()(0).getLong(0)
      assert(emitted == nKeys + hotMoves,
        s"emitted $emitted, want ${nKeys + hotMoves} (every pre-pusher movement once)")
    } finally q.stop()
  }

  test("retract min/max index: 2000 keys + hot value churn — index rows == live distinct values") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.streaming.VersionedView
    val nKeys = 2000
    val churn = 300
    val (st, idx) = (TestSpark.tmpDir("ssc-mstate"), TestSpark.tmpDir("ssc-midx"))
    val sink = VersionedView.retractMinMaxSink(st, idx, Seq("k"), Seq("ord"),
      "op", groupCol = col("k") % 10, valueMicro = col("v"))
    def idxRows: Long = VersionedView.read(spark, idx).get.count()
    def liveDistinct: Long = VersionedView.readState(spark, st, "op", "D").get
      .select((col("k") % 10).as("g"), col("v")).distinct().count()

    // batch 0: every key gets a DISTINCT value (v = k) — 2000 live values
    sink((1 to nKeys).map(k => (k.toLong, 0L, k.toLong * 1000L, "U"))
      .toDF("k", "ord", "v", "op"), 0L)
    assert(idxRows == nKeys && liveDistinct == nKeys)

    // batches 1..3: the HOT key churns through `churn` ever-new values per
    // batch. Without publish-time compaction each churned-away value would
    // leave a dcnt=0 tombstone and the index would grow with HISTORY
    // cardinality (nKeys + 3*churn rows) — the unbounded-state leak this
    // spec exists to catch. The invariant: index rows track LIVE distinct
    // (g, v) values, never how many values ever existed.
    var ord = 1L
    for (b <- 1 to 3) {
      sink((1 to churn).map { i =>
        val r = (1L, ord, 10000000L + b * 100000L + i, "U"); ord += 1; r
      }.toDF("k", "ord", "v", "op"), b.toLong)
      val (ir, ld) = (idxRows, liveDistinct)
      assert(ir == ld, s"after churn batch $b: index rows $ir != live distinct $ld")
      assert(ir == nKeys, s"after churn batch $b: index rows $ir, want $nKeys")
    }

    // delete half the keys: the index must SHRINK with the live set
    sink((2 to nKeys by 2).map(k => (k.toLong, ord + k, 0L, "D"))
      .toDF("k", "ord", "v", "op"), 4L)
    val (ir, ld) = (idxRows, liveDistinct)
    assert(ir == ld && ir == nKeys / 2,
      s"after deletes: index rows $ir, live distinct $ld, want ${nKeys / 2}")
    // and the folded view still answers from the compacted index
    val mm = VersionedView.readMinMax(spark, idx).get
      .agg(org.apache.spark.sql.functions.sum(col("n_live"))).collect()(0).getLong(0)
    assert(mm == nKeys / 2, s"n_live sum $mm, want ${nKeys / 2}")
  }

  test("retract min/max index: per-batch WORK is live-index-sized, flat in history") {
    // The row-count law above pins what the index HOLDS; this pins what a
    // batch COSTS — the q244/q245/q248 family's runtime budget, same
    // instrument as IncrementalCC/LshIndex. Per batch the sink merges
    // deltas into the live-value index and the key state: both live-sized,
    // so a tiny batch must shuffle the same volume whether 1 or 6 churn
    // batches of HISTORY preceded it. The failure mode: losing the
    // publish-time dcnt=0 compaction leaves a tombstone per churned-away
    // value, the index grows with history cardinality (+500 rows per churn
    // batch here), and the per-batch merge shuffle grows with it — far
    // past the additive slack.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.VersionedView
    val nKeys = 1500
    val churn = 500
    val (st, idx) = (TestSpark.tmpDir("ssf-mstate"), TestSpark.tmpDir("ssf-midx"))
    val sink = VersionedView.retractMinMaxSink(st, idx, Seq("k"), Seq("ord"),
      "op", groupCol = col("k") % 10, valueMicro = col("v"))
    sink((1 to nKeys).map(k => (k.toLong, 0L, k.toLong * 1000L, "U"))
      .toDF("k", "ord", "v", "op"), 0L)
    var ord = 1L
    def churnBatch(b: Long): Unit = {
      sink((1 to churn).map { i =>
        val r = (1L, ord, 50000000L + b * 100000L + i, "U"); ord += 1; r
      }.toDF("k", "ord", "v", "op"), b)
    }
    def tinyBatch(b: Long): Long = TestSpark.shuffleRecordsDuring {
      sink(Seq((2L, 900000L + b, 42L, "U")).toDF("k", "ord", "v", "op"), b)
    }
    churnBatch(1L)
    val early = tinyBatch(2L)
    for (b <- 3L to 7L) churnBatch(b)
    val late = tinyBatch(8L)
    info(s"tiny-batch shuffle records: history@2 -> $early, history@8 -> $late")
    assert(early > 0 && late > 0)
    assert(late <= early + 1000,
      s"per-batch work grew with history: $early -> $late — index tombstone leak?")
  }

  test("stateful pipeline is provider-agnostic: RocksDB state store == batch oracle") {
    // The 100 TB streaming config (DEPLOY.md): once per-executor state
    // outgrows memory, the RocksDB provider replaces the default in-memory
    // store — a deploy-time knob that must not change RESULTS. This pins
    // cross-batch dedup + windowed agg byte-equality under RocksDB, and
    // exercises the orderly provider shutdown (GraftSqlBridge
    // .stopStateStores) that keeps the native library from SIGSEGV-ing at
    // JVM exit.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    try obs.Sessions.withConf(spark,
        key -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { c =>
      implicit val ctx = c.sqlContext
      val ms = MemoryStream[(Long, Long, Double)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = ms.toDS().toDF("event_id", "min", "value")
        .dropDuplicates("event_id")
        .groupBy(col("min")).agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .writeStream.outputMode("complete")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized {
            out.clear()
            out ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          }; ()
        }
        .start()
      try {
        // duplicates land in DIFFERENT batches — cross-batch RocksDB state
        val evs = (1 to 400).map(i => (i.toLong, (i % 5).toLong, i.toDouble))
        ms.addData(evs.take(250))
        q.processAllAvailable()
        ms.addData(evs.drop(150)) // 100 replays + 150 new
        q.processAllAvailable()
        val want = evs.groupBy(_._2).map { case (m, xs) =>
          (m, xs.size.toLong, xs.map(_._3).sum)
        }.toSet
        assert(out.synchronized(out.toSet) == want)
      } finally q.stop()
    } finally {
      // orderly native close on the shared session; later suites reload
      // providers on demand
      org.apache.spark.sql.GraftSqlBridge.stopStateStores()
    }
  }

  test("custom stateful operators: RocksDB provider output == in-memory") {
    // Extends the provider-parity pin to the CUSTOM fMGWS/mapGroupsWithState
    // operators (the maintained-state family behind q93/q94/q207): the
    // RocksDB provider is the pinned 100 TB streaming config (BASELINE.md
    // round-8 finding 4), so each operator's multi-batch output must be
    // byte-identical under it — buffer merge order, timer expiry, and
    // state-encoder round-trips all cross the provider boundary.
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val inMemory =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    def withProvider[T](p: String)(body: SQLContext => T): T =
      try obs.Sessions.withConf(spark, provKey -> p)(c => body(c.sqlContext))
      finally org.apache.spark.sql.GraftSqlBridge.stopStateStores()

    def runAsOf(implicit ctx: SQLContext): Vector[String] = {
      val ms = MemoryStream[Stateful.AsOfEv]
      val out = scala.collection.mutable.ArrayBuffer.empty[Stateful.AsOfOut]
      val q = Stateful.asOfJoinStream(ms.toDS(), delay = "1 minute",
          retentionMs = 60000L)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Stateful.AsOfOut], _: Long) =>
          out.synchronized { out ++= b.collect() }; ()
        }.start()
      try {
        ms.addData((1 to 50).map(k =>
          Stateful.AsOfEv(s"k${k % 7}", ts(1 * M + k * 1000L), 0, k.toLong, k * 1.5)))
        q.processAllAvailable()
        ms.addData((1 to 30).map(k =>
          Stateful.AsOfEv(s"k${k % 7}", ts(2 * M + k * 500L), 1, 1000L + k, 0.0)))
        q.processAllAvailable()
        ms.addData(Seq(Stateful.AsOfEv("push", ts(100 * M), 0, 0L, 0.0)))
        q.processAllAvailable()
        ms.addData(Seq(Stateful.AsOfEv("push", ts(200 * M), 0, 1L, 0.0)))
        q.processAllAvailable()
      } finally q.stop()
      out.synchronized(out.map(_.toString).sorted.toVector)
    }

    def runBal(implicit ctx: SQLContext): Vector[String] = {
      val ms = MemoryStream[Stateful.BalEv]
      val out = scala.collection.mutable.ArrayBuffer.empty[Stateful.BalOut]
      val q = Stateful.clampedFoldStream(ms.toDS(), delay = "1 minute")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Stateful.BalOut], _: Long) =>
          out.synchronized { out ++= b.collect() }; ()
        }.start()
      try {
        ms.addData((1 to 60).map(i =>
          Stateful.BalEv(s"b${i % 5}", ts(1 * M + i * 700L), i.toLong,
            (if (i % 3 == 0) -2L else 1L) * i)))
        q.processAllAvailable()
        ms.addData((1 to 20).map(i =>
          Stateful.BalEv(s"b${i % 5}", ts(2 * M + i * 300L), 100L + i, -i.toLong)))
        q.processAllAvailable()
        ms.addData(Seq(Stateful.BalEv("push", ts(100 * M), 999L, 0L)))
        q.processAllAvailable()
      } finally q.stop()
      out.synchronized(out.map(_.toString).sorted.toVector)
    }

    def runFunnel(implicit ctx: SQLContext): Vector[String] = {
      val ms = MemoryStream[(Long, Long, Byte)]
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = Stateful.funnelStream(
          ms.toDS().map { case (u, t, e) => Stateful.FunnelEv(u, t, e) },
          watermarkDelay = Some("1 minute"))
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Stateful.FunnelRow], bid: Long) =>
          out.synchronized { out ++= b.collect().map(r => s"$bid:$r") }; ()
        }.start()
      try {
        ms.addData((1 to 40).flatMap(u => Seq(
          (u.toLong, 1 * M + u * 100L, 0.toByte),
          (u.toLong, 2 * M + u * 100L, 1.toByte))))
        q.processAllAvailable()
        ms.addData((1 to 40).filter(_ % 2 == 0).map(u =>
          (u.toLong, 3 * M + u * 100L, 2.toByte)))
        q.processAllAvailable()
        ms.addData(Seq((999999L, 100 * M, 0.toByte)))
        q.processAllAvailable()
      } finally q.stop()
      out.synchronized(out.sorted.toVector)
    }

    for ((nm, run) <- Seq[(String, SQLContext => Vector[String])](
        ("asof", runAsOf(_)), ("clamped_fold", runBal(_)), ("funnel", runFunnel(_)))) {
      val mem = withProvider(inMemory)(run)
      val rdb = withProvider(rocks)(run)
      assert(mem.nonEmpty, s"$nm produced no output under the in-memory provider")
      assert(mem == rdb,
        s"$nm diverged under RocksDB: ${mem.size} in-memory rows vs ${rdb.size}")
    }
  }
}
