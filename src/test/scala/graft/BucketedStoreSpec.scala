package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BucketedStore
import graft.streaming.BucketedStore.StoreSpec

/** Pins the streaming index-store abstraction every accumulated-state
  * operator rides on (LSH signature store + sidecar, IVF maintained index,
  * static benchmark indexes): idempotent per-batch partition rewrites,
  * restart-surviving registration, legacy-layout migration, and
  * bucket-preserving compaction with crash recovery on both sides of the
  * commit point.
  */
class BucketedStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def mk(from: Long, until: Long): org.apache.spark.sql.DataFrame = mk(spark, from, until)

  private def mk(s: org.apache.spark.sql.SparkSession, from: Long, until: Long) = {
    s.range(from, until).select(
      col("id").as("k"),
      (col("id") % 7).as("grp"),
      concat(lit("v"), col("id")).as("payload"))
  }

  private def spec(dir: String) = StoreSpec(dir, Seq("grp"), 4)

  private def rows(s: StoreSpec): Set[(Long, Long, String)] =
    BucketedStore.read(spark, s).get
      .select("k", "grp", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("appendBatch is a per-batch partition rewrite: replay converges, no dups") {
    val s = spec(tmpDir("bs-append"))
    BucketedStore.appendBatch(mk(0, 50), s, 0L)
    BucketedStore.appendBatch(mk(50, 80), s, 1L)
    val want = rows(s)
    assert(want.size == 80)
    // at-least-once replay of batch 1 — and a replay that arrives with the
    // SAME content must leave the store byte-identical, not doubled
    BucketedStore.appendBatch(mk(50, 80), s, 1L)
    assert(rows(s) == want)
    // a half-written batch (crash mid-write, fewer rows) is REPLACED whole
    // by the replay, not merged with
    BucketedStore.appendBatch(mk(80, 85), s, 2L)
    BucketedStore.appendBatch(mk(80, 100), s, 2L) // the "real" full batch
    assert(rows(s).size == 100)
  }

  test("registration survives a catalog loss (driver restart) with zero store-side exchange") {
    val s = spec(tmpDir("bs-restart"))
    BucketedStore.appendBatch(mk(0, 200), s, 0L)
    def joinExchanges(): Int = obs.Sessions.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
      val j = mk(c, 500, 505).select(col("grp"), col("k").as("pk"))
        .join(BucketedStore.read(c, s).get.drop("_batch"), Seq("grp"))
      j.collect()
      "Exchange".r.findAllIn(j.queryExecution.executedPlan.toString).length
    }
    val healthy = joinExchanges()
    // simulate a NEW session: the in-memory catalog forgets the table, the
    // dir persists (DROP on an external table leaves the files)
    spark.sql(s"DROP TABLE ${BucketedStore.tableName(s.dir)}")
    assert(joinExchanges() == healthy,
      "re-registered store lost the exchange-free bucketed plan")
    // and appends keep working against the re-registered entry
    BucketedStore.appendBatch(mk(200, 210), s, 1L)
    assert(rows(s).size == 210)
  }

  test("a previous-generation top-level bucketed layout is migrated in place") {
    val dir = tmpDir("bs-migrate")
    val s = spec(dir)
    // the round-9 layout: bucketed files at the dir top level, no _batch
    val tbl = "bs_mig_legacy"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    mk(0, 60).write.mode("overwrite").format("parquet")
      .bucketBy(4, "grp").option("path", dir).saveAsTable(tbl)
    spark.sql(s"DROP TABLE $tbl") // catalog gone, files stay
    assert(rows(s).size == 60) // migrated + registered on open
    BucketedStore.appendBatch(mk(60, 70), s, 0L)
    assert(rows(s).size == 70)
  }

  test("plain un-bucketed parquet is NOT claimed (caller's legacy fallback)") {
    val dir = tmpDir("bs-foreign")
    mk(0, 10).write.mode("overwrite").parquet(dir)
    assert(BucketedStore.read(spark, spec(dir)).isEmpty)
  }

  test("compact: one consolidated partition, content identical, bounded files") {
    val s = spec(tmpDir("bs-compact"))
    for (b <- 0L until 6L) BucketedStore.appendBatch(mk(b * 20, b * 20 + 20), s, b)
    val before = rows(s)
    val filesBefore = BucketedStore.parquetFiles(spark, s.dir).size
    assert(filesBefore > s.buckets, s"append history should exceed $filesBefore files")
    BucketedStore.compact(spark, s)
    assert(rows(s) == before, "compaction changed store content")
    val filesAfter = BucketedStore.parquetFiles(spark, s.dir).size
    assert(filesAfter <= s.buckets,
      s"compaction left $filesAfter files (want <= ${s.buckets})")
    // appends continue after compaction; a second compaction also works
    BucketedStore.appendBatch(mk(500, 510), s, 99L)
    assert(rows(s).size == before.size + 10)
    BucketedStore.compact(spark, s)
    assert(rows(s).size == before.size + 10)
    assert(BucketedStore.parquetFiles(spark, s.dir).size <= s.buckets)
  }

  test("bucket width is the DIR's, not the opener's: a mismatched spec cannot corrupt joins") {
    val dir = tmpDir("bs-width")
    BucketedStore.appendBatch(mk(0, 100), StoreSpec(dir, Seq("grp"), 4), 0L)
    // a restart opens the same store with the WRONG width (a config drift,
    // a refactor changing a default): registration must adopt the dir's
    // stamped width — a table registered INTO 8 BUCKETS over 4-bucket
    // files would assign every row to the "wrong" bucket from the
    // reader's view and bucketed joins would silently LOSE matches
    spark.sql(s"DROP TABLE ${BucketedStore.tableName(dir)}")
    val wrong = StoreSpec(dir, Seq("grp"), 8)
    val probe = mk(0, 100).select(col("grp"), col("k").as("pk"))
    val joined = probe.join(
      BucketedStore.read(spark, wrong).get.drop("_batch"), Seq("grp"))
    assert(joined.count() == mk(0, 100).groupBy("grp").count()
      .agg(sum(col("count") * col("count"))).collect()(0).getLong(0),
      "width-mismatched registration lost join matches")
    // appends through the wrong spec keep the true width too
    BucketedStore.appendBatch(mk(100, 110), wrong, 1L)
    assert(rows(StoreSpec(dir, Seq("grp"), 4)).size == 110)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(BucketedStore.tableName(dir)))
    assert(meta.bucketSpec.exists(_.numBuckets == 4), "dir width not authoritative")
  }

  test("crash before the commit marker rolls BACK: the compaction never happened") {
    val s = spec(tmpDir("bs-crash-intent"))
    BucketedStore.appendBatch(mk(0, 40), s, 0L)
    val want = rows(s)
    // simulate: intent marker + a fully-materialized (but uncommitted)
    // consolidated partition — the state one instant before the commit
    // marker would have been written
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(new org.apache.hadoop.fs.Path(s.dir, "_compact_intent"), true)
    os.write("-1".getBytes("UTF-8")); os.close()
    // orphan consolidated copy: duplicate of batch 0's data
    val src = new org.apache.hadoop.fs.Path(s.dir, "_batch=0")
    val dst = new org.apache.hadoop.fs.Path(s.dir, "_batch=-1")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS ${BucketedStore.tableName(s.dir)}")
    // a READ views through the intent marker (orphan excluded, never read
    // as duplicates) WITHOUT mutating — a reader in another process must
    // not destroy an in-flight compaction
    assert(rows(s) == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_intent")),
      "read must not mutate recovery state")
    // the next WRITER operation rolls the orphan back physically
    BucketedStore.appendBatch(mk(40, 45), s, 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_intent")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_batch=-1")))
    assert(rows(s).size == 45)
  }

  test("crash after the commit marker rolls FORWARD: source partitions finish dying") {
    val s = spec(tmpDir("bs-crash-commit"))
    BucketedStore.appendBatch(mk(0, 40), s, 0L)
    val want = rows(s)
    // simulate: consolidated partition present + commit marker written +
    // source partitions NOT yet deleted — the state one instant after the
    // linearization point
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s.dir, "_batch=0")
    val dst = new org.apache.hadoop.fs.Path(s.dir, "_batch=-1")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    Seq("_compact_intent", "_compact_commit").foreach { m =>
      val os = fs.create(new org.apache.hadoop.fs.Path(s.dir, m), true)
      os.write("-1".getBytes("UTF-8")); os.close()
    }
    spark.sql(s"DROP TABLE IF EXISTS ${BucketedStore.tableName(s.dir)}")
    // a READ views through the commit marker: the consolidated copy is
    // authoritative, the stale source is invisible — and nothing mutates
    assert(rows(s) == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_commit")),
      "read must not mutate recovery state")
    // the next WRITER operation rolls forward: source partitions die
    BucketedStore.appendBatch(mk(40, 45), s, 1L)
    assert(!fs.exists(src))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_commit")))
    assert(rows(s).size == 45)
  }

  test("commit-pending view survives a STALE registration (foreign-process compaction)") {
    val s = spec(tmpDir("bs-stale-reg"))
    BucketedStore.appendBatch(mk(0, 40), s, 0L)
    // register the table in THIS session first — the long-lived reader
    val want = rows(s)
    // now a FOREIGN process compacts: consolidated partition appears +
    // commit marker lands, but this session's catalog entry predates both
    // (its partitions were added at registration, so it knows nothing of
    // _batch=-1). The commit view must resync, not prune to zero.
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s.dir, "_batch=0")
    val dst = new org.apache.hadoop.fs.Path(s.dir, "_batch=-1")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    Seq("_compact_intent", "_compact_commit").foreach { m =>
      val os = fs.create(new org.apache.hadoop.fs.Path(s.dir, m), true)
      os.write("-1".getBytes("UTF-8")); os.close()
    }
    // NOTE: no DROP TABLE here — the registration is deliberately stale
    assert(rows(s) == want,
      "stale-catalog commit view read an empty (or duplicated) store")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_commit")),
      "read must not mutate recovery state")
    BucketedStore.appendBatch(mk(40, 45), s, 1L) // writer rolls forward
    assert(rows(s).size == 45)
  }

  test("replay ACROSS a compaction: frontier no-op + snapshots that survive the fold") {
    val s = spec(tmpDir("bs-frontier"))
    for (b <- 0L until 4L)
      BucketedStore.appendBatch(mk(b * 10, b * 10 + 10), s, b)
    val want = rows(s)
    // strictly-earlier snapshot BEFORE the fold (baseline)
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(ks(BucketedStore.strictlyBefore(BucketedStore.read(spark, s).get, 2L))
      == (0L until 20L).toSet)
    BucketedStore.compact(spark, s)
    assert(BucketedStore.compactionFrontier(spark, s.dir).contains(3L))
    // the SAME reads after the fold: `_src_batch` keeps per-row batch
    // ids addressable though the partition structure is gone — this is what
    // lets an order-dependent reader (the dup-span history) replay exactly
    val st = BucketedStore.read(spark, s).get
    assert(ks(BucketedStore.strictlyBefore(st, 2L)) == (0L until 20L).toSet,
      "strictly-earlier snapshot did not survive compaction")
    assert(ks(st.filter(BucketedStore.srcBatchCol(st) =!= 2L))
      == ((0L until 20L) ++ (30L until 40L)).toSet,
      "by-batch-id read did not survive compaction")
    // replay of a FOLDED batch (old checkpoint restored after
    // maintenance compaction): a partition rewrite would put a second copy
    // next to the consolidation — the frontier makes it a no-op
    BucketedStore.appendBatch(mk(10, 20), s, 1L)
    assert(rows(s) == want, "cross-compaction replay duplicated store rows")
    // batches ABOVE the frontier still append normally
    BucketedStore.appendBatch(mk(40, 45), s, 4L)
    assert(rows(s).size == 45)
    // and a second compaction folds the new batch too, frontier advancing
    BucketedStore.compact(spark, s)
    assert(BucketedStore.compactionFrontier(spark, s.dir).contains(4L))
    BucketedStore.appendBatch(mk(40, 45), s, 4L) // replay of the newly folded batch
    assert(rows(s).size == 45)
  }

  test("BOUNDED compaction (upTo) never fossilizes a crash-partial later batch") {
    val s = spec(tmpDir("bs-bounded"))
    for (b <- 0L until 3L)
      BucketedStore.appendBatch(mk(b * 10, b * 10 + 10), s, b)
    // a CRASH-PARTIAL future partition: a pre-restore run wrote batch 5
    // halfway (3 of 10 rows) before dying, then an OLD checkpoint was
    // restored — the partial partition's id is above the replay position
    BucketedStore.appendBatch(mk(50, 53), s, 5L)
    // mid-replay maintenance after committing batch 2: bounded to the
    // just-committed id, so partition 5 is neither folded nor
    // frontier-covered (an unbounded fold here would swallow the partial
    // rows and no-op the batch's eventual replay — permanent data loss)
    BucketedStore.compact(spark, s, upTo = 2L)
    assert(BucketedStore.compactionFrontier(spark, s.dir).contains(2L),
      "bounded fold advanced the frontier over an unfolded later batch")
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_batch=5")),
      "the later partition must survive the bounded fold intact")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s.dir, "_compact_upto")),
      "the fold bound must not outlive the compaction")
    // the batch's eventual replay still REWRITES its partition whole —
    // partial rows replaced, missing rows recovered
    BucketedStore.appendBatch(mk(50, 60), s, 5L)
    assert(rows(s).map(_._1) == ((0L until 30L) ++ (50L until 60L)).toSet,
      "replay after the bounded fold did not restore the full batch")
    // the next maintenance window (bounded at the replayed id) folds it
    BucketedStore.compact(spark, s, upTo = 5L)
    assert(BucketedStore.compactionFrontier(spark, s.dir).contains(5L))
    assert(rows(s).size == 40)
  }

  test("commit-pending view of a BOUNDED fold keeps unfolded later partitions visible") {
    val s = spec(tmpDir("bs-bounded-view"))
    for (b <- 0L until 3L)
      BucketedStore.appendBatch(mk(b * 10, b * 10 + 10), s, b)
    // simulate the crash window one instant after a BOUNDED (upTo=1)
    // fold's commit marker: a stand-in consolidation partition, commit +
    // upTo markers present, sources not yet deleted, batch 2 unfolded
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s.dir, "_batch=0"), fs,
      new org.apache.hadoop.fs.Path(s.dir, "_batch=-1"), false,
      spark.sparkContext.hadoopConfiguration)
    Seq("_compact_intent" -> "-1", "_compact_commit" -> "-1",
        "_compact_upto" -> "1").foreach { case (m, v) =>
      val os = fs.create(new org.apache.hadoop.fs.Path(s.dir, m), true)
      os.write(v.getBytes("UTF-8")); os.close()
    }
    spark.sql(s"DROP TABLE IF EXISTS ${BucketedStore.tableName(s.dir)}")
    // the view = consolidation + partitions ABOVE the bound; folded
    // sources (0, 1) are invisible. The pre-round-13 `=== c` view would
    // hide batch 2's live rows here.
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(ks(BucketedStore.readFiles(spark, s.dir))
      == ((0L until 10L) ++ (20L until 30L)).toSet,
      "path-based commit-pending view lost the unfolded later partition")
    assert(ks(BucketedStore.read(spark, s).get)
      == ((0L until 10L) ++ (20L until 30L)).toSet,
      "catalog commit-pending view lost the unfolded later partition")
  }

  test("readFiles (path-based) applies the pending-compaction marker view") {
    val s = spec(tmpDir("bs-readfiles"))
    BucketedStore.appendBatch(mk(0, 40), s, 0L)
    val want = BucketedStore.readFiles(spark, s.dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(want == (0L until 40L).toSet)
    val fs = new org.apache.hadoop.fs.Path(s.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s.dir, "_batch=0")
    val dst = new org.apache.hadoop.fs.Path(s.dir, "_batch=-1")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    def count() = BucketedStore.readFiles(spark, s.dir).count()
    // intent-only: the orphan consolidated copy is invisible
    val intent = fs.create(new org.apache.hadoop.fs.Path(s.dir, "_compact_intent"), true)
    intent.write("-1".getBytes("UTF-8")); intent.close()
    assert(count() == 40L, "intent-pending raw read double-counted")
    // commit-pending: only the consolidated copy is real
    val commit = fs.create(new org.apache.hadoop.fs.Path(s.dir, "_compact_commit"), true)
    commit.write("-1".getBytes("UTF-8")); commit.close()
    assert(count() == 40L, "commit-pending raw read double-counted")
    // a raw read WITHOUT the view sees both copies — the bug the view closes
    assert(spark.read.parquet(s.dir).count() == 80L)
  }

  test("concurrent appends to sibling stores never touch the session conf (r14)") {
    // r13 carried a documented race: appendBatch set/restored the
    // SESSION-GLOBAL partitionOverwriteMode around its insertInto, so two
    // overlapped appends could flip/restore each other's conf mid-analysis.
    // r14 moved the dynamic overwrite into a conf-frozen CHILD session;
    // this pins it: many concurrent appends, the PARENT conf untouched
    // throughout, every store correct — including replays racing a
    // same-table snapshot read (strictlyBefore's partition-prune
    // conjunct).
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(confKey)
    val specs = (0 until 3).map(i => spec(tmpDir(s"bs-conc-$i")))
    specs.foreach(s => BucketedStore.appendBatch(mk(0, 40), s, 0L))
    val observedDynamic = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watcher = new Thread(() => {
      while (!stop.get) {
        if (spark.conf.getOption(confKey).exists(_.equalsIgnoreCase("dynamic")))
          observedDynamic.set(true)
        Thread.sleep(1)
      }
    })
    watcher.start()
    try {
      (1 to 3).foreach { b =>
        // each round: 3 sibling stores append batch b concurrently, plus a
        // REPLAY of batch b-1 racing a strictly-before snapshot read of the
        // same store (the overlapped-sink shape DupSpanIndex/LshIndex use)
        graft.streaming.Concurrently(spark)(
          specs.map(s => () =>
            BucketedStore.appendBatch(mk(b * 40L, b * 40L + 40), s, b.toLong)) :+
          (() => BucketedStore.appendBatch(
            mk((b - 1) * 40L, (b - 1) * 40L + 40), specs.head, (b - 1).toLong)) :+
          (() => {
            val st = BucketedStore.read(spark, specs.head).get
            val n = BucketedStore.strictlyBefore(st, (b - 1).toLong).count()
            assert(n == (b - 1).toLong * 40,
              s"snapshot read raced the replay rewrite: $n")
          }))
      }
    } finally { stop.set(true); watcher.join() }
    assert(!observedDynamic.get, "a concurrent append flipped the session conf")
    assert(spark.conf.getOption(confKey) == before)
    specs.foreach(s => assert(rows(s).size == 160, s"store ${s.dir} lost rows"))
  }

  test("a failed concurrent write stops its siblings before the error surfaces") {
    // foreachBatch retries a batch as soon as the sink throws; a sibling
    // write of that batch still in flight would then race its own retry
    val siblingRunning = new java.util.concurrent.atomic.AtomicBoolean(false)
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      graft.streaming.Concurrently(spark)(Seq(
        () => { siblingStarted.await(); throw new IllegalStateException("write failed") },
        () => {
          siblingRunning.set(true)
          siblingStarted.countDown()
          try Thread.sleep(60000) finally siblingRunning.set(false)
        }))
    }
    assert(err.getMessage == "write failed")
    assert(!siblingRunning.get, "a sibling write was still running when the helper threw")
  }

  test("a session nobody uses any more is not kept alive by its append child") {
    // each append runs in a clone of its caller's session; nothing may keep
    // the caller (or the clone) reachable once the append has returned
    def appendFromThrowawaySession(): java.lang.ref.WeakReference[AnyRef] = {
      val parent = spark.newSession()
      // AQE's stage threads inherit the session that was active when they
      // were spawned and keep it for their pool's 60 s keep-alive; without
      // AQE the parent's own jobs run on this thread alone
      parent.conf.set("spark.sql.adaptive.enabled", "false")
      val s = spec(tmpDir("bs-weak"))
      def batch(from: Long) = parent.range(from, from + 20).select(
        col("id").as("k"), (col("id") % 7).as("grp"), concat(lit("v"), col("id")).as("payload"))
      BucketedStore.appendBatch(batch(0), s, 0L) // creates the table
      BucketedStore.appendBatch(batch(20), s, 1L) // runs in a clone
      assert(BucketedStore.read(parent, s).get.count() == 40)
      new java.lang.ref.WeakReference[AnyRef](parent)
    }
    val ref = appendFromThrowawaySession()
    val deadline = System.currentTimeMillis() + 30000
    while (ref.get != null && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "an unused parent session is still reachable")
  }

  test("appends after overwrite resolve the rebuilt table, not the child's cached relation") {
    // the session an insert runs in keeps its own relation cache. A
    // successful insert refreshes it on the way out, but a FAILED one (a
    // sibling write cancelled mid-batch) leaves the analyzed relation
    // cached; once `overwrite` drops and re-creates the table with a new
    // column, an insert session that outlived the failure would resolve the
    // next insertInto against the dropped table's schema
    val s = spec(tmpDir("bs-stale"))
    BucketedStore.appendBatch(mk(0, 20), s, 0L)
    BucketedStore.appendBatch(mk(20, 40), s, 1L)
    intercept[Exception] {
      BucketedStore.appendBatch(
        mk(40, 60).withColumn("payload", expr("if(k >= 0, raise_error('boom'), payload)")), s, 2L)
    }
    def wide(from: Long, until: Long) = mk(from, until).withColumn("extra", col("k") * 2)
    BucketedStore.overwrite(wide(0, 40), s)
    BucketedStore.appendBatch(wide(40, 60), s, 2L)
    val got = BucketedStore.read(spark, s).get
    assert(got.columns.contains("extra"))
    assert(got.count() == 60)
    assert(got.filter(col("extra") =!= col("k") * 2).count() == 0)
    // and the same after a compaction re-registers it
    BucketedStore.compact(spark, s)
    BucketedStore.appendBatch(wide(60, 80), s, 3L)
    assert(rows(s).size == 80)
  }
}
