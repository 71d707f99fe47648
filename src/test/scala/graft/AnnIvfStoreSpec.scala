package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIvf
import graft.streaming.BucketedStore

/** Pins the dir-based IVF index store — the layout that closes the last
  * accumulated-state growth term the round-9 audit named (appendToIndex's
  * per-batch O(index) vec_id anti-join): batch-partitioned main table +
  * id sidecar, each write a per-batch partition rewrite, re-arrival
  * anti-join exchange-free on the store side.
  */
class AnnIvfStoreSpec extends AnyFunSuite {
  import TestSpark._

  // deterministic unit-ish vectors in 4-d: direction keyed by id so cluster
  // assignment is stable, magnitude irrelevant to cosine
  private def vecs(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("vec_id"),
      array((0 until 4).map(d =>
        (pmod(col("id") * (d * 7 + 3), lit(11L)) + lit(d * 2 + 1)).cast("double")): _*)
        .as("e"))

  private val centroids: Array[Array[Double]] =
    Array(Array(1.0, 3.0, 5.0, 7.0), Array(9.0, 2.0, 4.0, 6.0),
      Array(2.0, 8.0, 1.0, 5.0), Array(6.0, 6.0, 6.0, 1.0))

  test("maintained store equals a one-shot rebuild; replay is a no-op") {
    val dir = tmpDir("ivfstore-parity") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 40), centroids, dir, buckets = 4)
    AnnIvf.appendToIndexStore(vecs(40, 70), centroids, dir, 0L, buckets = 4)
    AnnIvf.appendToIndexStore(vecs(70, 100), centroids, dir, 1L, buckets = 4)
    // at-least-once replay of the last batch
    AnnIvf.appendToIndexStore(vecs(70, 100), centroids, dir, 1L, buckets = 4)

    val full = tmpDir("ivfstore-full") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 100), centroids, full, buckets = 4)
    val probes = vecs(0, 3).select(col("vec_id").as("qid"), col("e").as("qe"))
    def res(d: String) = AnnIvf.topKIndexedStore(spark, d, probes, 3, centroids,
      nprobe = 2, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(dir) == res(full))
    assert(res(dir).nonEmpty)
    val st = spark.read.parquet(dir)
    assert(st.count() == 100L)
    assert(st.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
  }

  test("crash between the index write and the sidecar write: replay converges") {
    val dir = tmpDir("ivfstore-crash") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 40), centroids, dir, buckets = 4)
    // simulate: batch 0's MAIN write committed, sidecar write lost
    val assigned = vecs(40, 60)
    AnnIvf.appendToIndexStore(assigned, centroids, dir, 0L, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // surgically remove the sidecar's batch-0 partition via a fresh
    // overwrite of the sidecar WITHOUT batch 0 (same observable state as a
    // crash before the sidecar write committed)
    val idsDir = dir.stripSuffix("/") + "_ids"
    val pre = spark.read.parquet(idsDir).filter(col("_batch") =!= 0L)
      .select("vec_id").collect().map(_.getLong(0))
    assert(pre.length == 40)
    spark.sql(s"DROP TABLE IF EXISTS ${BucketedStore.tableName(idsDir)}")
    fs.delete(new org.apache.hadoop.fs.Path(idsDir), true)
    BucketedStore.overwrite(vecs(0, 40).select("vec_id"),
      BucketedStore.StoreSpec(idsDir, Seq("vec_id"), 4))
    // replay of batch 0 must restore the sidecar AND leave the main table
    // without duplicates (its own partition rewrites to identical content)
    AnnIvf.appendToIndexStore(assigned, centroids, dir, 0L, buckets = 4)
    val st = spark.read.parquet(dir)
    assert(st.count() == 60L)
    assert(st.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    assert(spark.read.parquet(idsDir).select("vec_id").distinct().count() == 60L)
  }

  test("per-batch work stays flat as the index doubles (the q236 growth law)") {
    val dir = tmpDir("ivfstore-flat") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 2000), centroids, dir, buckets = 4)
    val rSmall = shuffleRecordsDuring {
      AnnIvf.appendToIndexStore(vecs(10000, 10005), centroids, dir, 0L, buckets = 4)
    }
    AnnIvf.appendToIndexStore(vecs(2000, 4000), centroids, dir, 1L, buckets = 4)
    val rBig = shuffleRecordsDuring {
      AnnIvf.appendToIndexStore(vecs(20000, 20005), centroids, dir, 2L, buckets = 4)
    }
    info(s"tiny-batch shuffle records: index@2000 -> $rSmall, index@4005 -> $rBig")
    // the round-9 appendToIndex anti-joined against the MAIN table's id
    // column: a doubled index added ~2000 shuffled id rows per batch. The
    // sidecar side of the anti-join is bucketed on vec_id — zero exchange —
    // so a tiny batch's records cannot grow with the index.
    assert(rBig <= rSmall + 400,
      s"per-batch shuffle grew with the index: $rSmall -> $rBig — O(index) dedup term is back?")
  }

  test("search scans ONLY the probed lists: IN filter pushed, bytes-read skip, parallel splits") {
    val dir = tmpDir("ivfstore-prune") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 4000), centroids, dir, buckets = 4)
    // one probe, nprobe=1: exactly one inverted list is relevant. Before
    // round 11 the search read the WHOLE store (no cluster filter pushed)
    // — at 100 TB that is a full index scan per query batch.
    val probes = vecs(0, 1).select(col("vec_id").as("qid"), col("e").as("qe"))
    def search() = AnnIvf.topKIndexedStore(spark, dir, probes, 3, centroids,
      nprobe = 1, buckets = 4)
    val res = search()
    assert(res.collect().nonEmpty)
    // (a) the probed-id filter reaches the parquet scan
    val plan = res.queryExecution.executedPlan.toString
    // (OptimizeIn rewrites a single-element IN to EqualTo — accept both)
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cluster".r.findFirstIn(plan).isDefined,
      s"cluster IN (...) not pushed to the store scan:\n$plan")
    // (b) and it is a PLAIN-FILE scan, not a bucket-pruned one: bucket
    // pruning would schedule one task per probed bucket — the exact
    // serialization cliff the sf100 re-measure caught (multi-GB lists in
    // ≤k fat tasks); row-group pruning skips the same bytes WITH splits
    assert(!plan.contains("SelectedBucketsCount"),
      "search must not use the bucket-pruned scan (one task per fat bucket)")
    // (c) the skip MECHANISM is in the layout: the store is bucketed AND
    // SORTED BY cluster (round 11), so within every file the rows are in
    // cluster order and each row group's min/max on `cluster` is a tight
    // contiguous range — the pushed IN filter skips whole row groups of
    // non-probed lists. Pin the per-file sortedness (hash collisions can
    // co-locate lists in one file; sortedness keeps them in disjoint
    // row-group ranges regardless).
    val files = BucketedStore.parquetFiles(spark, dir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val seq = spark.read.parquet(f).select("cluster")
        .collect().map(_.getInt(0)).toSeq
      assert(seq == seq.sorted, s"store file not cluster-sorted: $f")
    }
    // answer parity under pruning: same rows as the brute-force search
    val brute = AnnIvf.topK(vecs(0, 4000), probes, 3, centroids, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == brute)
  }

  test("IVF-PQ codes sidecar: probed ADC search prunes like the raw search, incremental equals batch") {
    // 64-d vectors (the PQ default geometry m=8, dsub=8), directions keyed
    // by id so assignment and codes are stable
    def v64(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 64).map(d =>
          (pmod(col("id") * (d * 7 + 3), lit(11L)) + lit(d % 5 + 1)).cast("double")): _*)
          .as("e"))
    val cents = Array.tabulate(4)(i =>
      Array.tabulate(64)(d => if (d == i) 1.0 else 0.0))
    val batchDir = tmpDir("ivfpq-batch") + "/idx"
    AnnIvf.buildIndexStorePq(v64(0, 200), cents, batchDir, buckets = 4)
    val streamDir = tmpDir("ivfpq-stream") + "/idx"
    for (b <- 0L until 4L)
      AnnIvf.appendToIndexStorePq(
        v64(0, 200).filter(pmod(col("vec_id"), lit(4L)) === b),
        cents, streamDir, b, buckets = 4)
    // replay of a middle batch (store + ids + codes all rewrite) converges
    AnnIvf.appendToIndexStorePq(
      v64(0, 200).filter(pmod(col("vec_id"), lit(4L)) === 1L),
      cents, streamDir, 1L, buckets = 4)
    val probes = v64(0, 3).select(col("vec_id").as("qid"), col("e").as("qe"))
    def adcRes(d: String) = AnnIvf.topKIndexedStoreAdc(spark, d, probes, 3, cents,
      nprobe = 2, buckets = 4)
    assert(adcRes(batchDir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      == adcRes(streamDir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet,
      "incremental IVF-PQ build diverged from the one-shot build")
    // the codes sidecar has no duplicate vec_ids after the replay
    val codes = spark.read.parquet(batchDir.stripSuffix("/") + "_codes")
    assert(codes.count() == 200L)
    assert(spark.read.parquet(streamDir.stripSuffix("/") + "_codes")
      .groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    // prune law, same as the raw-vector search: pushed filter over a
    // PLAIN-FILE read — never the one-task-per-bucket catalog scan
    val res = adcRes(batchDir)
    assert(res.collect().nonEmpty)
    val plan = res.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cluster".r.findFirstIn(plan).isDefined,
      s"cluster IN (...) not pushed to the codes scan:\n$plan")
    assert(!plan.contains("SelectedBucketsCount"),
      "ADC search must not use the bucket-pruned scan")
    // the scan is the COMPRESSION leg: the codes read schema carries the
    // m-int code column, never the 64-double vector
    assert("ReadSchema:[^\\n]*c:array<int>".r.findFirstIn(plan).isDefined
      || plan.contains("c#"), s"codes scan did not read the code column:\n$plan")
    assert(!("ReadSchema:[^\\n]*e:array<double>".r.findFirstIn(plan).isDefined),
      s"ADC search read raw vectors from the codes scan:\n$plan")
    // and the RAW store next door still serves the exact probed search —
    // the composition keeps both legs (codes for the sweep, vectors for
    // exact re-rank) in one store family
    val raw = AnnIvf.topKIndexedStore(spark, batchDir, probes, 3, cents,
      nprobe = 2, buckets = 4)
    assert(raw.collect().nonEmpty)
  }

  test("ADC shortlist + exact re-rank: order is exact cosine within the ADC candidate set") {
    def v64(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 64).map(d =>
          (pmod(col("id") * (d * 7 + 3), lit(11L)) + lit(d % 5 + 1)).cast("double")): _*)
          .as("e"))
    val cents = Array.tabulate(4)(i =>
      Array.tabulate(64)(d => if (d == i) 1.0 else 0.0))
    val dir = tmpDir("ivfpq-rerank") + "/idx"
    AnnIvf.buildIndexStorePq(v64(0, 200), cents, dir, buckets = 4)
    val probes = v64(0, 3).select(col("vec_id").as("qid"), col("e").as("qe"))
    val got = AnnIvf.topKIndexedStoreAdcRerank(spark, dir, probes,
        k = 3, shortlist = 8, cents, nprobe = 2, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // reference: take the SAME ADC shortlist, re-rank it by exact cosine
    // computed independently here — the re-rank must be a pure reorder of
    // the shortlist, never reach outside it
    val short = AnnIvf.topKIndexedStoreAdc(spark, dir, probes, 8, cents,
        nprobe = 2, buckets = 4)
      .select(col("qid"), col("vec_id"))
    val ref = short
      .join(v64(0, 200), "vec_id")
      .join(probes, "qid")
      .withColumn("cos", graft.functions.VectorFunctions.cosine(col("e"), col("qe")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toList
    assert(got.toSet == ref.toSet,
      s"re-rank diverged from exact-cosine-over-shortlist:\n$got\nvs\n$ref")
    assert(got.nonEmpty)
    // the re-rank's raw-vector read keeps the probed-cluster prune
    val plan = AnnIvf.topKIndexedStoreAdcRerank(spark, dir, probes,
        3, 8, cents, nprobe = 2, buckets = 4)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cluster".r.findFirstIn(plan).isDefined,
      s"probed filter missing from the re-rank scan:\n$plan")
  }

  test("search during a pending compaction: the commit window never double-counts") {
    val dir = tmpDir("ivfstore-pending") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 200), centroids, dir, buckets = 4)
    val probes = vecs(0, 3).select(col("vec_id").as("qid"), col("e").as("qe"))
    def res() = AnnIvf.topKIndexedStore(spark, dir, probes, 3, centroids,
      nprobe = 2, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = res()
    // simulate the crash window the round-11 hardening claims to support:
    // a compaction's consolidated partition is renamed in and the commit
    // marker written, but the source partitions are not yet deleted — BOTH
    // copies of every row are on disk. A raw-parquet search here would
    // score every candidate twice (ties shift, counts double).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(dir, "_batch=-1")
    val dst = new org.apache.hadoop.fs.Path(dir, "_batch=-2")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    Seq("_compact_intent", "_compact_commit").foreach { m =>
      val os = fs.create(new org.apache.hadoop.fs.Path(dir, m), true)
      os.write("-2".getBytes("UTF-8")); os.close()
    }
    assert(res() == want, "pending-compaction search saw duplicated candidates")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_compact_commit")),
      "search must not mutate recovery state (it may run in a reader process)")
    // intent-only window (crash before commit): the orphan is invisible
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_compact_commit"), false)
    assert(res() == want, "intent-pending search saw the orphan partition")
  }

  test("compactEvery policy: streamed maintenance keeps files bounded, answers unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("ivfstore-ce") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 30), centroids, dir, buckets = 4)
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = ms.toDF().toDF("vec_id", "e").writeStream
      .option("checkpointLocation", tmpDir("ivfstore-ce-ck"))
      .foreachBatch(AnnIvf.tables(dir, buckets = 4).sink(1)(
        AnnIvf.appendToIndexStore(_, centroids, dir, _, buckets = 4)))
      .start()
    try {
      for (b <- 0 until 3) {
        ms.addData(vecs(30 + b * 20, 50 + b * 20).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() == 90L)
    assert(BucketedStore.parquetFiles(spark, dir).size <= 4,
      "per-batch compaction left an append pile")
    val probes = vecs(0, 3).select(col("vec_id").as("qid"), col("e").as("qe"))
    val full = tmpDir("ivfstore-ce-full") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 90), centroids, full, buckets = 4)
    def res(d: String) = AnnIvf.topKIndexedStore(spark, d, probes, 3, centroids,
      nprobe = 2, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(dir) == res(full))
  }

  test("streaming maintenance + restart-surviving registration") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("ivfstore-stream") + "/idx"
    AnnIvf.buildIndexStore(vecs(0, 30), centroids, dir, buckets = 4)
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = ms.toDF().toDF("vec_id", "e").writeStream
      .option("checkpointLocation", tmpDir("ivfstore-ck"))
      .foreachBatch(AnnIvf.tables(dir, buckets = 4).sink(0)(
        AnnIvf.appendToIndexStore(_, centroids, dir, _, buckets = 4)))
      .start()
    try {
      ms.addData(vecs(30, 60).collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
      q.processAllAvailable()
      ms.addData(vecs(60, 90).collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() == 90L)
    // driver restart: catalog forgets both tables; the next append and the
    // next search must re-register, not degrade
    spark.sql(s"DROP TABLE ${BucketedStore.tableName(dir)}")
    spark.sql(s"DROP TABLE ${BucketedStore.tableName(dir.stripSuffix("/") + "_ids")}")
    AnnIvf.appendToIndexStore(vecs(90, 95), centroids, dir, 99L, buckets = 4)
    val st = spark.read.parquet(dir)
    assert(st.select("vec_id").distinct().count() == 95L)
    assert(st.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    // compaction keeps content and bounds files
    val before = spark.read.parquet(dir).select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    AnnIvf.tables(dir, buckets = 4).compact(spark)
    assert(spark.read.parquet(dir).select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == before)
    assert(BucketedStore.parquetFiles(spark, dir).size <= 4)
  }
}
