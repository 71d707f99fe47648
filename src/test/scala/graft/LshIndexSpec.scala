package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LshIndex

/** Pins the streaming LSH near-dup index (q236's operator): incremental
  * batch-by-batch emission equals the one-shot batch pair set, and a
  * replayed batch (foreachBatch at-least-once) changes nothing.
  */
class LshIndexSpec extends AnyFunSuite {
  import TestSpark._

  // near-dup trio (a/b high-overlap, c disjoint), plus an exact dup pair
  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content with no shared shingles at all"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "yet another unrelated document about spark partitioning tricks"))
      .toDF("doc_id", "text")
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSet

  test("incremental emission over batches equals the one-shot batch pairs") {
    val all = docs
    val oneShot = pairSet(LshIndex.pairsBetween(
      LshIndex.banded(LshIndex.signatures(all)),
      LshIndex.banded(LshIndex.signatures(all))))
    assert(oneShot.exists(p => p._1 == 1L && p._2 == 4L), "exact dup pair expected")

    val (store, pairs) = (tmp("lsh-store"), tmp("lsh-pairs"))
    // three arrival orders' worth of batches: {1,3}, {2,5}, {4}
    LshIndex.processBatch(all.filter(col("doc_id").isin(1L, 3L)), store, pairs, 0L)
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 5L)), store, pairs, 1L)
    LshIndex.processBatch(all.filter(col("doc_id") === 4L), store, pairs, 2L)
    val streamed = pairSet(graft.streaming.Loader.readTable(spark, pairs))
    assert(streamed == oneShot)
    // each pair emitted exactly once (no cross-batch duplicates)
    val n = graft.streaming.Loader.readTable(spark, pairs).count()
    assert(n == oneShot.size.toLong)
  }

  test("replayed batch is idempotent: same pairs, no duplicate signatures") {
    val all = docs
    val (store, pairs) = (tmp("lsh-store2"), tmp("lsh-pairs2"))
    LshIndex.processBatch(all.filter(col("doc_id").isin(1L, 3L)), store, pairs, 0L)
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 4L, 5L)), store, pairs, 1L)
    val before = pairSet(graft.streaming.Loader.readTable(spark, pairs))
    val sigsBefore = spark.read.parquet(store).count()
    // at-least-once replay of batch 1: every write rewrites the batch's own
    // partition from the strictly-earlier snapshot, so it lands the same rows
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 4L, 5L)), store, pairs, 1L)
    assert(pairSet(graft.streaming.Loader.readTable(spark, pairs)) == before)
    assert(spark.read.parquet(store).count() == sigsBefore)
    assert(spark.read.parquet(store).select("doc_id").distinct().count() == 5L)
  }

  test("an unfolded replay with a later batch stored re-emits no pair (strictly-earlier snapshot)") {
    val all = docs
    val (store, pairs) = (tmp("lsh-later-store"), tmp("lsh-later-pairs"))
    // doc 1 lands in batch 1, its exact twin 4 in batch 2: batch 2
    // completes the pair (batch×store), batch 1 emits nothing
    val b1 = all.filter(col("doc_id") === 1L)
    LshIndex.processBatch(all.filter(col("doc_id").isin(3L, 5L)), store, pairs, 0L)
    LshIndex.processBatch(b1, store, pairs, 1L)
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 4L)), store, pairs, 2L)
    val before = pairSet(graft.streaming.Loader.readTable(spark, pairs))
    assert(before.exists(p => p._1 == 1L && p._2 == 4L), "twin pair expected")
    // old checkpoint restored with no fold in between: batch 1 replays
    // while batch 2's signatures are stored. Its probe must see batch 0
    // only, as the first run did, or it re-emits 1×4 into `_batch=1`
    LshIndex.processBatch(b1, store, pairs, 1L)
    assert(pairSet(graft.streaming.Loader.readTable(spark, pairs)) == before)
    val held = spark.read.parquet(pairs).groupBy("id_a", "id_b")
      .agg(countDistinct(col("_batch")).as("n")).filter(col("n") > 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(held.isEmpty, s"pairs held by two `_batch=` partitions: ${held.mkString(", ")}")
  }

  test("per-batch work stays flat as the store grows (bucketed store, no re-shuffle)") {
    import spark.implicits._
    // distinct long-ish texts so every doc signs and bands; id-salted words
    // keep cross-doc shingle overlap (and thus pair volume) negligible
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-grow-store"), tmp("lsh-grow-pairs"))
    // seed the store large, then measure two identical tiny batches with
    // the store 2x apart in size. The store side of the probe join is
    // bucketed on the join keys, so it contributes ZERO shuffle records —
    // per-batch volume is the batch's own signing/banding/self-join. The
    // pre-bucketing layout re-banded and re-shuffled the WHOLE store per
    // batch: rSmall/rBig would differ by ~storeDelta x BANDS records and
    // both would carry the corpus-sized store term.
    LshIndex.processBatch(mkDocs(0L, 600L), store, pairs, 0L)
    val rSmall = shuffleRecordsDuring {
      LshIndex.processBatch(mkDocs(10000L, 10005L), store, pairs, 1L)
    }
    LshIndex.processBatch(mkDocs(600L, 1200L), store, pairs, 2L)
    val rBig = shuffleRecordsDuring {
      LshIndex.processBatch(mkDocs(20000L, 20005L), store, pairs, 3L)
    }
    info(s"tiny-batch shuffle records: store@600 -> $rSmall, store@1200 -> $rBig")
    // flat growth law: the doubled store must not add ~600x4=2400 records
    // (the old re-shuffle term); allow slack for AQE/stat jitter
    assert(rSmall > 0 && rBig > 0, s"expected work on both batches ($rSmall, $rBig)")
    assert(rBig <= rSmall + 400,
      s"per-batch shuffle grew with the store: $rSmall -> $rBig — store-side re-shuffle is back?")
  }

  test("crash between the store write and the sidecar write: replay converges") {
    import graft.streaming.BucketedStore
    val all = docs
    val (store, pairs) = (tmp("lsh-crash-store"), tmp("lsh-crash-pairs"))
    LshIndex.processBatch(all.filter(col("doc_id").isin(1L, 3L)), store, pairs, 0L)
    // simulate batch 1 crashing AFTER the pair write and the banded-store
    // append but BEFORE the id-sidecar append — the exact window ADVICE
    // flagged on the round-9 bare-append layout (a replay there re-appended
    // the batch's banded rows: duplicate store rows, insert-only broken)
    val b1 = all.filter(col("doc_id").isin(2L, 4L, 5L))
    val bban1 = LshIndex.banded(LshIndex.signatures(b1.select("doc_id", "text")))
    // the full pair write processBatch performs (batch×batch ∪ batch×store)
    // — pairs commit FIRST, so this crash point has them complete
    val storeBan0 = LshIndex.banded(LshIndex.signatures(
      all.filter(col("doc_id").isin(1L, 3L)).select("doc_id", "text")))
    graft.streaming.Loader.writeBatchIdempotent(
      LshIndex.pairsBetween(bban1, bban1)
        .unionByName(LshIndex.pairsBetween(bban1, storeBan0))
        .dropDuplicates("id_a", "id_b"), pairs, 1L)
    BucketedStore.appendBatch(
      bban1.select("doc_id", "sig", "band_idx", "band"),
      BucketedStore.StoreSpec(store, Seq("band_idx", "band"), LshIndex.defaultBuckets(spark)), 1L)
    // at-least-once replay of the whole batch
    LshIndex.processBatch(b1, store, pairs, 1L)
    // store: one row per (doc, band), never doubled; sidecar complete
    val st = spark.read.parquet(store)
    assert(st.count() == st.select("doc_id", "band_idx").distinct().count(),
      "duplicate banded rows after replay over a partial commit")
    assert(st.select("doc_id").distinct().count() == 5L)
    assert(spark.read.parquet(store.stripSuffix("/") + "_ids")
      .select("doc_id").distinct().count() == 5L)
    // and the pair feed equals the one-shot batch answer
    val oneShot = pairSet(LshIndex.pairsBetween(
      LshIndex.banded(LshIndex.signatures(all)),
      LshIndex.banded(LshIndex.signatures(all))))
    assert(pairSet(graft.streaming.Loader.readTable(spark, pairs)) == oneShot)
  }

  test("bucketed layout survives a driver restart: re-registered, still flat") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-restart-store"), tmp("lsh-restart-pairs"))
    LshIndex.processBatch(mkDocs(0L, 600L), store, pairs, 0L)
    val rReg = shuffleRecordsDuring {
      LshIndex.processBatch(mkDocs(10000L, 10005L), store, pairs, 1L)
    }
    // a NEW session's in-memory catalog has no table entries; DROP on the
    // external tables (files stay) simulates exactly that state
    spark.sql(s"DROP TABLE ${LshIndex.storeTable(store)}")
    spark.sql(s"DROP TABLE ${LshIndex.storeTable(store.stripSuffix("/") + "_ids")}")
    val rNew = shuffleRecordsDuring {
      LshIndex.processBatch(mkDocs(20000L, 20005L), store, pairs, 2L)
    }
    info(s"tiny-batch shuffle records: registered -> $rReg, after restart -> $rNew")
    // the round-9 fallback read the store as PLAIN parquet after a restart:
    // correct, but the probe join re-shuffled all ~600x4 store rows — the
    // flat law silently died across restarts. Re-registration keeps it.
    assert(rNew <= rReg + 400,
      s"restart lost the bucketed layout: $rReg -> $rNew shuffle records")
  }

  test("a pre-banded legacy store dir (doc_id, sig) is re-banded on the fly") {
    // the first-generation layout: ONE row per doc, no band columns, plain
    // parquet — a fallback that returned it un-banded would silently emit
    // zero pairs (the probe join needs band_idx/band)
    val all = docs
    val store = tmp("lsh-legacy-store")
    LshIndex.signatures(all.filter(col("doc_id").isin(1L, 3L)).select("doc_id", "text"))
      .write.mode("overwrite").parquet(store)
    val pairs = tmp("lsh-legacy-pairs")
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 4L, 5L)), store, pairs, 0L)
    val got = pairSet(graft.streaming.Loader.readTable(spark, pairs))
    val oneShot = pairSet(LshIndex.pairsBetween(
      LshIndex.banded(LshIndex.signatures(all)),
      LshIndex.banded(LshIndex.signatures(all))))
    assert(got == oneShot, "legacy store probe diverged from the batch answer")
  }

  test("compaction bounds files-per-probe; append history grows them without it") {
    import spark.implicits._
    import graft.streaming.BucketedStore
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-compact-store"), tmp("lsh-compact-pairs"))
    for (b <- 0L until 5L)
      LshIndex.processBatch(mkDocs(b * 40, b * 40 + 40), store, pairs, b)
    // shuffle is flat (the pinned growth law) but FILE COUNT grows with
    // history — every probe opens all of them, the read-side growth term
    val idsDir = store.stripSuffix("/") + "_ids"
    val before = BucketedStore.parquetFiles(spark, store).size +
      BucketedStore.parquetFiles(spark, idsDir).size
    assert(before > 2 * LshIndex.defaultBuckets(spark),
      s"append history should have accumulated files, got $before")
    val contentBefore = spark.read.parquet(store)
      .select("doc_id", "band_idx", "band").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    LshIndex.tables(store, pairs).compact(spark)
    val after = BucketedStore.parquetFiles(spark, store).size +
      BucketedStore.parquetFiles(spark, idsDir).size
    info(s"files per probe: $before -> $after (buckets=${LshIndex.defaultBuckets(spark)})")
    assert(after <= 2 * LshIndex.defaultBuckets(spark),
      s"compaction left $after files (want <= ${2 * LshIndex.defaultBuckets(spark)})")
    assert(spark.read.parquet(store)
      .select("doc_id", "band_idx", "band").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet == contentBefore)
    // the store keeps working: a post-compaction batch probes and appends
    LshIndex.processBatch(mkDocs(1000L, 1005L), store, pairs, 5L)
    assert(spark.read.parquet(idsDir).select("doc_id").distinct().count() == 205L)
  }

  test("compactEvery policy: files stay bounded for the stream's life; replay across a compaction converges") {
    import spark.implicits._
    import graft.streaming.BucketedStore
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-ce-store"), tmp("lsh-ce-pairs"))
    val sink = LshIndex.tables(store, pairs).sink(2)(LshIndex.nearDupSink(store, pairs))
    for (b <- 0L until 6L) sink(mkDocs(b * 30, b * 30 + 30), b)
    val idsDir = store.stripSuffix("/") + "_ids"
    val files = BucketedStore.parquetFiles(spark, store).size +
      BucketedStore.parquetFiles(spark, idsDir).size
    // after the batch-5 compaction: one consolidated partition per table
    // plus nothing newer — never the 6-batch append pile
    info(s"files after 6 batches with compactEvery=2: $files")
    assert(files <= 2 * LshIndex.defaultBuckets(spark),
      s"auto-compaction left $files files (want <= ${2 * LshIndex.defaultBuckets(spark)})")
    assert(spark.read.parquet(idsDir).select("doc_id").distinct().count() == 180L)
    // an at-least-once replay of the LAST batch lands AFTER its rows were
    // folded into the consolidated partition: the pre-batch snapshot
    // anti-join must empty the rewrite (rows live in the consolidation),
    // never duplicate or drop them
    sink(mkDocs(150L, 180L), 5L)
    val st = spark.read.parquet(store)
    assert(st.select("doc_id").distinct().count() == 180L)
    assert(st.count() == st.select("doc_id", "band_idx").distinct().count(),
      "replay across a compaction duplicated banded rows")
  }

  test("an EARLIER batch replays after compaction: store and pair feed both converge") {
    import spark.implicits._
    import graft.streaming.BucketedStore
    // consecutive ids share text (exact twins), so every batch EMITS pairs —
    // the feed side of the convergence claim needs a non-empty feed
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"),
            ((col("id") - pmod(col("id"), lit(2L))) * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-cross-store"), tmp("lsh-cross-pairs"))
    for (b <- 0L until 3L)
      LshIndex.processBatch(mkDocs(b * 30, b * 30 + 30), store, pairs, b)
    val pairsBefore = spark.read.parquet(pairs)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    LshIndex.tables(store, pairs).compact(spark)
    // old checkpoint restored: batch 1 replays after the fold. The pair
    // feed must skip at the frontier (a rewrite would re-emit batch 1's
    // pairs next to the folded copy); the store and sidecar appends must
    // no-op the same way.
    LshIndex.processBatch(mkDocs(30, 60), store, pairs, 1L)
    assert(spark.read.parquet(pairs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairsBefore,
      "cross-compaction replay changed the emitted pairs")
    val st = spark.read.parquet(store)
    assert(st.select("doc_id").distinct().count() == 90L)
    assert(st.count() == st.select("doc_id", "band_idx").distinct().count(),
      "cross-compaction replay duplicated banded store rows")
    // ingest continues above the frontier
    LshIndex.processBatch(mkDocs(90, 120), store, pairs, 3L)
    assert(spark.read.parquet(store).select("doc_id").distinct().count() == 120L)
  }

  test("store width is a parameter (bucket-width law): stamped at creation, authoritative after") {
    import spark.implicits._
    import graft.streaming.BucketedStore
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, pairs) = (tmp("lsh-width-store"), tmp("lsh-width-pairs"))
    // build at an explicit non-default width — the knob a 2x-larger cluster
    // turns; before this round the flagship store could only ever be 8
    LshIndex.processBatch(mkDocs(0L, 200L), store, pairs, 0L, 0.5, buckets = 16)
    def stamped(dir: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_store_buckets")), "UTF-8").trim
    assert(stamped(store) == "16", "creation width must be stamped on the dir")
    assert(stamped(store.stripSuffix("/") + "_ids") == "16")
    // a batch arriving from a DIFFERENT session geometry (the default width)
    // must follow the stamped width, not silently re-bucket
    LshIndex.processBatch(mkDocs(200L, 220L), store, pairs, 1L)
    assert(stamped(store) == "16")
    // compaction preserves the stamped width: one consolidated file per bucket
    LshIndex.tables(store, pairs).compact(spark)
    val files = BucketedStore.parquetFiles(spark, store).size
    assert(files == 16, s"compacted store should hold one file per stamped bucket, got $files")

    // and the ANSWER is width-independent: the dup-bearing fixture split
    // across a 16-bucket store equals the one-shot batch pairs
    val all = docs
    val (store2, pairs2) = (tmp("lsh-width-store2"), tmp("lsh-width-pairs2"))
    LshIndex.processBatch(all.filter(col("doc_id").isin(1L, 3L)), store2, pairs2,
      0L, 0.5, buckets = 16)
    LshIndex.processBatch(all.filter(col("doc_id").isin(2L, 4L, 5L)), store2, pairs2, 1L)
    val oneShot = pairSet(LshIndex.pairsBetween(
      LshIndex.banded(LshIndex.signatures(all)),
      LshIndex.banded(LshIndex.signatures(all))))
    assert(pairSet(graft.streaming.Loader.readTable(spark, pairs2)) == oneShot)
  }

  test("benchmark-revision backfill: history re-probed, replay idempotent") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "totally unrelated content about bucketed spark tables here"))
      .toDF("doc_id", "text")
    val bench1 = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bench2 = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (201L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val (store, pairs, idx, hits) =
      (tmp("lsh-bf-store"), tmp("lsh-bf-pairs"), tmp("lsh-bf-idx"), tmp("lsh-bf-hits"))
    // history ingests FIRST (builds the signature store)...
    LshIndex.processBatch(corpus.filter(col("doc_id") <= 2L), store, pairs, 0L)
    LshIndex.processBatch(corpus.filter(col("doc_id") === 3L), store, pairs, 1L)
    def hitSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "bench_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ...revision 1 backfills: only doc 1 has a benchmark twin
    val r1 = hitSet(LshIndex.backfillDecontaminate(spark, store, bench1, idx, hits, 1L))
    assert(r1 == Set(1L -> 101L))
    // revision 2 adds bench 201 AFTER doc 2 was ingested: the backfill must
    // flag the PRE-EXISTING doc — the case ingest-time decontamination
    // alone can never catch
    val r2 = hitSet(LshIndex.backfillDecontaminate(spark, store, bench2, idx, hits, 2L))
    assert(r2 == Set(1L -> 101L, 2L -> 201L))
    // at-least-once replay of revision 2 rewrites its partition with the
    // same hits and returns the same authoritative set
    val r2b = hitSet(LshIndex.backfillDecontaminate(spark, store, bench2, idx, hits, 2L))
    assert(r2b == r2)
    // each revision partition stays a complete, separately-queryable answer
    assert(hitSet(spark.read.parquet(hits).filter(col("_batch") === 1L)) == r1)
  }

  test("backfill work is flat in corpus-store size (both probe sides bucketed)") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val bench = mkDocs(100000L, 100040L)
    def backfillRecords(corpusDocs: Long): Long = {
      val (store, pairs, idx, hits) = (tmp("lsh-bfw-store"), tmp("lsh-bfw-pairs"),
        tmp("lsh-bfw-idx"), tmp("lsh-bfw-hits"))
      LshIndex.processBatch(mkDocs(0L, corpusDocs), store, pairs, 0L)
      shuffleRecordsDuring {
        LshIndex.backfillDecontaminate(spark, store, bench, idx, hits, 0L).count()
      }
    }
    val (small, big) = (backfillRecords(500L), backfillRecords(1500L))
    info(s"backfill shuffle records: corpus@500 -> $small, corpus@1500 -> $big")
    // the re-probe joins two tables bucketed on the SAME keys: a 3x corpus
    // must not push its ~4000 extra banded rows through any exchange — the
    // backfill's shuffle is the benchmark signing + the hit set, period
    assert(big <= small + 400,
      s"backfill work grew with the corpus store: $small -> $big — corpus re-shuffle?")
  }

  test("decontaminate probe work is flat in benchmark-index size") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    def probeRecords(indexDocs: Long): Long = {
      val (idx, hits) = (tmp("lsh-dc-idx"), tmp("lsh-dc-hits"))
      LshIndex.buildStaticIndex(mkDocs(0L, indexDocs), idx)
      shuffleRecordsDuring {
        LshIndex.decontaminateSink(idx, hits)(mkDocs(50000L, 50005L), 0L)
      }
    }
    val (small, big) = (probeRecords(500L), probeRecords(1500L))
    info(s"probe shuffle records: index@500 -> $small, index@1500 -> $big")
    // the index side of the probe join is bucketed on the join keys: a
    // 3x index must not add its banded rows (1000x4=4000) to the batch's
    // shuffle; the sink is stateless so the only records are the batch's
    // own signing/banding
    assert(small >= 0 && big >= 0)
    assert(big <= small + 400,
      s"probe work grew with the index: $small -> $big — index-side re-shuffle?")
  }
}
