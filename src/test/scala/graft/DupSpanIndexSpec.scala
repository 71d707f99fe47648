package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BucketedStore, DupSpanIndex}

/** Pins the streaming duplicated-span index (q264's operator): arrival-order
  * keep-first semantics (history + within-batch), replay idempotence, the
  * flat per-batch work law, and compaction preserving the answer.
  */
class DupSpanIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def spanSet(hits: String) =
    DupSpanIndex.spans(spark, hits, width = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("arrival order decides who gets flagged: history and within-batch") {
    val (store, hits) = (tmp("dsi-store"), tmp("dsi-hits"))
    // batch 0: doc 4 "p q r s t" (arrives FIRST) and the within-batch pair
    // doc 0 / doc 8 "a b c d" (doc 0 has the smaller okey -> stays clean)
    DupSpanIndex.ingestBatch(
      df(4L -> "p q r s t", 0L -> "a b c d", 8L -> "a b c d"),
      store, hits, 0L, width = 3)
    // batch 1: doc 1 repeats doc 4's text -> every gram is a history hit
    DupSpanIndex.ingestBatch(
      df(1L -> "p q r s t", 5L -> "totally novel words appear here"),
      store, hits, 1L, width = 3)
    assert(spanSet(hits) == Set(
      (8L, 1L, 4L, 4L), // within-batch later arrival, whole doc
      (1L, 1L, 5L, 5L))) // history hit, whole doc; docs 4/0/5 stay clean
  }

  test("an at-least-once replay of a batch changes nothing") {
    val (store, hits) = (tmp("dsi-replay-store"), tmp("dsi-replay-hits"))
    DupSpanIndex.ingestBatch(df(4L -> "p q r s t"), store, hits, 0L, width = 3)
    DupSpanIndex.ingestBatch(df(1L -> "p q r s t"), store, hits, 1L, width = 3)
    val before = spanSet(hits)
    // replay batch 1 (same contents — the foreachBatch at-least-once case):
    // both the hits partition and the gram-store partition are REWRITTEN,
    // so neither duplicate flags nor duplicate store rows can appear
    DupSpanIndex.ingestBatch(df(1L -> "p q r s t"), store, hits, 1L, width = 3)
    assert(spanSet(hits) == before)
    val storeRows = BucketedStore
      .read(spark, BucketedStore.StoreSpec(store, Seq("gh"))).get.count()
    assert(storeRows == 6L, s"3 grams per doc x 2 docs expected, got $storeRows")
  }

  test("an EARLIER batch replays after compaction: exact prefix snapshot, no duplicates") {
    val (store, hits) = (tmp("dsi-cross-store"), tmp("dsi-cross-hits"))
    DupSpanIndex.ingestBatch(df(4L -> "p q r s t"), store, hits, 0L, width = 3)
    DupSpanIndex.ingestBatch(df(1L -> "p q r s t"), store, hits, 1L, width = 3)
    DupSpanIndex.ingestBatch(df(9L -> "j k l m n"), store, hits, 2L, width = 3)
    val before = spanSet(hits)
    // maintenance compaction folds all three batches (store AND hits feed)
    BucketedStore.compact(spark, BucketedStore.StoreSpec(store, Seq("gh")))
    graft.streaming.Loader.compactBatches(spark, hits)
    // a crash restores an OLD checkpoint: batch 1 replays. The round-11
    // contract called this unsupported; now the strictly-earlier snapshot
    // reads `_src_batch` THROUGH the consolidation (sees batch 0 only,
    // never batch 2's grams) and both writes no-op at the compaction
    // frontier.
    DupSpanIndex.ingestBatch(df(1L -> "p q r s t"), store, hits, 1L, width = 3)
    assert(spanSet(hits) == before,
      "cross-compaction replay changed the flagged spans")
    val st = BucketedStore.read(spark, BucketedStore.StoreSpec(store, Seq("gh"))).get
    assert(st.count() == 9L,
      "cross-compaction replay duplicated gram-store rows")
    // and ingest continues normally above the frontier
    DupSpanIndex.ingestBatch(df(2L -> "p q r s t"), store, hits, 3L, width = 3)
    assert(spanSet(hits) == before + ((2L, 1L, 5L, 5L)))
  }

  test("per-batch work stays flat as the gram store grows") {
    import spark.implicits._
    // distinct texts: id-salted words keep cross-doc gram overlap at zero,
    // so flag volume never muddies the measurement
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, hits) = (tmp("dsi-grow-store"), tmp("dsi-grow-hits"))
    DupSpanIndex.ingestBatch(mkDocs(0L, 600L), store, hits, 0L)
    val rSmall = shuffleRecordsDuring {
      DupSpanIndex.ingestBatch(mkDocs(10000L, 10005L), store, hits, 1L)
    }
    DupSpanIndex.ingestBatch(mkDocs(600L, 1200L), store, hits, 2L)
    val rBig = shuffleRecordsDuring {
      DupSpanIndex.ingestBatch(mkDocs(20000L, 20005L), store, hits, 3L)
    }
    info(s"tiny-batch shuffle records: store@600 -> $rSmall, store@1200 -> $rBig")
    // the store side of the probe is bucketed on gh (distinct collapses
    // bucket-locally, join needs no store-side exchange); a regression to
    // re-shuffling the store would add ~600 docs x 5 grams records here
    assert(rSmall > 0 && rBig > 0, s"expected work on both batches ($rSmall, $rBig)")
    assert(rBig <= rSmall + 400,
      s"per-batch shuffle grew with the store: $rSmall -> $rBig")
  }

  test("bucketed layout survives a driver restart: re-registered, still flat") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val (store, hits) = (tmp("dsi-restart-store"), tmp("dsi-restart-hits"))
    DupSpanIndex.ingestBatch(mkDocs(0L, 600L), store, hits, 0L)
    val rReg = shuffleRecordsDuring {
      DupSpanIndex.ingestBatch(mkDocs(10000L, 10005L), store, hits, 1L)
    }
    // a NEW session's in-memory catalog has no table entries; DROP on the
    // external table (files stay) simulates exactly that state
    spark.sql(s"DROP TABLE ${BucketedStore.tableName(store)}")
    val rNew = shuffleRecordsDuring {
      DupSpanIndex.ingestBatch(mkDocs(20000L, 20005L), store, hits, 2L)
    }
    info(s"tiny-batch shuffle records: registered -> $rReg, after restart -> $rNew")
    // the failure mode this pins: an un-registered store degrading to a
    // plain read whose probe re-shuffles all ~600x5 gram rows per batch
    assert(rNew <= rReg + 400,
      s"restart lost the bucketed layout: $rReg -> $rNew shuffle records")
  }

  test("compaction preserves the answer and bounds the store's file count") {
    val (store, hits) = (tmp("dsi-comp-store"), tmp("dsi-comp-hits"))
    val sink = DupSpanIndex.tables(store, hits).sink(4)(
      DupSpanIndex.ingestBatch(_, store, hits, _, width = 3))
    sink(df(4L -> "p q r s t"), 0L)
    sink(df(0L -> "a b c d", 8L -> "a b c d"), 1L)
    sink(df(1L -> "p q r s t"), 2L)
    val before = spanSet(hits)
    sink(df(9L -> "brand new closing words"), 3L) // triggers the compact
    val files = BucketedStore.parquetFiles(spark, store).size
    assert(files <= 8, s"compaction should leave <= bucket-count files, got $files")
    // the flag FEED folds too (round 11): one consolidated partition
    val hitParts = new java.io.File(hits).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
    assert(hitParts.size == 1,
      s"hits feed kept its per-batch partition pile: ${hitParts.map(_.getName)}")
    assert(spanSet(hits) == before, "compaction must not change the flags")
    // and the compacted store still probes correctly: one more dup arrives
    sink(df(13L -> "p q r s t"), 4L)
    assert(spanSet(hits).contains((13L, 1L, 5L, 5L)))
  }
}
