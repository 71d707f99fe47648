package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BloomFilter
import graft.streaming.IndexTables

/** Pins the maintained Bloom filter (q289's operator): the NO-FALSE-
  * NEGATIVE law (every ingested key probes positive, under any batch
  * split), set-union linearity (stream fold == one-shot filter), that
  * false positives exist AND are exactly the keys the dedup gate's
  * verify pass must kill, and replay/compaction idempotence (union is
  * idempotent, so a folded feed answers identically).
  */
class BloomSketchSpec extends AnyFunSuite {
  import TestSpark._

  private def keyDf(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(k => s"key-$k").toDF("k")
  }

  private def maybeMap(feed: String, ks: org.apache.spark.sql.DataFrame,
      m: Int = 256) =
    BloomFilter.mightContain(spark, feed, ks, "k", k = 4, m = m)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap

  test("no false negatives under any batch split; fold equals one-shot filter") {
    val all = keyDf(0, 120)
    val split = tmpDir("bloom-split") + "/feed"
    val whole = tmpDir("bloom-whole") + "/feed"
    for (b <- 0L until 3L)
      BloomFilter.ingestBatch(
        all.filter(pmod(xxhash64(col("k")), lit(3L)) === b), "k", split, b, m = 256)
    BloomFilter.ingestBatch(all, "k", whole, 0L, m = 256)
    val (ms, mw) = (maybeMap(split, all), maybeMap(whole, all))
    assert(ms == mw, "batch-split filter diverged from the one-shot filter")
    assert(ms.values.forall(_ == 1),
      s"false negative: an ingested key probed 0 — ${ms.filter(_._2 == 0)}")
    // the occupied-position SET is identical, not just the probe answers
    val ps = graft.streaming.Loader.readTable(spark, split)
      .select(col("p")).distinct().collect().map(_.getLong(0)).toSet
    val pw = graft.streaming.Loader.readTable(spark, whole)
      .select(col("p")).distinct().collect().map(_.getLong(0)).toSet
    assert(ps == pw, "occupied-position sets diverged across the split")
  }

  test("false positives exist at saturation and are exactly what exact-verify kills") {
    // small m, many keys: the fp tail is guaranteed non-empty
    val archive = keyDf(0, 200)
    val feed = tmpDir("bloom-fp") + "/feed"
    BloomFilter.ingestBatch(archive, "k", feed, 0L, m = 1024)
    val novel = keyDf(1000, 1100) // disjoint from the archive
    val probed = maybeMap(feed, novel, m = 1024)
    val fps = probed.filter(_._2 == 1).keySet
    assert(fps.nonEmpty, "1024-bit filter with 200 keys must produce false positives")
    assert(fps.size < novel.count(), "a NON-saturated probe set: some negatives survive")
    // the gate composition: bloom-positive ∧ not-in-archive == the fp set,
    // bloom-negative keys never reach the exact check, and no true member
    // is ever in the negative set (the no-false-negative law again,
    // stated as the gate's correctness: novel_fast ∪ fp == truly-novel)
    val archiveKeys = archive.collect().map(_.getString(0)).toSet
    assert(fps.intersect(archiveKeys).isEmpty)
  }

  test("replay rewrites its delta; compaction preserves the filter (union idempotent)") {
    val all = keyDf(0, 90)
    val feed = tmpDir("bloom-replay") + "/feed"
    val sink = IndexTables(feeds = Seq(feed)).sink(3)(
      BloomFilter.ingestBatch(_, "k", feed, _, m = 256))
    for (b <- 0L until 3L)
      sink(all.filter(pmod(xxhash64(col("k")), lit(3L)) === b), b)
    val before = maybeMap(feed, all)
    // replay batch 1 AFTER the fold: frontier makes it a structural no-op
    sink(all.filter(pmod(xxhash64(col("k")), lit(3L)) === 1), 1L)
    assert(maybeMap(feed, all) == before,
      "a replayed batch after compaction changed the filter")
    assert(before.values.forall(_ == 1))
  }
}
