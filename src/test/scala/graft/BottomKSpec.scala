package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BottomKSample
import graft.streaming.IndexTables

/** Pins the maintained bottom-k sample (q290/q291's operator):
  * mergeability (any batch split folds to the IDENTICAL sample — bottomK
  * is a proper mergeable summary, not an approximation), uniformity
  * plumbing (the sample is the k smallest md5 priorities of the DISTINCT
  * key set — duplicate arrivals across batches collapse), the
  * small-corpus degenerate case (fewer than k keys ⇒ sample == key set
  * and the KMV estimate is exact), and replay/compaction idempotence.
  */
class BottomKSpec extends AnyFunSuite {
  import TestSpark._

  private def keyDf(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(k => s"doc-$k").toDF("k")
  }

  private def sampleIds(feed: String, k: Int = 16) =
    BottomKSample.fold(spark, feed, "k", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toList

  test("any batch split folds to the identical sample (mergeability)") {
    val all = keyDf(0, 200)
    val s2 = tmpDir("bk-2way") + "/feed"
    val s5 = tmpDir("bk-5way") + "/feed"
    for (b <- 0L until 2L)
      BottomKSample.ingestBatch(
        all.filter(pmod(xxhash64(col("k")), lit(2L)) === b), "k", s2, b, k = 16)
    for (b <- 0L until 5L)
      BottomKSample.ingestBatch(
        all.filter(pmod(xxhash64(col("k")), lit(5L)) === b), "k", s5, b, k = 16)
    val one = tmpDir("bk-1shot") + "/feed"
    BottomKSample.ingestBatch(all, "k", one, 0L, k = 16)
    assert(sampleIds(s2) == sampleIds(one), "2-way split diverged")
    assert(sampleIds(s5) == sampleIds(one), "5-way split diverged")
    // the fold really is the k smallest priorities of the distinct key set
    val expect = all.withColumn("prio", BottomKSample.priority(col("k")))
      .orderBy(col("prio"), col("k")).limit(16)
      .collect().map(_.getString(0)).toList
    assert(sampleIds(one).map(_._2) == expect)
    assert(sampleIds(one).map(_._1) == (1L to 16L).toList, "ranks must be 1..k")
  }

  test("duplicate keys across batches collapse; sub-k corpus makes KMV exact") {
    val feed = tmpDir("bk-dup") + "/feed"
    // the same 10 keys arrive in EVERY batch — the distinct sample is 10
    for (b <- 0L until 3L)
      BottomKSample.ingestBatch(keyDf(0, 10), "k", feed, b, k = 16)
    val s = sampleIds(feed)
    assert(s.size == 10, s"duplicate arrivals must collapse: got ${s.size}")
    val est = BottomKSample.kmvEstimate(
        BottomKSample.fold(spark, feed, "k", 16), 16)
      .collect().head
    assert(est.getLong(2) == 10L, "sub-k corpus: the estimate IS the exact count")
  }

  test("KMV estimate is within the documented band on a known corpus") {
    val feed = tmpDir("bk-kmv") + "/feed"
    BottomKSample.ingestBatch(keyDf(0, 2000), "k", feed, 0L, k = 64)
    val est = BottomKSample.kmvEstimate(
        BottomKSample.fold(spark, feed, "k", 64), 64)
      .collect().head.getLong(2)
    assert(math.abs(est - 2000L) * 2 <= 2000L,
      s"KMV estimate $est outside the 50% (≈4σ at k=64) band around 2000")
  }

  test("replay rewrites its delta; compaction preserves the sample") {
    val all = keyDf(0, 120)
    val feed = tmpDir("bk-replay") + "/feed"
    val sink = IndexTables(feeds = Seq(feed)).sink(3)(
      BottomKSample.ingestBatch(_, "k", feed, _, k = 16))
    for (b <- 0L until 3L)
      sink(all.filter(pmod(xxhash64(col("k")), lit(3L)) === b), b)
    val before = sampleIds(feed)
    sink(all.filter(pmod(xxhash64(col("k")), lit(3L)) === 1), 1L)
    assert(sampleIds(feed) == before,
      "a replayed batch after compaction changed the sample")
  }
}
