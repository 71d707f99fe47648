package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CountMinSketch
import graft.streaming.IndexTables

/** Pins the maintained Count-Min sketch (q273's operator): linearity
  * (stream fold == one-shot sketch under any batch split), CMS's
  * never-undercount guarantee, replay idempotence of the delta feed, and
  * feed compaction preserving estimates.
  */
class CmsSketchSpec extends AnyFunSuite {
  import TestSpark._

  private def keys(from: Long, until: Long, repeats: Int) = {
    import spark.implicits._
    (from until until).flatMap(k => Seq.fill(repeats + (k % 3).toInt)(k))
      .toDF("k")
  }

  private def estMap(feed: String, ks: org.apache.spark.sql.DataFrame) =
    CountMinSketch.estimates(spark, feed, ks.distinct(), "k", d = 4, w = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("stream fold equals the one-shot sketch (linearity) and never undercounts") {
    val all = keys(0, 300, 2)
    val split = tmpDir("cms-split") + "/feed"
    val whole = tmpDir("cms-whole") + "/feed"
    for (b <- 0L until 3L)
      CountMinSketch.ingestBatch(all.filter(pmod(col("k"), lit(3L)) === b),
        "k", split, b, d = 4, w = 64)
    CountMinSketch.ingestBatch(all, "k", whole, 0L, d = 4, w = 64)
    val (es, ew) = (estMap(split, all), estMap(whole, all))
    assert(es == ew, "batch-split sketch diverged from the one-shot sketch")
    // CMS guarantee: est >= exact, always
    val exact = all.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    exact.foreach { case (k, c) =>
      assert(es(k) >= c, s"CMS undercounted key $k: est ${es(k)} < exact $c")
    }
    // a NEVER-ingested key must still get an estimate (the sketch is
    // stored sparse: empty buckets mean 0, not a dropped row) — and with
    // w=64 and 300 ingested keys every bucket is occupied, so this pins
    // the left-join shape via a tiny disjoint sketch instead
    import spark.implicits._
    val tiny = tmpDir("cms-unseen") + "/feed"
    CountMinSketch.ingestBatch(Seq(1L).toDF("k"), "k", tiny, 0L, d = 4, w = 64)
    val unseen = CountMinSketch.estimates(spark, tiny,
        (900L until 910L).map(Tuple1(_)).toSeq.toDF("k"), "k", d = 4, w = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(unseen.size == 10, s"un-ingested keys dropped from estimates: $unseen")
    assert(unseen.values.forall(v => v == 0L || v == 1L),
      s"unseen keys can at most collide with the single ingested count: $unseen")
  }

  test("replayed batch rewrites its delta partition; compaction preserves estimates") {
    val all = keys(0, 200, 1)
    val feed = tmpDir("cms-replay") + "/feed"
    val sink = IndexTables(feeds = Seq(feed)).sink(3)(
      CountMinSketch.ingestBatch(_, "k", feed, _, d = 4, w = 64))
    for (b <- 0L until 3L) sink(all.filter(pmod(col("k"), lit(3L)) === b), b)
    val before = estMap(feed, all)
    // at-least-once replay of the last batch AFTER its delta was folded by
    // the compaction: the feed frontier skips the write — no double count
    sink(all.filter(pmod(col("k"), lit(3L)) === 2L), 2L)
    assert(estMap(feed, all) == before, "replay across compaction changed the sketch")
    val parts = new java.io.File(feed).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
    assert(parts.length == 1, s"compaction should leave one folded partition, got ${parts.length}")
  }

  test("sketch-then-verify: candidates SUPERSET-cover the true hitters; verify equals the truth") {
    import spark.implicits._
    // skewed stream: keys 0..9 are heavy (60+ occurrences each, spread
    // over all batches), 10..199 are background noise (1-3 each)
    val heavy = (0L until 10L).flatMap(k => Seq.fill(60 + (k % 5).toInt)(k))
    val noise = (10L until 200L).flatMap(k => Seq.fill(1 + (k % 3).toInt)(k))
    val all = (heavy ++ noise).toDF("k")
    val base = tmpDir("cms-hh")
    val (feed, cand) = (s"$base/feed", s"$base/cand")
    val threshold = 50L
    for (b <- 0L until 4L)
      CountMinSketch.ingestHeavyHitters(all.filter(pmod(col("k"), lit(4L)) === b),
        "k", feed, cand, threshold, b, d = 4, w = 64)
    val exact = all.groupBy("k").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val trueHitters = exact.filter(_._2 >= threshold).keySet
    assert(trueHitters == (0L until 10L).toSet) // the corpus is as designed
    val candidates = graft.streaming.Loader.readTable(spark, cand)
      .select("k").distinct().collect().map(_.getLong(0)).toSet
    // the LAW: CMS never undercounts, and a heavy key's estimate at its
    // last containing batch is >= its full exact count — so the candidate
    // feed must cover every true hitter, no matter the batch split
    assert(trueHitters.subsetOf(candidates),
      s"candidates missed true hitters: ${trueHitters -- candidates}")
    // exact verify kills every false positive: equals the plain truth
    val verified = CountMinSketch.verifiedHeavyHitters(spark, all, "k", cand, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(verified == exact.filter(_._2 >= threshold),
      "verified heavy hitters diverged from GROUP BY ... HAVING truth")
    // and a REPLAYED batch (whose estimates now see later batches) may only
    // GROW the candidate set — the verified answer must not move
    CountMinSketch.ingestHeavyHitters(all.filter(pmod(col("k"), lit(4L)) === 1L),
      "k", feed, cand, threshold, 1L, d = 4, w = 64)
    val verified2 = CountMinSketch.verifiedHeavyHitters(spark, all, "k", cand, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(verified2 == verified, "replay changed the verified heavy hitters")
  }
}
