package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QuantileSketch
import graft.streaming.Loader

/** Pins the maintained quantile sketch's laws (q285/q286):
  *  - SPLIT INVARIANCE: counts are linear, so the folded 4-batch feed
  *    equals the one-shot sketch exactly under any batch split;
  *  - REPLAY ACROSS COMPACTION: a replay of a folded batch is a no-op
  *    (rides the Loader feed frontier);
  *  - STATE SIZE: the sketch is bucket-bounded by the VALUE DOMAIN
  *    (≤ 16 sub-buckets per octave per sign), never by row count;
  *  - ERROR LAW: the bucket id never overshoots the value, preserves its
  *    sign, and is within 1/16 relative — including negatives.
  */
class QuantileSketchSpec extends AnyFunSuite {
  import TestSpark._

  private def vals(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => ((i * 37 % 1000) + 0.17 * (i % 13), i.toLong))
      .toDF("v", "id")
  }

  private def skSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("split invariance: folded batch deltas == the one-shot sketch") {
    val df = vals(4000)
    val feed = tmpDir("qsk-split") + "/feed"
    for (b <- 0L until 4L)
      QuantileSketch.ingestBatch(df.filter(pmod(col("id"), lit(4L)) === b), "v", feed, b)
    val folded = skSet(QuantileSketch.fold(spark, feed))
    val oneShot = skSet(QuantileSketch.delta(df, "v")
      .select(col("bucket"), col("n").cast("long")))
    assert(folded == oneShot, "linearity broke: fold != one-shot sketch")
  }

  test("replay across compaction is a no-op (feed frontier)") {
    val df = vals(1200)
    val feed = tmpDir("qsk-replay") + "/feed"
    for (b <- 0L until 3L)
      QuantileSketch.ingestBatch(df.filter(pmod(col("id"), lit(3L)) === b), "v", feed, b)
    val want = skSet(QuantileSketch.fold(spark, feed))
    Loader.compactBatches(spark, feed)
    // restored checkpoint: batch 1 replays after the fold
    QuantileSketch.ingestBatch(df.filter(pmod(col("id"), lit(3L)) === 1L), "v", feed, 1L)
    assert(skSet(QuantileSketch.fold(spark, feed)) == want,
      "marker-less replay across the fold duplicated sketch counts")
  }

  test("state is value-domain-bounded, never row-count-bounded") {
    // the generator's value set has period 13000 — past it, MORE ROWS add
    // ZERO buckets (they land in existing ones): the law that makes this a
    // sketch rather than a histogram of the data
    val atSat = QuantileSketch.delta(vals(13000), "v").count()
    val doubled = QuantileSketch.delta(vals(26000), "v").count()
    assert(doubled == atSat,
      s"sketch grew with row count at fixed domain ($atSat -> $doubled buckets)")
    // and the absolute bound: ≤ 16 sub-buckets per octave per sign + zero
    assert(atSat < 2 * 63 * 16 + 1)
  }

  test("error law: sign-preserving, never overshooting, ≤ 1/16 relative (incl. negatives)") {
    import spark.implicits._
    val df = Seq(-98765.4321, -31.9, -0.000001, 0.0, 0.000003, 0.25, 17.0,
      33.000033, 999999.999999, 123456.789012).toDF("v")
    val rows = df.select(QuantileSketch.micros(col("v")).as("m"),
        QuantileSketch.bucketCol(col("v")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (m, b) =>
      assert(math.signum(m) == math.signum(b), s"sign lost: m=$m b=$b")
      assert(math.abs(b) <= math.abs(m), s"overshoot: m=$m b=$b")
      assert((math.abs(m) - math.abs(b)) * 16 <= math.abs(m),
        s"relative error > 1/16: m=$m b=$b")
    }
    // the upper bound is exclusive and tight for non-negative buckets
    val ubs = df.filter(col("v") >= 0)
      .select(QuantileSketch.micros(col("v")).as("m"),
        QuantileSketch.bucketCol(col("v")).as("b"))
      .select(col("m"), col("b"), QuantileSketch.upperBoundCol(col("b")).as("ub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    ubs.foreach { case (m, b, ub) =>
      assert(b <= m && m < ub, s"bucket interval wrong: m=$m not in [$b, $ub)")
    }
  }
}
