package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SemDeDup

/** Pins the SemDeDup (q287) laws:
  *  - NO CROSS-CLUSTER PAIR is ever formed — the boundedness guarantee
  *    that makes the pairwise stage scale (a ≥θ-similar pair split across
  *    clusters must survive untouched);
  *  - DOMINATION is deterministic: higher quality wins, quality ties fall
  *    to the lowest doc_id, and an identical group keeps exactly one;
  *  - the hashed-BoW embedding is a pure function of the text (invariant
  *    under partitioning).
  */
class SemDeDupSpec extends AnyFunSuite {
  import TestSpark._

  private def assigned(rows: Seq[(Long, Seq[Double], Long)]) = {
    import spark.implicits._
    SemDeDup.assignArgmax(rows.toDF("doc_id", "v", "q"))
  }

  private def droppedIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    SemDeDup.markDropped(df, 990000L, "q")
      .filter(col("dropped")).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("a >=theta pair split across clusters is never a dedup pair") {
    // v1/v2 are ~0.994-cosine similar but argmax differs → different
    // clusters → both survive; v3 shares v1's cluster at high cosine with
    // lower quality → dropped. The contrast is the law.
    val df = assigned(Seq(
      (1L, Seq(10.0, 9.0, 0.0, 0.0), 100L),
      (2L, Seq(9.0, 10.0, 0.0, 0.0), 50L),
      (3L, Seq(10.0, 8.9, 0.0, 0.0), 50L)))
    assert(droppedIds(df) == Set(3L),
      "cross-cluster similarity must not dedup; in-cluster must")
  }

  test("domination: quality wins, ties fall to lowest doc_id, one survivor per group") {
    val df = assigned(Seq(
      (10L, Seq(5.0, 1.0), 7L),
      (11L, Seq(5.0, 1.0), 7L),   // identical vector, identical quality
      (12L, Seq(5.0, 1.0), 9L),   // identical vector, best quality
      (13L, Seq(5.0, 1.0), 7L)))
    // 12 survives (best quality); 10/11/13 all dominated by 12
    assert(droppedIds(df) == Set(10L, 11L, 13L))
    val tie = assigned(Seq(
      (20L, Seq(3.0, 1.0), 5L),
      (21L, Seq(3.0, 1.0), 5L)))
    // pure tie: lowest doc_id survives
    assert(droppedIds(tie) == Set(21L))
  }

  test("cluster-count scale law: gate default is fixed; docsPerCluster wires k ∝ corpus") {
    val key = "spark.graft.semdedup.docsPerCluster"
    def corpus(c: org.apache.spark.sql.SparkSession) = {
      import c.implicits._
      (0L until 200L)
        .map(i => (i, s"alpha$i beta${i % 7} gamma common")).toDF("doc_id", "text")
    }
    // the key is read from the corpus' session: each value gets its own clone
    def clusterCount(d: Option[String]): Int =
      obs.Sessions.withConf(spark, d.map(key -> _).toSeq: _*) { c =>
        if (d.isEmpty) c.conf.unset(key)
        SemDeDup.clusterCount(corpus(c), 16)
      }
    val docs = corpus(spark)
    // gate shape: conf unset → the pinned base, NO count job, oracle-stable
    assert(clusterCount(None) == 16)
    // the law: k = max(base, ceil(n/d)) — per-cluster population stays ≤ d
    assert(clusterCount(Some("10")) == 20) // ceil(200/10)
    assert(clusterCount(Some("1000")) == 16) // floor at base
    // a malformed value names the key and the value, not a bare NumberFormatException
    val bad = intercept[IllegalArgumentException](clusterCount(Some("10k")))
    assert(bad.getMessage.contains(key) && bad.getMessage.contains("10k"))
    // and what the law BUYS: the pair stage is Σ n_c·(n_c−1); growing k
    // with the corpus must shrink it vs the fixed-k gate shape. Pair-row
    // bound measured through the same argmax assignment markDropped uses.
    def pairRows(k: Int): Long =
      SemDeDup.assignArgmax(SemDeDup.embedBow(docs, k))
        .groupBy("cluster").count()
        .agg(sum(col("count") * (col("count") - 1L))).collect().head.getLong(0)
    val fixed = pairRows(16)
    val scaled = pairRows(64)
    assert(scaled < fixed,
      s"k∝corpus must bound the pair stage: k=16 → $fixed rows, k=64 → $scaled")
  }

  test("hashed-BoW embedding is a pure function of the text (partitioning-invariant)") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"tok${i % 4} tok${i % 2} shared common text body"))
      .toDF("doc_id", "text")
    def embSet(parts: Int) =
      SemDeDup.embedBow(docs.repartition(parts), 16)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    assert(embSet(2) == embSet(11))
    // identical texts embed identically (the dedup premise): docs 0 and 4
    // share their text (period 4), docs 0 and 1 do not
    val e = embSet(2).toMap
    assert(e(0L) == e(4L), "same text must produce the same vector")
    assert(e(0L) != e(1L), "different text should not collide here")
  }
}
