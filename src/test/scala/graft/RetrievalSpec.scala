package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariant + plan pins for the retrieval/relevance family (q134-q138).
  * Value-exactness is owned by the DuckDB oracle gate; these pin the
  * structural laws and the scale-shaped plan choices.
  */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = sf0001

  test("q134 BM25: exactly top-10, scores strictly positive and non-increasing") {
    val rows = SparkEntry.queries("q134_bm25")(spark, dir)
      .collect().map(r => r.getLong(r.fieldIndex("score_micro")))
    assert(rows.length == 10)
    assert(rows.forall(_ > 0))
    assert(rows.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("q134 BM25 plan: top-k is TakeOrderedAndProject, stats broadcast") {
    val p = SparkEntry.queries("q134_bm25")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-10 not TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df/corpus stats not broadcast:\n$p")
  }

  test("q134/q135: the text corpus is scanned exactly twice (df via window, melt-join uni)") {
    // q72's rule generalized: df/unigram attachment must not re-run the
    // corpus scan as a duplicated subplan. Postings + corpus-stats (q134)
    // and bigrams + unigrams (q135) are the two irreducible passes.
    Seq("q134_bm25", "q135_collocation").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 2, s"$q: expected exactly 2 corpus scans, found $scans:\n$p")
    }
  }

  test("q135 collocation: support floor holds and lift is positive") {
    val rows = SparkEntry.queries("q135_collocation")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(r => r.getLong(r.fieldIndex("cab")) >= 5))
    assert(rows.forall(r => r.getLong(r.fieldIndex("lift_micro")) > 0))
  }

  test("q136 rolling actives: 7-day window dominates the single-day count") {
    val daily = graft.model.Tables.load(spark, dir, "events")
      .select((unix_micros(col("ts")).divide(lit(86400000000L))).cast("long").as("d"),
        col("user_id"))
      .distinct().groupBy("d").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rolling = SparkEntry.queries("q136_rolling_actives")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rolling.keySet == daily.keySet)
    assert(rolling.forall { case (d, n) => n >= daily(d) })
  }

  test("q137 capped sessions: partition law and the 2h duration cap") {
    val total = graft.model.Tables.load(spark, dir, "events").count()
    val rows = SparkEntry.queries("q137_capped_sessions")(spark, dir).collect()
    assert(rows.map(r => r.getLong(r.fieldIndex("n_events"))).sum == total,
      "sessions must partition the event stream")
    assert(rows.forall(r => r.getLong(r.fieldIndex("dur_us")) < 7200000000L),
      "every capped session must span < 2h")
    // the cap can only split gap-sessions further, never merge them
    val gapOnly = SparkEntry.queries("q23_sessionize")(spark, dir).count()
    assert(rows.length >= gapOnly)
  }

  test("q138 PageRank: rank mass is conserved up to flooring, one row per active nation") {
    val rows = SparkEntry.queries("q138_pagerank")(spark, dir).collect()
    val n = rows.length
    assert(n > 0 && n <= 25)
    val mass = rows.map(r => r.getLong(r.fieldIndex("pr_micro"))).sum
    // floor-then-sum loses < 1 micro per (node × round × term); 3 rounds of
    // teleport flooring bound the loss well under 1% of total mass
    assert(mass <= 1000000L, s"mass grew: $mass")
    assert(mass >= 990000L, s"mass lost beyond flooring bounds: $mass")
  }

  test("q139 rarity: ONE corpus scan (counts once, corpus freq via window)") {
    val df = SparkEntry.queries("q139_rarity_score")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single corpus scan, found $scans:\n$p")
    assert(df.count() == 20)
  }

  test("q140 NTILE: every event type gets 10 deciles with balanced counts") {
    val rows = SparkEntry.queries("q140_ntile_deciles")(spark, dir).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (t, rs) =>
      assert(rs.length == 10, s"$t: expected 10 deciles, got ${rs.length}")
      val counts = rs.map(r => r.getLong(r.fieldIndex("n")))
      assert(counts.max - counts.min <= 1, s"$t: NTILE counts unbalanced: ${counts.toSeq}")
    }
  }

  test("q141 listagg: rosters are capped at 3 ordered names") {
    val rows = SparkEntry.queries("q141_listagg_roster")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val names = r.getString(r.fieldIndex("roster")).split(",").toSeq
      assert(names.length <= 3 && names == names.sorted, s"bad roster: $names")
    }
  }

  test("q138 PageRank plan: per-round contribution joins are equi-joins, no cartesian") {
    val p = SparkEntry.queries("q138_pagerank")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in pagerank plan:\n$p")
  }
}
