package graft

import org.scalatest.funsuite.AnyFunSuite

/** Memory-pressure discipline for the ObjectHashAggregate family: q91's
  * document reassembly (collect_list), q96's posting lists (collect_set /
  * sort-merged postings) and q52's exact percentiles hold per-group state
  * objects that LOOK memory-unbounded. Spark's escape hatch is the
  * sort-based fallback: past `objectHashAggregate.sortBased.fallbackThreshold`
  * distinct keys per operator the aggregation degrades to sort-then-merge
  * (spillable, bounded memory). These pins run each query with the
  * threshold forced to 2 — every partition falls back almost immediately —
  * and require BIT-IDENTICAL results, proving the plans degrade gracefully
  * under memory pressure instead of depending on everything fitting in the
  * hash map (the 100 TB posture: any executor can hit fallback on a skewed
  * partition and the answer must not change).
  */
class SpillDisciplineSpec extends AnyFunSuite {
  import TestSpark._

  private val targets = Seq(
    "q91_boilerplate_scrub",
    "q96_inverted_index",
    "q52_percentiles")

  targets.foreach { name =>
    test(s"$name: identical rows under forced sort-based aggregation fallback") {
      val fn = SparkEntry.queries(name)
      val normal = fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
      val spilled = obs.Sessions.withConf(spark,
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") { c =>
        fn(c, sf0001).collect().map(_.toString).sorted.toSeq
      }
      assert(normal.nonEmpty)
      assert(spilled == normal,
        s"$name diverged under sort-based fallback: ${spilled.size} vs ${normal.size} rows")
    }
  }
}
