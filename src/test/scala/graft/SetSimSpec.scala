package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the prefix-filtered exact set-similarity join (operators.
  * SetSimJoin, q158): completeness vs brute force (the pigeonhole prefix
  * bound admits NO false negatives — at any θ, not just q158's 19/20), and
  * the plan shape that makes it scale (equi-joins only, no nested loop over
  * the corpus).
  */
class SetSimSpec extends AnyFunSuite {
  import TestSpark._

  private def recs = graft.model.Tables.load(spark, sf0001, "documents")
    .select(col("doc_id"), split(col("text"), " ").as("tk"))

  private def brute(thetaNum: Int, thetaDen: Int): Set[(Long, Long, Long)] = {
    val sets = recs.select(col("doc_id"), array_distinct(col("tk")).as("tk"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      if thetaDen * inter >= thetaNum.toLong * (sa.size + sb.size - inter)
    } yield (ia, ib, inter)).toSet
  }

  private def run(thetaNum: Int, thetaDen: Int): Set[(Long, Long, Long)] =
    graft.operators.SetSimJoin.selfJoin(recs, "doc_id", "tk", thetaNum, thetaDen)
      .select(col("id1"), col("id2"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("prefix filtering is exact: operator == brute force at three thetas") {
    // high (q158's), mid, and low θ — low θ stresses long prefixes
    for ((n, d) <- Seq((19, 20), (9, 10), (4, 5)))
      assert(run(n, d) == brute(n, d), s"mismatch at theta=$n/$d")
  }

  test("the candidate path is equi-join only (no nested-loop over the corpus)") {
    val plan = graft.operators.SetSimJoin.selfJoin(recs, "doc_id", "tk", 19, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  private def bruteContain(thetaNum: Int, thetaDen: Int): Set[(Long, Long, Long)] = {
    val sets = recs.select(col("doc_id"), array_distinct(col("tk")).as("tk"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia != ib
      inter = (sa & sb).size.toLong
      if thetaDen * inter >= thetaNum.toLong * sa.size
    } yield (ia, ib, inter)).toSet
  }

  test("containment join is exact and DIRECTED: operator == brute force, asymmetric pairs") {
    for ((n, d) <- Seq((1, 1), (9, 10), (3, 4))) {
      val got = graft.operators.SetSimJoin.containmentJoin(recs, "doc_id", "tk", n, d)
        .select(col("id_a"), col("id_b"), col("inter"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == bruteContain(n, d), s"mismatch at theta=$n/$d")
    }
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(158214)
    val rows = Seq.fill(300) {
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60)).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60)).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Int], Seq(1, 2, 3))) :+ ((Seq(5), Seq(5)))
    def mismatches(s: org.apache.spark.sql.SparkSession): Long =
      s.createDataFrame(rows).toDF("a", "b")
        .withColumn("got", graft.functions.SortedIntersectCount(col("a"), col("b")))
        .withColumn("want", size(array_intersect(col("a"), col("b"))).cast("long"))
        .where(col("got") =!= col("want")).count()
    // codegen path (default) ...
    assert(mismatches(spark) == 0)
    // ... and the interpreted eval path (expression codegen off entirely —
    // wholeStage=false alone still codegens projections)
    assert(obs.Sessions.withConf(spark,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(mismatches) == 0)
    // null array propagates
    val n = Seq((Some(Seq(1, 2)), Option.empty[Seq[Int]])).toDF("a", "b")
      .select(graft.functions.SortedIntersectCount(col("a"), col("b")).as("c"))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("containment catches a subset doc that Jaccard misses") {
    import spark.implicits._
    // A = 5 tokens fully inside B's 50 -> containment(A in B) = 1.0 but
    // Jaccard = 5/50: invisible to any high-θ Jaccard stage
    val toksB = (1 to 50).map(i => s"t$i")
    val df = Seq((1L, toksB.take(5)), (2L, toksB)).toDF("doc_id", "tk")
    val got = graft.operators.SetSimJoin.containmentJoin(df, "doc_id", "tk", 1, 1)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)), s"got ${got.toSeq}")
    val jac = graft.operators.SetSimJoin.selfJoin(df, "doc_id", "tk", 9, 10)
      .collect()
    assert(jac.isEmpty, "Jaccard 0.1 pair should not pass a 0.9 gate")
  }
}
