package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

/** AQE-skew × native-as-of interaction pins. OptimizeSkewedJoin rewrites
  * only the stock shuffled joins; the custom AsOfJoinExec is invisible to
  * it, so a hot key must be handled structurally (salt + reference
  * replication). These pins (a) document the limitation as a regression
  * test — if a future Spark/AQE version ever DOES split the custom node,
  * the pin fails and the recipe can be retired, and (b) prove the salted
  * recipe is exact and genuinely splits the hot key's rows.
  */
class SkewAsOfSpec extends AnyFunSuite {
  import TestSpark._

  // one hot key owns ~95% of the probe side; references are small
  private def fixture(s: SparkSession) = {
    import s.implicits._
    val probes = ((1 to 19000).map(_ => 1) ++ (1 to 1000).map(i => i % 50 + 2))
      .zipWithIndex.map { case (k, i) => (k, i.toLong * 10 + 5, i.toLong) }
      .toDF("k", "t", "pid")
    val refs = (1 to 51).flatMap(k => (0 to 20).map(j =>
      (k, j.toLong * 1000, s"r$k-$j"))).toDF("k", "t", "rv")
    (probes, refs)
  }

  private val skewConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  test("OptimizeSkewedJoin does NOT split AsOfJoinExec (documented limitation)") {
    val plan = obs.Sessions.withConf(spark, skewConfs: _*) { c =>
      val (probes, refs) = fixture(c)
      val j = AsOfJoin.backwardNative(probes, refs, Seq("k"), "t", Seq("rv"))
      assert(j.collect().length == 20000)
      j.queryExecution.executedPlan.toString
    }
    assert(plan.contains("AsOfJoin"), s"native exec missing:\n${plan.take(1500)}")
    // the same confs make the stock SMJ test mark skew=true; the custom
    // node stays unsplit — this pin is the documentation
    assert(!plan.contains("skew=true"),
      "AQE now splits the custom as-of node — retire the salted recipe:\n" +
        plan.take(1500))
  }

  test("salted as-of: exact parity with unsalted, hot key split across salts") {
    val (probes, refs) = fixture(spark)
    val plain = AsOfJoin.backwardNative(probes, refs, Seq("k"), "t", Seq("rv"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.toString), Option(r.getString(4)))).toSet
    val salted = AsOfJoin.backwardNativeSalted(probes, refs, Seq("k"), "t",
      Seq("rv"), salts = 8)
    val got = salted
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.toString), Option(r.getString(4)))).toSet
    assert(got == plain)
    assert(got.size == 20000)
    // the exchange genuinely keys on (k, salt): the hot key's probes now
    // hash to `salts` distinct partitions instead of one
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("_asof_salt"),
      s"salt column absent from the physical plan:\n${planStr.take(1500)}")
    // distribution check on the actual salt assignment: every salt bucket
    // of the hot key carries a nontrivial share (hash spreads the ts)
    val counts = probes.filter(col("k") === 1)
      .withColumn("s", pmod(hash(col("t")), lit(8)))
      .groupBy("s").count().collect().map(_.getLong(1))
    assert(counts.length == 8 && counts.min > 1000,
      s"salt distribution degenerate: ${counts.mkString(",")}")
  }
}
