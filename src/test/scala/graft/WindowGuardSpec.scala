package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PartitionlessWindowGuard

/** The opt-in partition-less-window guard: global windows fail loudly when
  * enabled; partitioned windows and the GlobalCumSum replacement pass; the
  * default leaves stock behavior untouched.
  */
class WindowGuardSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def withGuard[A](on: Boolean)(body: SparkSession => A): A =
    obs.Sessions.withConf(spark, PartitionlessWindowGuard.ConfKey -> on.toString)(body)

  private def df(s: SparkSession) =
    s.createDataFrame(Seq((1L, 10L), (2L, 20L), (3L, 30L))).toDF("k", "v")

  test("guard ON: global window fails at plan time, naming the expression") {
    withGuard(true) { c =>
      val bad = df(c).withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      val e = intercept[Exception](bad.collect())
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("partition-less window")),
        s"unexpected failure: $e")
    }
  }

  test("guard ON: partitioned windows and GlobalCumSum pass untouched") {
    withGuard(true) { c =>
      val ok = df(c).withColumn("rn",
        row_number().over(Window.partitionBy(col("k") % 2).orderBy(col("k"))))
      assert(ok.count() == 3)
      val cum = graft.operators.GlobalCumSum.withCumSum(
        df(c), Seq(col("k")), col("v"), "cv")
      assert(cum.orderBy(col("k")).select(col("cv")).as[Long].collect()
        .toSeq == Seq(10L, 30L, 60L))
    }
  }

  test("guard ON: UNORDERED global window (agg OVER ()) is flagged too") {
    // no orderSpec, but still one task for the whole input — the guard
    // must not be dodgeable by dropping the ORDER BY
    withGuard(true) { c =>
      val bad = df(c).withColumn("tot",
        sum(col("v")).over(Window.partitionBy()))
      val e = intercept[Exception](bad.collect())
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("partition-less window")),
        s"unexpected failure: $e")
    }
  }

  test("guard OFF (default): global window keeps stock WARN-only behavior") {
    withGuard(false) { c =>
      val rn = df(c).withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      assert(rn.count() == 3)
    }
  }

  test("guard ON: the window-heavy continuation-4 queries all plan clean") {
    // the interval/sequence and rank-statistics families lean hardest on
    // windows — running them UNDER the guard proves the repo invariant
    // (no partition-less windows in any declared query) mechanically,
    // not just by review. Execution included: the guard fires at plan
    // time, so a clean collect() is a clean bill.
    withGuard(true) { c =>
      for (q <- Seq("q200_clamped_balance", "q201_interval_union",
          "q202_longest_streak", "q204_daily_utilization", "q209_twa_balance",
          "q210_ship_latency", "q216_mann_whitney", "q217_spearman",
          "q218_kendall", "q220_lead_lag", "q223_lift_curve", "q225_roc_points"))
        assert(SparkEntry.queries(q)(c, sf0001).collect().nonEmpty,
          s"$q returned empty under the window guard")
    }
  }
}
