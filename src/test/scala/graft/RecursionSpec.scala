package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IterativeFixpoint

/** Pins for the recursive-query surface (q116/q117): the built-in recursion
  * must execute as Spark 4's UnionLoop node (not a per-row re-evaluation),
  * and the IterativeFixpoint twin must guard loudly against schema drift
  * and non-termination (its block ≡ durable parity lives in MaterializeSpec).
  * Result identity between q116 and q117 is owned by the oracle gate (both
  * share one DuckDB SQL text).
  */
class RecursionSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  test("q116 executes through the UnionLoop recursion node") {
    val df = graft.SparkEntry.queries("q116_recursive_chain")(spark, dir)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("UnionLoop"), s"recursion not planned as UnionLoop:\n$phys")
  }

  test("fixpoint: step schema drift fails loudly") {
    import spark.implicits._
    val anchor = Seq(1).toDF("node")
    val e = intercept[IllegalArgumentException] {
      IterativeFixpoint.iterate(anchor,
        f => f.select(col("node").cast("long").as("node")), maxRounds = 5)
    }
    assert(e.getMessage.contains("schema"))
  }

  test("fixpoint: non-terminating step hits the round bound loudly") {
    import spark.implicits._
    val anchor = Seq(1).toDF("node")
    val e = intercept[IllegalArgumentException] {
      IterativeFixpoint.iterate(anchor, f => f, maxRounds = 3)
    }
    assert(e.getMessage.contains("non-empty"))
  }
}
