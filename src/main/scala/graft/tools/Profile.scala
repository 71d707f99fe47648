package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{Bench, SparkEntry}
import graft.obs.{QueryProfile, Sessions}
import graft.queries.SharedStages

/** Where each named entry's time goes: runs it once through the noop sink
  * after Bench's warm-up and prints one JSON line per entry — wall, task,
  * CPU and GC seconds, job count, driver gap (wall not covered by any
  * running job), generated classes compiled and their compile ms,
  * shuffle/spill/output totals, and the 10 stages with the most task time
  * (graft.obs.QueryProfile).
  *
  * `--plan DIR` also writes each entry's final (post-AQE) formatted
  * physical plan to `DIR/<name>.txt`.
  *
  * Usage: tools/run_main.sh graft.tools.Profile
  *          <q1,q2,...|all|shared.dedupClusters|shared.copurchasePairs> [--plan DIR]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  * Conf variants are plain system properties (graft.obs.Sessions), e.g.
  * broadcast off:
  *   SPARK_EXTRA_JAVA_OPTS="-Dspark.sql.autoBroadcastJoinThreshold=-1
  *     -Dspark.sql.adaptive.autoBroadcastJoinThreshold=-1"
  */
object Profile {
  private val shared: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shared.dedupClusters" -> (SharedStages.dedupClusters _),
    "shared.copurchasePairs" -> (SharedStages.copurchasePairs _))

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || (args.length == 3 && args(1) == "--plan"),
      "usage: Profile <q1,q2,...|all|shared.dedupClusters|shared.copurchasePairs> [--plan DIR]")
    val planDir = args.lift(2).map(java.nio.file.Paths.get(_))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val known = SparkEntry.queries ++ shared
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")

    val spark = Sessions.local(cpus, guard = false)
    try {
      Bench.warmUp(spark, dir)
      planDir.foreach(java.nio.file.Files.createDirectories(_))
      names.foreach { name =>
        val (error, p) = QueryProfile.during(spark) {
          try { Bench.force(known(name)(spark, dir)); None }
          catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
        }
        val status = error.fold[JField]("ok" -> JBool(true))("error" -> JString(_))
        println(compact(render(JObject(("query" -> JString(name)) :: status :: p.toJson(10).obj))))
        for (d <- planDir; plan <- p.finalPlan)
          java.nio.file.Files.writeString(d.resolve(s"$name.txt"), plan)
        spark.catalog.clearCache()
        System.gc()
      }
    } finally {
      org.apache.spark.sql.GraftSqlBridge.stopStateStores()
      spark.stop()
    }
  }
}
