package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked JVM, build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = obs.Sessions.local(4)

  lazy val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Total shuffle-WRITE records across `body` — the runtime work-budget
    * instrument shared by PlanBudgetSpec / IncrementalCCSpec / LshIndexSpec.
    */
  def shuffleRecordsDuring(body: => Unit): Long =
    obs.QueryProfile.during(spark)(body)._2.shuffleWriteRecords
}
