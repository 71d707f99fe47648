package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked JVM, build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = obs.Sessions.local(4)

  lazy val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `main` (an object with a main method) in a fresh JVM on the
    * suite's class path and module opens, and returns its stdout; for
    * what a JVM reads once (static confs, the FileSystem cache).
    */
  def freshJvm(main: AnyRef, jvmArgs: String*): String = {
    import scala.jdk.CollectionConverters._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val opens = jvm.zip(jvm.drop(1) :+ "").collect {
      case (a, v) if a == "--add-opens" => Seq(a, v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
    }.flatten
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx512m", "-Dspark.master=local[1]", "-Dspark.ui.enabled=false") ++
      jvmArgs ++ Seq("-cp", sys.props("java.class.path"), main.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    out
  }

  /** Total shuffle-WRITE records across `body` — the runtime work-budget
    * instrument shared by PlanBudgetSpec / IncrementalCCSpec / LshIndexSpec.
    */
  def shuffleRecordsDuring(body: => Unit): Long =
    obs.QueryProfile.during(spark)(body)._2.shuffleWriteRecords
}
