package graft.obs

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession. */
object Sessions {

  /** A `local[cpus]` session with graft's extensions, AQE on, UTC, no UI,
    * and `shufflePartitions` (default `cpus`) shuffle partitions.
    *
    * Every value is a default (`setIfMissing`): a `-Dspark.*` system
    * property wins, so conf variants need no flag of their own, e.g.
    * `-Dspark.sql.autoBroadcastJoinThreshold=-1` or
    * `-Dspark.sql.adaptive.enabled=false` through `SPARK_EXTRA_JAVA_OPTS`.
    *
    * `guard = false` turns off the terminal-DOUBLE guard
    * (`Protocol.GuardConfKey`). It belongs to the correctness run; perf
    * runs at rehearsal SFs legitimately cross its bound.
    */
  def local(cpus: Int, guard: Boolean = true,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val conf = new SparkConf() // loads spark.* system properties
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.sql.extensions", "graft.GraftExtensions")
      .setIfMissing("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus).toString)
      .setIfMissing("spark.sql.adaptive.enabled", "true")
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
      // durable Materialize pins are reclaimed once their frames are collected
      .setIfMissing("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    if (!guard) conf.setIfMissing(graft.queries.Protocol.GuardConfKey, "off")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
