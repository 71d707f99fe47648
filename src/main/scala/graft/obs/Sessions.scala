package graft.obs

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The one place a graft main builds its SparkSession, and the one place
  * that writes a session's conf.
  */
object Sessions {

  /** A `local[cpus]` session with graft's extensions, AQE on, UTC, no UI,
    * and `cpus` shuffle partitions.
    *
    * Every value is a default (`setIfMissing`): a `-Dspark.*` system
    * property wins, so conf variants need no flag of their own, e.g.
    * `-Dspark.sql.shuffle.partitions=64` or
    * `-Dspark.sql.adaptive.enabled=false` through `SPARK_EXTRA_JAVA_OPTS`.
    *
    * `guard = false` turns off the terminal-DOUBLE guard
    * (`Protocol.GuardConfKey`). It belongs to the correctness run; perf
    * runs at rehearsal SFs legitimately cross its bound.
    */
  def local(cpus: Int, guard: Boolean = true): SparkSession = {
    val conf = new SparkConf() // loads spark.* system properties
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.sql.extensions", "graft.GraftExtensions")
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
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

  /** Runs `body` on a clone of `s` that has `kvs` set; `s`'s own conf is
    * never written. The clone starts from `s`'s runtime conf, temp views,
    * functions and planner strategies, and shares its SparkContext, catalog
    * and cache, so two callers scoping different values on one session
    * cannot see each other's. A frame built from the clone keeps its conf
    * up to execution, and a stream runs under the conf of the session that
    * built it: build both from the session `body` is given. A stream
    * started on the clone reports to `s`'s StreamingQueryListeners
    * (DEPLOY.md "Scoped confs").
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: SparkSession => T): T = {
    val c = GraftSqlBridge.cloneSession(s)
    kvs.foreach { case (k, v) => c.conf.set(k, v) }
    // a stream started on the clone reports to `s`'s listeners: handed its
    // start event, `s`'s listener bus follows the run to its end
    val forward = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        GraftSqlBridge.postStreamingEvent(s, e)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    c.streams.addListener(forward)
    try body(c)
    // the clone's bus stays registered with the context until dropped: keep
    // it only while a stream started on the clone still runs
    finally if (c.streams.active.isEmpty) GraftSqlBridge.dropStreamingBus(c, forward)
  }

  /** A positive integer from environment variable `name`, or `default`
    * when it is unset. Any other value throws, naming the variable.
    */
  def envInt(name: String, default: Int, env: String => Option[String] = sys.env.get): Int =
    env(name).fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }
}
