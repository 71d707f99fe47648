package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** A pinned frame plus what its pin job observed: the row count and the
  * caller's `extra` metrics by alias.
  */
final case class Pinned(df: DataFrame, rows: Long, metrics: Map[String, Any])

/** The one way an iterative operator cuts lineage: eagerly materialize a
  * frame and restart its plan from the stored result, so round N's plan
  * never embeds rounds 0..N-1 (the RDD paper's checkpointing remedy for
  * long lineage chains). Without it the step plan nests once per round and
  * planning itself goes super-linear.
  *
  * One session key picks where the pin lives, `spark.graft.materialize`:
  *   - `block` (default): `localCheckpoint(eager = true)` — executor-local
  *     blocks, no file I/O. A lost executor loses them, and with them the
  *     running query (the blocks have no lineage to recompute from).
  *   - `durable`: `checkpoint(eager = true)` — Spark's reliable checkpoint,
  *     one job that computes and writes the frame under
  *     `spark.checkpoint.dir` (a distributed FS in a deployment). A lost
  *     executor re-reads files instead of restarting the iteration. Set
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *     ([[graft.obs.Sessions.local]] does) so the files go when their
  *     frames are collected.
  *
  * Both modes return a `LogicalRDD`, and the count rides the pin's own job
  * through `Observation` — no extra action.
  */
object Materialize {

  val ModeKey = "spark.graft.materialize"

  /** True when the session asks for durable pins; throws
    * IllegalArgumentException on a value other than block or durable.
    */
  def durable(spark: SparkSession): Boolean =
    spark.conf.get(ModeKey, "block") match {
      case "block" => false
      case "durable" => true
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'block' or 'durable', got '$other'")
    }

  /** Eagerly pins `df`. Its stages are named `pin <tag>` (Spark's short
    * call site, restored afterwards), so profiles attribute each pin to
    * its round rather than to this file.
    */
  def pin(df: DataFrame, tag: String, extra: Column*): Pinned = {
    val sc = df.sparkSession.sparkContext
    val reliable = durable(df.sparkSession)
    require(!reliable || sc.getCheckpointDir.isDefined,
      s"$ModeKey=durable needs spark.checkpoint.dir (or " +
        "SparkContext.setCheckpointDir) on a fault-tolerant file system")
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("_rows"), extra: _*)
    val callSite = "callSite.short"
    val caller = sc.getLocalProperty(callSite)
    sc.setCallSite(s"pin $tag")
    val out =
      try if (reliable) observed.checkpoint(eager = true)
        else observed.localCheckpoint(eager = true)
      finally sc.setLocalProperty(callSite, caller)
    val m = obs.get
    Pinned(out, m("_rows").asInstanceOf[Long], m - "_rows")
  }
}
