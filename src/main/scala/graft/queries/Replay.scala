package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.obs.Sessions

/** The streaming gate's replay harness (DEPLOY.md "Streaming gate (q66
  * pattern)"): a fixture frame written as parquet files and replayed one
  * file per trigger through the caller's stream into a sink, run to the
  * end of its input. Every dir is under the caller's scratch `base`: the
  * replay source `src`, the checkpoint `ck` and the default sink `out`;
  * a caller sink names its own dirs under `base`.
  *
  * The stream is built on a [[graft.obs.Sessions.withConf]] clone that
  * carries `confs`, and the caller's `query` only ever sees the stream
  * frame, so the whole stream runs under the scoped conf while the
  * caller's read-back, built from its own session, runs at that
  * session's settings.
  */
object Replay {

  type Sink = (DataFrame, Long) => Unit

  /** The default replay conf: a stateful micro-batch query materializes
    * one state-store instance per shuffle partition per trigger, so the
    * fixture replays (tens of thousands of rows across 4 triggers) pay
    * pure per-instance overhead at the session's scan-sized setting — 8
    * is right for the harness, and a cluster deployment sizes it to cores
    * as usual.
    */
  val Conf: (String, String) = "spark.sql.shuffle.partitions" -> "8"

  /** Replays `input` as 4 parquet files (`repartition(4)`) in arbitrary
    * order and returns the default sink's dir.
    */
  def apply(s: SparkSession, base: String, input: DataFrame, mode: String,
      sink: Option[Sink] = None, confs: Seq[(String, String)] = Seq(Conf))
      (query: DataFrame => DataFrame): String = {
    input.repartition(4).write.mode("overwrite").parquet(s"$base/src")
    run(s, base, mode, sink, confs)(c => query(source(c, base, input.schema)))
  }

  /** Replays `parts` in order, one file and so one trigger each, as an
    * `append` stream under [[Conf]] into the default sink: part i's file
    * gets modification time t0 + i s, and the file source replays oldest
    * first. The event-time replays (q93, q185, q207) end on a watermark
    * "pusher" part that must arrive after every data part.
    */
  def ordered(s: SparkSession, base: String, parts: Seq[DataFrame])
      (query: DataFrame => DataFrame): String = {
    val src = new Path(s"$base/src")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(src)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (part, i) =>
      val tmp = s"$base/tmp_$i"
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val file = new Path(src, s"part_$i.parquet")
      fs.rename(fs.globStatus(new Path(s"$tmp/part-*.parquet")).head.getPath, file)
      fs.setTimes(file, t0 + i * 1000L, -1)
    }
    run(s, base, "append")(c => query(source(c, base, parts.head.schema)))
  }

  /** The replay source: `<base>/src` read one file per trigger. */
  private def source(c: SparkSession, base: String, schema: StructType): DataFrame =
    c.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$base/src")

  /** Runs the stream `stream` builds from the scoped session to the end of
    * its input (an AvailableNow trigger) and returns the default sink's dir.
    * Without a `sink`, a `complete` stream overwrites `<base>/out` each
    * trigger and an `append` stream appends to it; `update` needs a sink.
    */
  def run(s: SparkSession, base: String, mode: String, sink: Option[Sink] = None,
      confs: Seq[(String, String)] = Seq(Conf))
      (stream: SparkSession => DataFrame): String = {
    val out = s"$base/out"
    val write = sink.getOrElse[Sink](mode match {
      case "complete" => (batch, _) => batch.write.mode("overwrite").parquet(out)
      case "append" => (batch, _) => batch.write.mode("append").parquet(out)
      case m => throw new IllegalArgumentException(s"output mode '$m' needs a sink")
    })
    Sessions.withConf(s, confs: _*) { c =>
      stream(c).writeStream
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ck")
        .foreachBatch(write)
        .start()
        .awaitTermination()
    }
    out
  }
}
