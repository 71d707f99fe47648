package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.queries.Replay

/** [[graft.queries.Replay]], the streaming gate's replay harness: one file
  * per trigger, the ordered variant's explicit replay order, the stream's
  * scoped conf, and the guard that no query module starts a replay of its
  * own.
  */
class ReplaySpec extends AnyFunSuite {
  import TestSpark._

  /** A sink that records each batch's ids by batch id. */
  private def recorder(): (TrieMap[Long, Set[Long]], Replay.Sink) = {
    val seen = TrieMap.empty[Long, Set[Long]]
    (seen, (b: DataFrame, id: Long) => seen(id) = b.collect().map(_.getLong(0)).toSet)
  }

  private def ids(s: SparkSession, from: Long, until: Long): DataFrame =
    s.range(from, until).select(col("id"))

  /** Runs `body` and returns the progress of each of the `batches` batches
    * it runs, as `s`'s listeners see them.
    */
  private def progress(s: SparkSession, batches: Int)(body: => Unit)
      : Map[Long, StreamingQueryProgress] = {
    val seen = TrieMap.empty[Long, StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        seen(e.progress.batchId) = e.progress
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      body
      eventually(timeout(30.seconds)) { assert(seen.size >= batches) }
    } finally s.streams.removeListener(listener)
    seen.toMap
  }

  test("a four-file replay runs four triggers, one source file each") {
    val base = tmpDir("replay-files")
    val (seen, sink) = recorder()
    Replay(spark, base, ids(spark, 0, 40), "append", sink = Some(sink))(identity)
    assert(seen.keySet == Set(0L, 1L, 2L, 3L))
    val files = Files.list(Paths.get(s"$base/src")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.toString).collect().map(_.getLong(0)).toSet).toSet
    assert(files.size == 4)
    assert(seen.values.toSet == files)
    assert(seen.values.flatten.toSeq.sorted == (0L until 40L))
  }

  test("the ordered variant replays part i in batch i and the pusher last, without a sleep") {
    val base = tmpDir("replay-ordered")
    // part i holds i + 2 rows and the pusher one, so a batch's row count
    // names its part
    val parts = (0 until 4).map(i => ids(spark, i * 10L, i * 10L + i + 2)) :+ ids(spark, 999, 1000)
    var out = ""
    val batches = progress(spark, 5) { out = Replay.ordered(spark, base, parts)(identity) }
    assert((0L until 5L).map(b => batches(b).numInputRows) == Seq(2L, 3L, 4L, 5L, 1L))
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq ==
      parts.flatMap(_.collect().map(_.getLong(0))).sorted)
    // the order comes from the files' set modification times, one second
    // apart, not from when each file happened to be written
    val src = new Path(s"$base/src")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes = (0 until 5).map(i => fs.getFileStatus(new Path(src, s"part_$i.parquet"))
      .getModificationTime)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => b - a == 1000L }, mtimes)
  }

  test("the stream runs under the replay conf and the caller's conf is unchanged") {
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.shuffle.partitions") != Replay.Conf._2,
      "the caller must run at a width other than the replay conf's")
    val before = s.conf.getAll
    var out = ""
    val batches = progress(s, 4) {
      out = Replay(s, tmpDir("replay-conf"), ids(s, 0, 40), "complete")(
        _.groupBy((col("id") % 3).as("g")).count())
    }
    assert(s.read.parquet(out).count() == 3)
    val widths = batches.values.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
    assert(widths == Set(Replay.Conf._2.toLong))
    assert(s.conf.getAll == before)
  }

  test("an update-mode replay needs a sink") {
    val e = intercept[IllegalArgumentException](
      Replay(spark, tmpDir("replay-update"), ids(spark, 0, 4), "update")(identity))
    assert(e.getMessage.contains("update"))
  }

  test("source guard: only Replay.scala starts a replay, and no query sleeps") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val harnessOnly = """maxFilesPerTrigger|Trigger\.AvailableNow|awaitTermination""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val harness = p.getFileName.toString == "Replay.scala"
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("Thread.sleep") ||
              (!harness && harnessOnly.findFirstIn(line).isDefined) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, s"replay through graft.queries.Replay instead:\n${hits.mkString("\n")}")
  }
}
