package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{spark, tmpDir}

/** The crash-point matrix of [[BatchLog.fold]]: both layouts (an index
  * store, a feed) × every step boundary of the fold. Each case crashes the
  * fold right after its step and then checks that
  *   1. a read still returns the pre-fold rows (the non-mutating view);
  *   2. the next writer call recovers to pre-fold + new rows, with the
  *      fold either wholly undone (crash before commit) or wholly done
  *      (after), no `<dir>_compacting` and no compaction marker left;
  *   3. a replay of a folded batch is a no-op.
  */
class BatchLogSpec extends AnyFunSuite {

  private final class Crash(step: String) extends RuntimeException(s"crash after $step")

  /** One layout, driven through its public entry points. */
  private abstract class Side(val name: String, val markers: BatchLog.Markers) {
    def append(dir: String, rows: DataFrame, batchId: Long): Unit
    def compact(dir: String, upTo: Long): Unit
    def rows(dir: String): Set[(Long, Long)]
  }

  private val store = new Side("store", BatchLog.StoreMarkers) {
    private def spec(dir: String) = BucketedStore.StoreSpec(dir, Seq("k"), 4)
    def append(dir: String, rows: DataFrame, batchId: Long): Unit =
      BucketedStore.appendBatch(rows, spec(dir), batchId)
    def compact(dir: String, upTo: Long): Unit = BucketedStore.compact(spark, spec(dir), upTo)
    def rows(dir: String): Set[(Long, Long)] =
      BucketedStore.read(spark, spec(dir)).get.select("k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private val feed = new Side("feed", BatchLog.FeedMarkers) {
    def append(dir: String, rows: DataFrame, batchId: Long): Unit =
      Loader.writeBatchIdempotent(rows, dir, batchId)
    def compact(dir: String, upTo: Long): Unit = Loader.compactBatches(spark, dir, upTo)
    def rows(dir: String): Set[(Long, Long)] =
      Loader.readTable(spark, dir).select("k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def batch(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i, i * 10)).toDF("k", "v")
  }

  private def expected(from: Long, until: Long) = (from until until).map(i => (i, i * 10)).toSet

  private def partitions(dir: String): Set[Long] =
    new File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
      .map(_.getName.stripPrefix("_batch=").toLong).toSet

  /** Runs `body` with the fold crashing right after `step` on `dir`, once. */
  private def crashingAfter(dir: String, step: String)(body: => Unit): Unit = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    BatchLog.fault = (d, s) =>
      if (d == dir && s == step && armed.getAndSet(false)) throw new Crash(step)
    try body finally BatchLog.fault = (_, _) => ()
  }

  private val committedFrom = BatchLog.Steps.indexOf("commit")

  for (side <- Seq(store, feed); (step, i) <- BatchLog.Steps.zipWithIndex) {
    test(s"${side.name}: a crash after '$step' reads, recovers and replays as before the fold") {
      val dir = tmpDir(s"batchlog-${side.name}-$step")
      // batches 0..3; the fold is bounded at 2, so batch 3 stays unfolded
      for (b <- 0L until 4L) side.append(dir, batch(b * 10, b * 10 + 10), b)
      val pre = side.rows(dir)
      assert(pre == expected(0, 40))
      crashingAfter(dir, step) {
        intercept[Crash](side.compact(dir, upTo = 2L))
      }

      assert(side.rows(dir) == pre, s"a read after the crash after '$step' changed the rows")

      side.append(dir, batch(100, 110), 9L)
      val want = pre ++ expected(100, 110)
      assert(side.rows(dir) == want, s"the writer after the crash after '$step' lost or duplicated rows")
      val folded = i >= committedFrom
      assert(partitions(dir) == (if (folded) Set(-1L, 3L, 9L) else Set(0L, 1L, 2L, 3L, 9L)),
        s"recovery after '$step' left ${partitions(dir)}")
      assert(!new File(dir + "_compacting").exists, s"scratch dir left after '$step'")
      val left = Seq(side.markers.intent, side.markers.commit, side.markers.upTo)
        .filter(m => new File(dir, m).exists)
      assert(left.isEmpty, s"compaction markers left after '$step': $left")

      side.append(dir, batch(10, 20), 1L) // the replay an old checkpoint's restore runs
      assert(side.rows(dir) == want, s"a replay of folded batch 1 after '$step' wrote rows")
      // the fold still completes from the recovered state
      side.compact(dir, upTo = 9L)
      assert(partitions(dir).size == 1 && side.rows(dir) == want)
    }
  }

  test("source guard: only BatchLog.scala names a compaction marker or the scratch dir") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val banned = """_compact_|_compacting|_(store|feed)_frontier""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "BatchLog.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, s"fold through graft.streaming.BatchLog instead:\n${hits.mkString("\n")}")
  }

  /** The argument count of every call of `name` in `text` (not its defs). */
  private def callArities(text: String, name: String): Seq[Int] =
    s"(?<!def )\\b$name\\(".r.findAllMatchIn(text).map { m =>
      var (i, depth, args, quoted) = (m.end, 1, 1, false)
      while (depth > 0 && i < text.length) {
        text(i) match {
          case '"' => quoted = !quoted
          case '(' | '[' | '{' if !quoted => depth += 1
          case ')' | ']' | '}' if !quoted => depth -= 1
          case ',' if !quoted && depth == 1 => args += 1
          case _ =>
        }
        i += 1
      }
      args
    }.toSeq

  test("source guard: replay has no commit markers, no marker dir and no exclude-own-batch snapshot") {
    def sources(dir: String) = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val banned = """_committed_|markersDir|excludeBatch|graft_commits|commitMarkers""".r
    val hits = sources("src/main/scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"replay rests on the partition rewrite and the frontier:\n${hits.mkString("\n")}")
    // the four-argument loader write survives only for a caller outside src/
    val fourArg = sources("src").filter(p =>
      callArities(new String(Files.readAllBytes(p), "UTF-8"), "writeBatchIdempotent").contains(4))
    assert(fourArg.isEmpty, s"call the three-argument writeBatchIdempotent in: ${fourArg.mkString(", ")}")
    assert(callArities("""t.load(f(a, b), dir, g(1), "x,y"); def load(a, b)""", "load") == Seq(4))
  }
}
