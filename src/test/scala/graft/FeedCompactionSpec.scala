package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Loader

/** Pins the `_batch`-collapse prune for the writeBatchIdempotent FEEDS
  * (hit/flag tables, per-batch delta rows) — the read-side file-count
  * growth term next to the index stores' own BucketedStore.compact:
  * content-preserving, frontier-respecting, crash-recovered on next read.
  */
class FeedCompactionSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def rows(dir: String) =
    Loader.readTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def batch(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(i => (i, i * 10)).toDF("k", "v")
  }

  private def partitions(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
      .map(_.getName)

  private def parquetFiles(dir: String): Int =
    graft.streaming.BucketedStore.parquetFiles(spark, dir).size

  test("compaction folds the append history into one partition, content identical") {
    val dir = tmp("feed-compact")
    for (b <- 0L until 6L) Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    val before = rows(dir)
    val filesBefore = parquetFiles(dir)
    assert(partitions(dir).size == 6)
    Loader.compactBatches(spark, dir)
    assert(partitions(dir) == Seq("_batch=-1"), "one consolidated partition expected")
    assert(rows(dir) == before, "compaction must not change the feed's content")
    val filesAfter = parquetFiles(dir)
    info(s"feed files: $filesBefore -> $filesAfter")
    assert(filesAfter < filesBefore,
      "compaction must fold the per-batch file pile into data-proportional files")
    // a second compaction on an already-folded feed is a no-op
    Loader.compactBatches(spark, dir)
    assert(rows(dir) == before)
  }

  test("a marker-guarded replay AFTER compaction stays skipped (no duplicates)") {
    val dir = tmp("feed-replay")
    for (b <- 0L until 3L) Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    val before = rows(dir)
    Loader.compactBatches(spark, dir)
    // at-least-once replay of batch 1: the fold advanced the feed's
    // frontier over it, so the write skips
    Loader.writeBatchIdempotent(batch(10, 20), dir, 1L)
    assert(rows(dir) == before, "replay across a compaction duplicated feed rows")
    assert(Loader.readTable(spark, dir).count() == 30L)
  }

  test("a MARKER-LESS replay after compaction is skipped at the feed frontier") {
    val dir = tmp("feed-frontier")
    for (b <- 0L until 3L)
      Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    val before = rows(dir)
    Loader.compactBatches(spark, dir)
    // an old checkpoint is restored and batch 1 replays — the round-11
    // contract called this unsupported. The frontier marker (permanent,
    // lives with the table) skips it: the batch's rows already ride in the
    // consolidation, which a partition rewrite cannot replace.
    Loader.writeBatchIdempotent(batch(10, 20), dir, 1L)
    assert(rows(dir) == before,
      "marker-less replay across a compaction duplicated feed rows")
    // batches ABOVE the frontier still write normally
    Loader.writeBatchIdempotent(batch(30, 40), dir, 3L)
    assert(rows(dir).size == 40)
  }

  test("BOUNDED feed fold (upTo) leaves a crash-partial later batch replayable") {
    val dir = tmp("feed-bounded")
    for (b <- 0L until 2L)
      Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    // a pre-restore run wrote batch 4 halfway (3 of 10 rows), then an OLD
    // checkpoint was restored
    Loader.writeBatchIdempotent(batch(40, 43), dir, 4L)
    // mid-replay maintenance bounded at the just-committed batch 1: the
    // partial partition is neither folded nor frontier-covered (an
    // unbounded fold would make its replay a silent no-op — the partial
    // rows permanent, the missing rows lost)
    Loader.compactBatches(spark, dir, upTo = 1L)
    assert(partitions(dir).toSet == Set("_batch=-1", "_batch=4"),
      "bounded fold must consolidate only batches at/below the bound")
    // the replay, above the frontier, REWRITES the partial partition whole
    Loader.writeBatchIdempotent(batch(40, 50), dir, 4L)
    val want = ((0L until 20L) ++ (40L until 50L)).map(i => (i, i * 10)).toSet
    assert(rows(dir) == want,
      "replay after the bounded feed fold did not restore the full batch")
    // the next maintenance window folds the replayed batch too
    Loader.compactBatches(spark, dir, upTo = 4L)
    assert(partitions(dir).size == 1)
    assert(rows(dir) == want)
  }

  test("the feed root holds only `_batch=` dirs after 50 batches; an unfolded replay changes nothing") {
    val dir = tmp("feed-flat")
    for (b <- 0L until 50L) Loader.writeBatchIdempotent(batch(b * 2, b * 2 + 2), dir, b)
    // every partition listing, `hasParquet` and reader walks the root, so
    // nothing per batch may pile up next to the partitions
    val root = new java.io.File(dir).list().toSeq.sorted
    assert(root == (0 until 50).map(b => s"_batch=$b").sorted,
      s"feed root holds more than its partitions: ${root.filterNot(_.startsWith("_batch=")).take(6)}")
    val before = rows(dir)
    assert(before.size == 100)
    // an unfolded batch replays with the same rows: it rewrites its own
    // partition, so the table reads as before
    Loader.writeBatchIdempotent(batch(20, 22), dir, 10L)
    assert(rows(dir) == before && Loader.readTable(spark, dir).count() == 100L)
  }

  test("the revision partition stays addressable after a feed compaction (_src_batch)") {
    val dir = tmp("feed-rev")
    for (b <- 0L until 3L)
      Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    Loader.compactBatches(spark, dir)
    // the backfill pattern reads one published revision's rows back by id;
    // after the fold the partition is gone but `_src_batch` carries the id
    val df = spark.read.parquet(dir)
    val rev1 = df.filter(graft.streaming.BucketedStore.srcBatchCol(df) === 1L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rev1 == (10L until 20L).toSet,
      "revision read lost its rows to the feed compaction")
  }

  test("crash before the commit marker rolls BACK: the consolidation never happened") {
    val dir = tmp("feed-rollback")
    for (b <- 0L until 3L) Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    val before = rows(dir)
    // simulate: consolidated partition published, intent written, CRASH
    // before the commit marker
    batch(0, 30).write.mode("overwrite").parquet(s"$dir/_staged")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // move staged files into a _batch=-1 partition dir (what the rename does)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_batch=-1"))
    new java.io.File(s"$dir/_staged").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.fs.Path(s"$dir/_batch=-1/${f.getName}")))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staged"), true)
    val os = fs.create(new org.apache.hadoop.fs.Path(dir, "_feed_compact_intent"), true)
    os.write("-1".getBytes("UTF-8")); os.close()
    // a READ views through the intent marker (orphan excluded) WITHOUT
    // mutating; the next WRITER operation rolls the orphan back
    assert(rows(dir) == before, "rollback view must match the pre-compaction content")
    assert(partitions(dir).contains("_batch=-1"), "read must not mutate recovery state")
    Loader.writeBatchIdempotent(batch(100, 110), dir, 9L)
    assert(!partitions(dir).contains("_batch=-1"))
    assert(rows(dir) == before ++ (100L until 110L).map(i => (i, i * 10)).toSet)
  }

  test("a crashed write's staging files never read as data; the next write deletes them") {
    val dir = tmp("feed-stale-staging")
    // a crash mid-write leaves parquet in a hidden staging dir of an
    // otherwise empty feed: Spark's listing skips it, so must the feed
    batch(0, 5).write.parquet(s"$dir/.batch-0-crashed")
    assert(Loader.readTableIfAny(spark, dir).isEmpty,
      "staging files read as data: the feed has no visible file to infer a schema from")
    Loader.writeBatchIdempotent(batch(0, 10), dir, 0L)
    assert(!new java.io.File(s"$dir/.batch-0-crashed").exists, "the stale staging dir survived")
    assert(rows(dir) == (0L until 10L).map(i => (i, i * 10)).toSet)
  }

  test("crash after the commit marker rolls FORWARD: source partitions finish dying") {
    val dir = tmp("feed-rollfwd")
    for (b <- 0L until 3L) Loader.writeBatchIdempotent(batch(b * 10, b * 10 + 10), dir, b)
    val before = rows(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a complete consolidated partition + commit marker, CRASH before the
    // source-partition deletes
    batch(0, 30).write.mode("overwrite").parquet(s"$dir/_staged")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_batch=-1"))
    new java.io.File(s"$dir/_staged").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.fs.Path(s"$dir/_batch=-1/${f.getName}")))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staged"), true)
    val os = fs.create(new org.apache.hadoop.fs.Path(dir, "_feed_compact_commit"), true)
    os.write("-1".getBytes("UTF-8")); os.close()
    // a READ views through the commit marker (consolidation authoritative,
    // stale sources invisible, no dupes) WITHOUT mutating; the next WRITER
    // operation finishes the source deletes
    assert(rows(dir) == before)
    assert(Loader.readTable(spark, dir).count() == 30L)
    assert(partitions(dir).size > 1, "read must not mutate recovery state")
    Loader.writeBatchIdempotent(batch(100, 110), dir, 9L)
    assert(partitions(dir).toSet == Set("_batch=-1", "_batch=9"))
    assert(Loader.readTable(spark, dir).count() == 40L)
  }
}
