package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Tables

/** The reference's load path (R10-R12) on Structured Streaming:
  *
  *  - R10 event-driven trigger → checkpointed streaming file source over the
  *    staging prefix with a `*.tsv` glob (`start_all_pipeline.py:445-451`);
  *  - R11 bulk load → `foreachBatch` append into a Parquet table
  *    (`lambda_function.py:26`'s LOAD DATA, set-oriented);
  *  - R12 archive-after-load → `cleanSource=archive`, which moves consumed
  *    files to `sourceArchiveDir` — the copy+delete pair of
  *    `lambda_function.py:38-48` done by the framework after commit. Note
  *    Spark's cleaner runs at the START of the next micro-batch, so a file
  *    is archived one batch after it is loaded (observed empirically); the
  *    guarantee is the same post-commit one the reference has, with a lag.
  *
  * Exactly-once upgrade (the reference double-loads on S3 event redelivery):
  * each batch writes to a `_batch=<id>` subdirectory of the table and drops a
  * commit marker; a replayed batchId sees its marker and skips. Readers see
  * the table as plain partitioned Parquet.
  */
object Loader {

  def start(spark: SparkSession, stagingDir: String, tableDir: String,
      archiveDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {

    val src = spark.readStream
      .schema(Tables.btcusdtTsvSchema)
      .option("sep", "\t")
      .option("header", "false")
      .option("pathGlobFilter", "*.tsv")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .csv(stagingDir)
      .withColumn("maker", col("maker") === 1) // TSV 0/1 -> table boolean

    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        writeBatchIdempotent(df, tableDir, batchId, s"$checkpointDir/graft_commits")
      }
      .start()
  }

  /** Idempotent-by-batchId append: retrying a failed/replayed micro-batch
    * overwrites its own partition only, so rows are never duplicated. This
    * is the `foreachBatch` pattern from SURVEY §2.1 (exactly-once fix).
    *
    * Commit markers live under `markersDir`, which `start` ties to the
    * CHECKPOINT — not the table — so resetting the checkpoint (a routine
    * reprocess) also resets the markers: replayed batchIds then re-run and
    * dynamically overwrite their own `_batch=` partitions instead of being
    * silently skipped against a stale marker. ONE carve-out since the
    * round-12 frontier: batches already FOLDED by [[compactBatches]]
    * (real ids at/below `_feed_frontier`) stay skipped even after a
    * marker reset — their rows live inside a consolidated partition that
    * a partition overwrite cannot replace, so a rewrite would duplicate,
    * and the skip is what makes an old-checkpoint restore converge. A
    * DELIBERATE reprocess that must change folded data therefore targets
    * a fresh (or cleared) table dir — which was already true before the
    * frontier existed: reprocessing different rows into a compacted feed
    * would land them next to the fold, not replace it.
    *
    * `df` MUST derive from the SOURCE (as it does inside foreachBatch) —
    * never from the target table: the dynamic overwrite deletes the very
    * files a target-derived scan would be reading.
    */
  def writeBatchIdempotent(
      df: org.apache.spark.sql.DataFrame, tableDir: String, batchId: Long,
      markersDir: String = null): Unit = {
    val spark = df.sparkSession
    val mdir = if (markersDir == null) tableDir else markersDir
    val marker = new Path(mdir, s"_committed_$batchId")
    // markers may live on a different filesystem than the table (checkpoint
    // on HDFS, table on S3) — resolve the FS from the marker path itself
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverFeedCompaction(spark, tableDir)
    // a REAL (≥ 0) batch at or below the feed's compaction frontier is
    // already inside a consolidated partition — a MARKER-LESS replay of it
    // (an old checkpoint restored after maintenance compaction, which
    // resets the checkpoint-tied markers) must not re-append its rows next
    // to the folded copy. Same no-op contract and scope as
    // BucketedStore.appendBatch: negative ids (backfill revisions, rebuild
    // bases) are deliberate publish channels and stay writable.
    val tfs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded = batchId >= 0 &&
      readFeedMarker(tfs, tableDir, FeedFrontier).exists(batchId <= _)
    if (folded && !fs.exists(marker))
      // correct for a marker-less replay of a folded batch; loud because a
      // FIRST-TIME batch here (checkpoint reset against a compacted feed)
      // would be silently dropped — see BucketedStore.appendBatch
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"writeBatchIdempotent($tableDir, batch=$batchId): no-op — id at/" +
          "below the feed's compaction frontier; if this is a first-time " +
          "batch its rows were dropped — reprocess into a fresh feed dir.")
    if (!fs.exists(marker) && !folded) {
      // one projection, one analyzer pass over the micro-batch plan;
      // `_src_batch` survives feed compaction. Dynamic overwrite of the
      // batch's partition, not a direct write to `_batch=<id>`: the direct
      // write lands a schema-only file for an EMPTY batch, and an empty
      // feed must stay file-less (readTableIfAny)
      // not lit(batchId): an inlined literal compiles new classes per trigger
      val id = graft.functions.LongParam.column(batchId)
      df.withColumns(ListMap("_src_batch" -> id, "_batch" -> id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(tableDir)
      fs.create(marker, true).close()
    }
  }

  /** Read the loaded table back (hides the `_batch` bookkeeping column).
    * Reads are NON-MUTATING: a compaction that is pending (in-flight in
    * the owning process, or crashed) is handled by VIEW — commit marker
    * present ⇒ the consolidated partition is authoritative (sources are
    * semantically dead, read only `_batch=c`); intent without commit ⇒
    * the consolidation never happened (exclude `_batch=c`). Physical
    * roll-back/forward happens at the next WRITER operation
    * (writeBatchIdempotent / compactBatches), so a reader in another
    * process can never destroy an in-flight compaction's work.
    */
  def readTable(spark: SparkSession, tableDir: String): org.apache.spark.sql.DataFrame = {
    val df = spark.read.parquet(tableDir)
    val viewed = pendingFeedCompaction(spark, tableDir) match {
      case Some((c, true)) =>
        // a BOUNDED fold leaves real partitions above the bound unfolded —
        // keep them visible next to the consolidation (upTo = MaxValue for
        // unbounded folds degenerates to `=== c`)
        val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val upTo = readFeedMarker(fs, tableDir, FeedUpTo).getOrElse(Long.MaxValue)
        df.filter(col("_batch") === c || col("_batch") > upTo)
      case Some((c, false)) => df.filter(col("_batch") =!= c)
      case None => df
    }
    viewed.drop("_batch").drop("_src_batch")
  }

  /** [[readTable]], tolerating a feed that never materialized — a sink
    * whose every batch was empty writes no files at all (a parquet write
    * of zero rows creates nothing), and a bare read would fail schema
    * inference. None ⇔ no data yet; the caller owns the empty-frame shape.
    */
  def readTableIfAny(spark: SparkSession,
      tableDir: String): Option[org.apache.spark.sql.DataFrame] = {
    val p = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val any = fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (any) Some(readTable(spark, tableDir)) else None
  }

  /** Non-mutating marker view of a pending feed compaction:
    * Some((target partition, committed?)); None when no compaction is
    * pending.
    */
  private def pendingFeedCompaction(spark: SparkSession,
      tableDir: String): Option[(Long, Boolean)] = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(tableDir))) None
    else readFeedMarker(fs, tableDir, FeedCommit).map((_, true))
      .orElse(readFeedMarker(fs, tableDir, FeedIntent).map((_, false)))
  }

  private val FeedIntent = "_feed_compact_intent"
  private val FeedCommit = "_feed_compact_commit"
  private val FeedUpTo = "_feed_compact_upto"
  private val FeedFrontier = "_feed_frontier"

  // marker/partition plumbing shared with the index stores — ONE
  // implementation (BucketedStore's), so the crash-window ordering rules
  // live in one place
  private def feedPartitionIds(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] = BucketedStore.partitionIds(fs, dir)

  private def writeFeedMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String, c: Long): Unit = BucketedStore.writeMarker(fs, dir, name, c)

  private def readFeedMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String): Option[Long] = BucketedStore.readMarker(fs, dir, name)

  /** Collapse a `writeBatchIdempotent` table's one-partition-per-batch
    * append history into a single consolidated `_batch=-N` partition — the
    * read-side prune for the FEEDS next to the index stores' own
    * `BucketedStore.compact`: hit/flag tables (LSH pairs, dup-span flags,
    * decontamination hits) and per-batch delta feeds (the BM25 stats rows)
    * all grow FILE COUNT linearly with batch count even though each file
    * is tiny, and every read folds all of them. After compaction the file
    * count is proportional to the DATA (the scan's split bin-packing),
    * not the history.
    *
    * Crash-safe with the same intent/commit discipline as
    * `BucketedStore.compact`: consolidated rows are staged in a scratch
    * dir, published by ONE atomic rename, and the commit marker is the
    * linearization point — [[recoverFeedCompaction]] (run on every WRITER
    * entry: [[writeBatchIdempotent]]/[[compactBatches]]) rolls an
    * interrupted run back (no commit ⇒ the consolidation never happened)
    * or forward (commit ⇒ finish the source-partition deletes), while
    * READERS only view through the markers ([[readTable]]) and never
    * mutate. Single writer: run from the feed's owning sink between
    * batches.
    *
    * Replay contract: a batch replayed AFTER its partition was folded into
    * a consolidation is skipped twice over — by its commit marker when it
    * survives (markers are untouched here), and since round 12 by the
    * `_feed_frontier` marker even when the markers were reset with a
    * restored checkpoint: the frontier records the highest real batch id
    * ever folded, and [[writeBatchIdempotent]] no-ops at or below it
    * (FeedCompactionSpec pins the marker-less case). `_src_batch` rides
    * through the fold so by-revision reads stay addressable.
    *
    * `rewrite` lets the caller re-LAYOUT the consolidation while it is
    * being staged (e.g. a global Z-order re-sort restoring locality that
    * per-batch ingest decayed — OPTIMIZE ZORDER's shape, ZOrder.compactZ).
    * It must be content-preserving: the row-count audit holds it to that,
    * and it sees `_src_batch` (which must survive verbatim).
    */
  def compactBatches(spark: SparkSession, tableDir: String,
      upTo: Long = Long.MaxValue,
      rewrite: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): Unit = {
    recoverFeedCompaction(spark, tableDir)
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = feedPartitionIds(fs, tableDir)
    // `upTo` bounds the fold to real batch ids ≤ upTo (negative revision/
    // base partitions always fold) — maintenance sinks pass their
    // just-committed batch id so a crash-partial LATER partition (an
    // old-checkpoint restore mid-replay) is never swallowed into the
    // consolidation with the frontier advanced over it; its eventual
    // replay still rewrites it. MaxValue = legacy whole-feed fold.
    val foldIds = ids.filter(id => id < 0 || id <= upTo)
    if (foldIds.size <= 1) return // nothing to fold
    val c = math.min(0L, ids.min) - 1L
    // advance the replay frontier before anything moves (whichever way a
    // crash falls, the folded batches' rows stay present — roll-back leaves
    // the sources untouched, roll-forward keeps the consolidation), so a
    // marker-less replay ≤ frontier is safely skipped by
    // [[writeBatchIdempotent]]. Permanent state, like the store's own.
    // Only ids inside the fold bound advance it.
    foldIds.filter(_ >= 0).maxOption.foreach { maxReal =>
      writeFeedMarker(fs, tableDir, FeedFrontier, math.max(maxReal,
        readFeedMarker(fs, tableDir, FeedFrontier).getOrElse(Long.MinValue)))
    }
    val scratch = tableDir.stripSuffix("/") + "_compacting"
    fs.delete(new Path(scratch), true)
    // `_src_batch` (each row's original batch id) rides through as a data
    // column so revision/prefix reads survive the fold; legacy rows
    // materialize it from their partition id
    val raw = spark.read.parquet(tableDir)
      .filter(col("_batch") < 0 || col("_batch") <= upTo) // the fold bound
    val src = (
      if (raw.columns.contains("_src_batch"))
        raw.withColumn("_src_batch",
          org.apache.spark.sql.functions.coalesce(col("_src_batch"), col("_batch")))
      else raw.withColumn("_src_batch", col("_batch"))
    ).drop("_batch")
    val expect = src.count()
    rewrite(src).write.mode("overwrite").parquet(scratch)
    val got = spark.read.parquet(scratch).count()
    require(got == expect, s"feed compaction audit failed: $expect rows in, $got out")
    writeFeedMarker(fs, tableDir, FeedIntent, c)
    writeFeedMarker(fs, tableDir, FeedUpTo, upTo)
    require(fs.rename(new Path(scratch), new Path(tableDir, s"_batch=$c")),
      s"feed compaction publish rename failed: $scratch -> $tableDir/_batch=$c")
    writeFeedMarker(fs, tableDir, FeedCommit, c)
    finishFeedCompaction(fs, tableDir, c)
  }

  private def finishFeedCompaction(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String, c: Long): Unit = {
    // delete exactly the FOLDED sources: the persisted bound keeps real
    // partitions above it — unfolded, possibly awaiting replay — alive
    val upTo = readFeedMarker(fs, tableDir, FeedUpTo).getOrElse(Long.MaxValue)
    feedPartitionIds(fs, tableDir).filter(id => id != c && (id < 0 || id <= upTo))
      .foreach(id => fs.delete(new Path(tableDir, s"_batch=$id"), true))
    // INTENT must die BEFORE COMMIT: a crash between the two deletes then
    // leaves commit-only, which recovery rolls FORWARD (idempotent). The
    // reverse order leaves intent-only with the sources already gone —
    // recovery would "roll back" by deleting the consolidated partition,
    // i.e. the feed's only remaining copy.
    fs.delete(new Path(tableDir, FeedIntent), false)
    fs.delete(new Path(tableDir, FeedCommit), false)
    // last: a stale upTo with neither marker is inert (readers only
    // consult it while a compaction is pending)
    fs.delete(new Path(tableDir, FeedUpTo), false)
  }

  /** Feed-compaction crash recovery — no-op unless a [[compactBatches]]
    * died between its markers. Intent without commit rolls back (the
    * consolidated partition never became visible: delete it and the
    * scratch); commit rolls forward (finish the source deletes).
    */
  def recoverFeedCompaction(spark: SparkSession, tableDir: String): Unit = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(tableDir))) return
    readFeedMarker(fs, tableDir, FeedCommit) match {
      case Some(c) => finishFeedCompaction(fs, tableDir, c)
      case None => readFeedMarker(fs, tableDir, FeedIntent) match {
        case Some(c) =>
          fs.delete(new Path(tableDir, s"_batch=$c"), true)
          fs.delete(new Path(tableDir.stripSuffix("/") + "_compacting"), true)
          fs.delete(new Path(tableDir, FeedIntent), false)
          fs.delete(new Path(tableDir, FeedUpTo), false)
        case None => ()
      }
    }
  }

  /** Corrupt-tolerant read of the staging TSV contract (quote-free,
    * header-free — `main.py:61-67`): PERMISSIVE mode nulls the typed
    * columns of a malformed line and preserves the raw line in
    * `_corrupt_record`, so bad input quarantines instead of killing the
    * load (the reference's LOAD DATA would abort the whole file). Split on
    * `_corrupt_record IS NULL`: clean rows continue to the table, rejects
    * go to a quarantine sink with their original bytes intact.
    */
  def readTsvTolerant(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Tables.btcusdtTsvSchema.fields :+
        org.apache.spark.sql.types.StructField(
          "_corrupt_record", org.apache.spark.sql.types.StringType))
    spark.read
      .schema(schema)
      .option("sep", "\t")
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("pathGlobFilter", "*.tsv")
      .csv(dir)
  }
}
