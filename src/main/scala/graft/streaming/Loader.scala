package graft.streaming

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
  * each batch writes to a `_batch=<id>` subdirectory of the table; a
  * replayed batchId rewrites that partition with the same rows, and a batch
  * already folded by [[compactBatches]] no-ops at the feed's frontier.
  * Readers see the table as plain partitioned Parquet.
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
        writeBatchIdempotent(df, tableDir, batchId)
      }
      .start()
  }

  /** Idempotent-by-batchId append: retrying a failed/replayed micro-batch
    * overwrites its own partition only, so rows are never duplicated. This
    * is the `foreachBatch` pattern from SURVEY §2.1 (exactly-once fix).
    *
    * The rows land through [[BatchPartitionWriter]]: each write task stages
    * one parquet file in a hidden `.batch-<id>-<uuid>` dir, and the driver's
    * commit renames each staged file into a fresh `_batch=<id>` (replacing
    * the old one) and deletes the staging dir. There is no `_SUCCESS` file,
    * and a committer set through `spark.sql.sources.commitProtocolClass` is
    * not used on this path. An empty batch lands no file, so an empty feed
    * stays file-less ([[readTableIfAny]]).
    *
    * Replay has one rule, the same for every `_batch` table
    * ([[BucketedStore.appendBatch]] too). A replayed batch REWRITES its own
    * `_batch=<id>` partition: sound because batch content is deterministic,
    * and a sink that derives the batch's rows from other tables reads them
    * through the strictly-earlier snapshot
    * ([[BucketedStore.strictlyBefore]]), so a replay recomputes exactly the
    * original partition. A batch already FOLDED by [[compactBatches]] (a
    * real id at/below the feed's frontier) is a no-op instead: its rows
    * live inside a consolidated partition that a partition rewrite cannot
    * replace, so a rewrite would duplicate, and the skip is what makes an
    * old-checkpoint restore converge. A DELIBERATE reprocess that must
    * change folded data therefore targets a fresh (or cleared) table dir:
    * reprocessing different rows into a compacted feed would land them
    * next to the fold, not replace it.
    *
    * `df` MUST derive from the SOURCE (as it does inside foreachBatch) —
    * never from the target table: the commit deletes the very files a
    * target-derived scan of the batch's partition would be reading.
    */
  def writeBatchIdempotent(
      df: org.apache.spark.sql.DataFrame, tableDir: String, batchId: Long): Unit = {
    val spark = df.sparkSession
    BatchLog.recover(spark, feed(tableDir))
    // a replay of a folded batch must not re-append its rows next to the
    // folded copy: the frontier guard
    if (!BatchLog.replayed(spark, tableDir, BatchLog.FeedMarkers, batchId)) {
      // `_src_batch` survives feed compaction; not lit(batchId): an inlined
      // literal compiles new classes per trigger
      BatchPartitionWriter.write(
        df.withColumn("_src_batch", graft.functions.LongParam.column(batchId)),
        tableDir, batchId)
    }
  }

  /** The former four-argument shape; the fourth argument is ignored.
    * Kept only because the benchmark harness (`perfbench/scala/Harness.scala`)
    * calls this shape; delete it together with that call.
    */
  @deprecated("replay needs no marker dir; call writeBatchIdempotent(df, tableDir, batchId)", "0.1.0")
  def writeBatchIdempotent(df: org.apache.spark.sql.DataFrame, tableDir: String,
      batchId: Long, ignoredDir: String): Unit =
    writeBatchIdempotent(df, tableDir, batchId)

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
  def readTable(spark: SparkSession, tableDir: String): org.apache.spark.sql.DataFrame =
    BatchLog.view(spark.read.parquet(tableDir),
      BatchLog.pending(spark, tableDir, BatchLog.FeedMarkers))
      .drop("_batch").drop("_src_batch")

  /** [[readTable]], tolerating a feed that never materialized — a sink
    * whose every batch was empty writes no files at all (a parquet write
    * of zero rows creates nothing), and a bare read would fail schema
    * inference. None ⇔ no data yet; the caller owns the empty-frame shape.
    */
  def readTableIfAny(spark: SparkSession,
      tableDir: String): Option[org.apache.spark.sql.DataFrame] =
    if (BatchLog.hasParquet(BatchLog.fs(spark, tableDir), tableDir))
      Some(readTable(spark, tableDir))
    else None

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
    * Crash-safe and single-writer by [[BatchLog.fold]], the protocol the
    * index stores use too: READERS only view a pending fold through its
    * markers ([[readTable]]), and every WRITER entry
    * ([[writeBatchIdempotent]]/[[compactBatches]]) rolls an interrupted one
    * back or forward first. `upTo` bounds the fold to real batch ids ≤ upTo
    * (maintenance sinks pass their just-committed batch id; MaxValue folds
    * the whole feed).
    *
    * Replay contract: a batch replayed AFTER its partition was folded
    * no-ops at the feed's frontier (FeedCompactionSpec pins it).
    * `_src_batch` rides through the fold so by-revision reads stay
    * addressable.
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
        identity): Unit =
    BatchLog.fold(spark, feed(tableDir, rewrite), upTo)

  /** The feed's half of [[BatchLog]]: plain parquet in, `rewrite(rows)` as
    * plain parquet out, no catalog to resync.
    */
  private def feed(tableDir: String,
      rewrite: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): BatchLog.Layout = new BatchLog.Layout {
    val dir = tableDir
    val markers = BatchLog.FeedMarkers
    // one partition is already as folded as a feed gets
    def worthFolding(foldIds: Seq[Long]): Boolean = foldIds.size > 1
    def source[T](spark: SparkSession)(body: org.apache.spark.sql.DataFrame => T): T =
      body(spark.read.parquet(tableDir))
    def write(rows: org.apache.spark.sql.DataFrame, scratch: String): Unit =
      rewrite(rows).write.mode("overwrite").parquet(scratch)
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
