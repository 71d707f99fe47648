package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.streaming.BucketedStore.StoreSpec

/** The `_batch`-partitioned tables ONE maintained index writes, declared
  * once: its bucketed [[BucketedStore]]s and its
  * `Loader.writeBatchIdempotent` feeds. Each maintained index (LSH, BM25,
  * dup-span, IVF, IVF-PQ) lists its tables in one `tables(...)` function,
  * a sketch feed is `IndexTables(feeds = Seq(dir))`, and the fold and the
  * in-sink compaction policy read that one list; IndexTablesSpec checks
  * that every table an ingest writes is on it.
  *
  * A store's width may be 0: the session-derived width of the bucket-width
  * law ([[BucketedStore.resolveWidth]]), resolved when the fold runs; an
  * existing dir's stamped width wins either way.
  */
final case class IndexTables(stores: Seq[StoreSpec] = Nil, feeds: Seq[String] = Nil) {

  /** Folds every table's partitions with real id ≤ `upTo` ([[BatchLog.fold]]:
    * crash-safe, single-writer, content-preserving). MaxValue folds
    * everything — offline maintenance, run by the owner between batches.
    */
  def compact(spark: SparkSession, upTo: Long = Long.MaxValue): Unit = {
    stores.foreach(s => BucketedStore.compact(spark,
      s.copy(buckets = BucketedStore.resolveWidth(spark, s.buckets)), upTo))
    feeds.foreach(Loader.compactBatches(spark, _, upTo))
  }

  /** The `foreachBatch` sink: `ingest`, then after every `compactEvery`-th
    * batch (0 = never) a fold of every table, INSIDE the sink —
    * foreachBatch serializes batches, so the single-writer contract holds
    * with no external scheduler and files-per-probe stays bounded for the
    * life of the stream. The fold is bounded at the just-committed id: a
    * crash-partial LATER partition (an old-checkpoint restore mid-replay)
    * stays replayable. A replayed batch re-running the fold changes nothing.
    */
  def sink(compactEvery: Int)(ingest: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, id) => {
      ingest(batch, id)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) compact(batch.sparkSession, upTo = id)
    }
}

object IndexTables {

  /** First-arrival-wins ids: the STRICTLY-EARLIER snapshot of an id
    * sidecar (its bucket columns), by original batch id
    * ([[BucketedStore.strictlyBefore]]), so a replay anti-joins against
    * exactly what the first run saw: never its own half-written rows, nor
    * a later batch's. Empty, shaped like `batch`'s ids, before the sidecar
    * exists.
    */
  def priorIds(batch: DataFrame, ids: StoreSpec, batchId: Long): DataFrame = {
    val key = ids.bucketCols.map(col)
    BucketedStore.read(batch.sparkSession, ids) match {
      case Some(st) => BucketedStore.strictlyBefore(st, batchId).select(key: _*)
      case None => batch.select(key: _*).limit(0)
    }
  }

  /** Materializes the batch's `shared` frame once, then runs the table
    * writes built from it as concurrent driver jobs ([[Concurrently]]).
    * Each write is an independently replay-idempotent partition rewrite,
    * so replay converges from any crash point between them.
    */
  def write(shared: DataFrame)(writes: DataFrame => Seq[() => Unit]): Unit = {
    val cached = shared.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      Concurrently(cached.sparkSession)(writes(cached))
    } finally cached.unpersist()
  }
}
