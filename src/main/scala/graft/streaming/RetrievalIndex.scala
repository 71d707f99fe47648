package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.idiv
import graft.functions.TextFunctions.tokens

/** STREAMING INVERTED INDEX with BM25 ranked retrieval — the maintained-
  * index twin of the batch retrieval family (q134/q168), completing the
  * trilogy of incrementally-maintained stores next to the LSH signature
  * store ([[LshIndex]]) and the IVF vector store (`AnnIvf.*IndexStore`):
  * a corpus that arrives as micro-batches is searchable the moment each
  * batch lands, instead of waiting for a batch index rebuild.
  *
  * Layout (all [[BucketedStore]]s — the DEPLOY.md discipline):
  *   - POSTINGS  `<dir>`        (t, doc_id, c, dl), bucketed by `t`: the
  *     classic inverted list, one row per (document, distinct term), term
  *     count `c` and doc length `dl` denormalized onto the row exactly as
  *     the batch scorer's `tc` frame carries them;
  *   - ID SIDECAR `<dir>_ids`   (doc_id), bucketed by doc_id: first-
  *     arrival-wins re-arrival dedup with an exchange-free store side —
  *     the [[LshIndex.storedIds]] pattern;
  *   - CORPUS STATS `<dir>_stats`  one (n_docs, t_tokens) delta row per
  *     batch through `Loader.writeBatchIdempotent` (`_batch` partition
  *     rewrite — replay-idempotent like every other write here). Reading
  *     folds history-length rows: two BIGINTs per batch, never a corpus
  *     scan. (Deriving stats from the postings at query time would cost a
  *     full index scan per query — the stats feed is what keeps query
  *     cost proportional to the MATCHED postings only.)
  *
  * Idempotency: every per-batch write is a partition REWRITE keyed by
  * batchId, and per-batch reads take the pre-batch snapshot
  * (`_batch =!= batchId`), so an at-least-once replay converges from any
  * crash point — the [[BucketedStore]] failure model, no new reasoning.
  *
  * 100 TB shape: INGEST is batch-sized (tokenize + one (doc,term)
  * aggregate + bucketed appends — per-batch shuffle flat in corpus
  * history, pinned by RetrievalIndexSpec). QUERY reads only the buckets
  * of the matched terms (bucket pruning on the IN filter), computes df
  * with a window whose partitioning the bucketed scan ALREADY satisfies
  * (zero store-side exchange), folds the tiny stats feed, and scores with
  * the exact integer-micro BM25 shared with the batch path — so the
  * streamed index is BYTE-IDENTICAL to the batch q134 answer, which is
  * exactly what the q258 gate pins.
  */
object RetrievalIndex {

  private def postingsSpec(dir: String, buckets: Int) =
    BucketedStore.StoreSpec(dir, Seq("t"), buckets)

  private def idsSpec(dir: String, buckets: Int) =
    BucketedStore.StoreSpec(dir.stripSuffix("/") + "_ids", Seq("doc_id"), buckets)

  private def statsDir(dir: String): String = dir.stripSuffix("/") + "_stats"

  /** Ingest one micro-batch of (doc_id, text): postings + sidecar + stats,
    * each write independently replay-idempotent. First arrival wins — a
    * re-arriving doc_id (including a changed text) is discarded, keeping
    * the stored postings and the stats feed consistent forever.
    */
  def ingestBatch(batch: DataFrame, dir: String, batchId: Long,
      buckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val width = BucketedStore.resolveWidth(spark, buckets)
    val priorIds = BucketedStore.read(spark, idsSpec(dir, width)) match {
      case Some(ids) => BucketedStore.excludeBatch(ids, batchId).select(col("doc_id"))
      case None => batch.select(col("doc_id")).limit(0)
    }
    val fresh = batch.select(col("doc_id"), tokens(col("text")).as("tk"))
      .join(priorIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      fresh.count() // materialize once; read three times below
      val postings = fresh
        .select(col("doc_id"), col("dl"), explode(col("tk")).as("t"))
        .groupBy(col("t"), col("doc_id"), col("dl")).agg(count(lit(1)).as("c"))
      // three independently replay-idempotent writes — overlap them as
      // concurrent driver jobs (guide §2.6; none writes the session's conf)
      Concurrently(spark)(Seq(
        () => BucketedStore.appendBatch(postings, postingsSpec(dir, width), batchId),
        () => BucketedStore.appendBatch(
          fresh.select(col("doc_id")), idsSpec(dir, width), batchId),
        () => Loader.writeBatchIdempotent(
          fresh.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("t_tokens")),
          statsDir(dir), batchId)))
    } finally fresh.unpersist()
  }

  /** foreachBatch sink; `compactEvery = n` compacts postings + sidecar
    * after every n-th batch inside the serialized sink (the same policy
    * contract as [[LshIndex.nearDupSink]]).
    */
  def ingestSink(dir: String, buckets: Int = 0, compactEvery: Int = 0)
      : (DataFrame, Long) => Unit = (batch, id) => {
    ingestBatch(batch, dir, id, buckets)
    if (compactEvery > 0 && (id + 1) % compactEvery == 0)
      compact(batch.sparkSession, dir, buckets, upTo = id)
  }

  /** Bucket-preserving compaction of postings + sidecar, plus the
    * `_batch`-collapse prune of the stats FEED: the stats rows are two
    * BIGINTs per batch, but each batch is its own parquet FILE, so query
    * cost creeps back as open/seek overhead with history length — the same
    * read-side term the store compaction kills, closed with
    * `Loader.compactBatches` (crash-safe, recovery on next read).
    */
  def compact(spark: SparkSession, dir: String, buckets: Int = 0,
      upTo: Long = Long.MaxValue): Unit = {
    val width = BucketedStore.resolveWidth(spark, buckets)
    BucketedStore.compact(spark, postingsSpec(dir, width), upTo)
    BucketedStore.compact(spark, idsSpec(dir, width), upTo)
    Loader.compactBatches(spark, statsDir(dir), upTo)
  }

  /** EXACT integer-micro BM25 (k1=1.2, b=0.75) from a postings frame
    * (doc_id, dl, t, c) and a 1-row stats frame (n_docs, t_tokens) — the
    * single scoring implementation shared by the batch q134 path and the
    * maintained index, so "streamed == batch" is equality of inputs, not
    * of two formula transcriptions. See q134's derivation comment for the
    * rational rearrangement; df is an unordered window over the postings
    * (never a join-back).
    */
  def bm25FromPostings(tc: DataFrame, stats: DataFrame): DataFrame = {
    val withDf = tc.withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
    withDf.crossJoin(broadcast(stats))
      .withColumn("idf2",
        idiv((lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)) * lit(1000000L),
          lit(2L) * col("df") + lit(1L)))
      .withColumn("tfpart",
        idiv(lit(22L) * col("c") * col("t_tokens") * lit(1000000L),
          lit(10L) * col("c") * col("t_tokens") + lit(3L) * col("t_tokens")
            + lit(9L) * col("dl") * col("n_docs")))
      .groupBy(col("doc_id"))
      .agg(sum(idiv(col("idf2") * col("tfpart"), lit(1000000L))).as("score_micro"))
  }

  /** Top-k BM25 over the maintained index for a fixed term set: postings
    * scan bucket-pruned to the matched terms, df window exchange-free on
    * the bucketed layout, stats folded from the per-batch feed.
    */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      buckets: Int = 0): DataFrame = {
    val posts = BucketedStore.read(spark,
        postingsSpec(dir, BucketedStore.resolveWidth(spark, buckets)))
      .getOrElse(sys.error(s"no retrieval index at $dir"))
      .filter(col("t").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("t"), col("c"))
    val stats = Loader.readTable(spark, statsDir(dir))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_tokens")).as("t_tokens"))
    bm25FromPostings(posts, stats)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }
}
