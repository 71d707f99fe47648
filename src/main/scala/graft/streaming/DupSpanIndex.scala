package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DupSpans

/** STREAMING duplicated-span detection at ingest — the maintained-index
  * twin of batch q262/q263 (`operators.DupSpans`), joining the LSH
  * signature store, the IVF vector store and the BM25 inverted index as
  * the fourth accumulated-state operator on the [[BucketedStore]]
  * discipline: as each micro-batch of documents arrives, every W-gram
  * occurrence that repeats ANYTHING already ingested (an earlier batch, or
  * an earlier position inside this batch) is flagged immediately, and the
  * flagged positions coalesce into maximal duplicated spans.
  *
  * Semantics — the keep-first rule under ARRIVAL order: an occurrence is
  * flagged iff it is not the globally first occurrence of its gram in
  * (batch, doc_id, pos) order. This is exactly q263's scrub rule with the
  * batch as the major sort key, which is what makes the stream
  * oracle-checkable: given the deterministic batching the declared query
  * uses (doc_id mod 4, ingested in order), DuckDB can replay the whole
  * prefix semantics with one MIN per gram over an encoded
  * (batch, doc_id, pos) BIGINT.
  *
  * Layout:
  *   - GRAM STORE `<dir>` (gh, doc_id, pos), bucketed by `gh`: per-batch
  *     probes join it on `gh` with ZERO store-side exchange, and the
  *     history-side distinct collapses inside the bucketed layout. Flat
  *     per-batch work in store history — DupSpanIndexSpec pins it.
  *   - HITS `<hitsDir>` (doc_id, pos) via `Loader.writeBatchIdempotent`
  *     (`_batch` partition rewrite), so an at-least-once replay REWRITES
  *     the batch's flags instead of duplicating them.
  *
  * Every write is a partition rewrite keyed by batchId and every read
  * takes the STRICTLY-EARLIER snapshot by ORIGINAL batch id
  * ([[BucketedStore.strictlyBefore]] — `_src_batch` survives compaction,
  * so a replay of an earlier batch sees only its true prefix, never
  * future-batch grams, even after the partitions were folded), and a
  * replay of an already-FOLDED batch no-ops at the store/feed frontier —
  * so replay from any crash point, including across a maintenance
  * compaction, converges: the [[BucketedStore]] failure model.
  */
object DupSpanIndex {

  private def gramsSpec(dir: String, buckets: Int) =
    BucketedStore.StoreSpec(dir, Seq("gh"), buckets)

  /** The index's tables: the gram store and the flag feed.
    * `tables(dir, hitsDir).sink(n)(ingestBatch ...)` folds them every n
    * batches.
    */
  def tables(dir: String, hitsDir: String, buckets: Int = 0): IndexTables =
    IndexTables(Seq(gramsSpec(dir, buckets)), Seq(hitsDir))

  /** Ingest one micro-batch of (doc_id, text): flag the non-first gram
    * occurrences against history + this batch, append the batch's grams to
    * the store, write the flags. Idempotent per batchId.
    */
  def ingestBatch(batch: DataFrame, dir: String, hitsDir: String,
      batchId: Long, width: Int = 8, buckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val nb = BucketedStore.resolveWidth(spark, buckets)
    val g = DupSpans.grams(batch, width).withColumn("okey", DupSpans.orderKey)
    // materialized once; probed, aggregated and appended below
    IndexTables.write(g) { g =>
      // history = every gram hash seen in a STRICTLY earlier batch, by
      // ORIGINAL batch id (BucketedStore.strictlyBefore reads `_src_batch`
      // through consolidations): a replay of an earlier batch sees only
      // its true prefix — never future-batch grams — even AFTER a
      // maintenance compaction folded the partitions (round 12; the
      // cross-compaction replay itself then no-ops at the store/feed
      // frontier, DupSpanIndexSpec pins both ends). The distinct collapses
      // bucket-locally (store is bucketed on gh) and the probe join is
      // exchange-free on the store side.
      val hist = BucketedStore.read(spark, gramsSpec(dir, nb)) match {
        case Some(st) => BucketedStore.strictlyBefore(st, batchId)
          .select(col("gh")).distinct().withColumn("in_hist", lit(true))
        case None => g.select(col("gh")).limit(0).withColumn("in_hist", lit(true))
      }
      // within-batch first occurrence per gram (batch-sized aggregate)
      val bmin = g.groupBy(col("gh")).agg(min(col("okey")).as("bmin"))
      val flagged = g
        .join(bmin, "gh")
        .join(hist, Seq("gh"), "left_outer")
        .where(col("in_hist").isNotNull || col("okey") =!= col("bmin"))
        .select(col("doc_id"), col("pos"))
      // the flags publish and the gram-store append are independently
      // replay-idempotent — overlap them as concurrent driver jobs
      // (guide §2.6). Safe against the same-table race because the flags
      // job's history read PRUNES the batch's own partition
      // (strictlyBefore's `_batch < batchId` partition conjunct), so the
      // concurrent rewrite of that partition is invisible to it.
      Seq(
        () => Loader.writeBatchIdempotent(flagged, hitsDir, batchId),
        () => BucketedStore.appendBatch(
          g.select(col("gh"), col("doc_id"), col("pos")),
          gramsSpec(dir, nb), batchId))
    }
  }

  /** The maximal ingest-time duplicated spans accumulated so far: the
    * flagged positions, islands-coalesced per document (the same
    * `DupSpans.coalesceSpans` the batch operator uses).
    */
  def spans(spark: SparkSession, hitsDir: String, width: Int = 8): DataFrame =
    DupSpans.coalesceSpans(Loader.readTable(spark, hitsDir), width)

  /** The CLEANED corpus under ingest-order scrubbing (q267): rebuild every
    * affected document without the tokens its flagged gram occurrences
    * cover — the same shared rewrite stage as batch q266, driven by the
    * arrival-order flags instead of the global keep-first set.
    */
  def scrubbedText(spark: SparkSession, docs: DataFrame, hitsDir: String,
      width: Int = 8): DataFrame =
    DupSpans.rebuildWithout(docs, Loader.readTable(spark, hitsDir), width)
}
