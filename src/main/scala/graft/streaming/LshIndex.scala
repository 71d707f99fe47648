package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{bandKeys, minhashLaneHashes, shingles3Distinct, sigMatchCount}
import graft.queries.{DedupQueries, Protocol}

/** STREAMING MinHash-LSH near-duplicate index — the incremental twin of the
  * batch `SharedStages.minhashSigs`/`lshPairs` stages, closing the gap
  * `Stateful.curateStream` documents ("the near-dup stage intentionally
  * stays batch-side"): here it doesn't. Each micro-batch of documents is
  * signed, banded, probed against everything seen so far, and appended to a
  * persistent signature store — so near-dup PAIRS stream out with bounded
  * per-batch cost instead of waiting for a periodic corpus compaction.
  *
  * Semantics (the q236 gate pins this against the batch oracle): a pair
  * (a, b) with a < b is emitted exactly once, by the micro-batch that
  * completes it — batch×batch if both arrive together, batch×store if the
  * later one arrives after the earlier was indexed. The union over all
  * batches therefore equals the BATCH `lshPairs` output bit-for-bit (same
  * md5-derived lanes, same 4×4 banding, same est ≥ threshold filter).
  *
  * Failure model: foreachBatch is at-least-once, so EVERY write of the
  * batch is independently idempotent — pairs go through
  * `Loader.writeBatchIdempotent`, and the signature store and its id
  * sidecar are [[BucketedStore]]s; each per-batch write REWRITES the
  * batch's own `_batch` partition. Both per-batch reads take the
  * STRICTLY-EARLIER snapshot by ORIGINAL batch id
  * ([[BucketedStore.strictlyBefore]] — `_src_batch` survives compaction),
  * so a replayed batch sees exactly what the original run saw no matter
  * where the crash fell — after the pair write, between the two store
  * writes (the crash window the round-9 bare `mode("append")` layout had,
  * where a replay re-appended already-stored banded rows), before
  * anything committed, or with LATER batches already stored (an
  * old-checkpoint restore): every partition rewrites to its original
  * content. A replay ACROSS a maintenance compaction (old checkpoint
  * restored after the fold) no-ops at the store/feed frontiers —
  * LshIndexSpec pins both.
  *
  * 100 TB shape: candidate generation is the banded equi-join — never
  * all-pairs — and per-batch cost is the batch's own signing plus one probe
  * of the matching band buckets. The signature store is a BUCKETED table
  * on the probe join's keys (band_idx, band), so the store side of every
  * batch's probe join plans with ZERO exchange: the store's corpus-sized
  * banded rows never cross the network again after their one bucketed
  * write; only the batch side (batch-sized) shuffles, to the bucket count.
  * LshIndexSpec pins this as a growth law: per-batch shuffle records stay
  * flat as the store accumulates (the pre-bucketing shape re-shuffled the
  * WHOLE store every micro-batch — per-batch cost grew linearly with
  * corpus history, the classic streaming-index scale killer). The
  * remaining per-batch store cost — file opens growing with append
  * history — is pruned by folding the index's [[tables]] (bucket-preserving
  * rewrite, LshIndexSpec pins files-per-probe bounded after it). The bucketed
  * layout SURVIVES restarts: a new session re-registers the table from the
  * store's own metadata instead of degrading to a plain re-shuffling read.
  */
object LshIndex {

  import DedupQueries.{BANDS, K, ROWS}

  /** Bucket count a fresh store is created at when the caller passes none:
    * the session-derived width of [[BucketedStore.sessionWidth]] — the
    * round-10 bucket-width law, applied to the flagship store too (its
    * previous hardcoded 8 was the exact fixed-geometry trap the q255/q258
    * sf100 runs measured at 45×/14.8× per decade). Width only matters at
    * CREATION: an existing dir's `_store_buckets` marker is authoritative
    * on every open, so changing the session setting never corrupts a store.
    * The gate harness runs its streaming queries under 8 shuffle
    * partitions, so gate stores still build at 8.
    */
  def defaultBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    BucketedStore.sessionWidth(spark)

  /** (doc_id, sig: array<bigint>) 16-lane MinHash signatures for an
    * arbitrary (doc_id, text) frame — the DataFrame-in form of
    * `SharedStages.minhashSigs` (which is dir-keyed and materialized; a
    * micro-batch is neither). Lane hashes are per shingle occurrence so the
    * min aggregates partially map-side.
    */
  def signatures(docs: DataFrame): DataFrame = {
    val laned = docs
      .select(col("doc_id"), explode(shingles3Distinct(col("text"))).as("sh"))
      .select(col("doc_id") +: minhashLaneHashes(col("sh"), K): _*)
    val comps = (1 to K).map(j => min(col(s"h$j")).as(s"m$j"))
    laned.groupBy(col("doc_id"))
      .agg(comps.head, comps.tail: _*)
      .select(col("doc_id"), array((1 to K).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** (doc_id, sig, band_idx, band): one row per LSH band. */
  def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(bandKeys(col("sig"), BANDS, ROWS)).as(Seq("band_idx", "band")))

  /** Near-dup pairs between two banded sides: equi-join on (band_idx, band),
    * id-ordered (id_a < id_b), signature-agreement estimate ≥ `threshold`.
    * Self-pairs drop; a pair colliding in several bands (or found by both a
    * batch×batch and a batch×store probe of a replayed batch) dedups on the
    * ordered id pair. est_jaccard is symmetric, so the sig column order
    * never matters.
    */
  def pairsBetween(probe: DataFrame, index: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val a = probe.select(col("band_idx"), col("band"),
      col("doc_id").as("id_p"), col("sig").as("sig_p"))
    val b = index.select(col("band_idx"), col("band"),
      col("doc_id").as("id_i"), col("sig").as("sig_i"))
    a.join(b, Seq("band_idx", "band"))
      .filter(col("id_p") =!= col("id_i"))
      .select(
        least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"),
        Protocol.out6(Protocol.dec(sigMatchCount(col("sig_p"), col("sig_i"), K)) / K)
          .as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("est_jaccard") >= threshold)
  }

  /** StoreSpec of the banded signature store for a dir. */
  private def storeSpec(storeDir: String, width: Int) =
    BucketedStore.StoreSpec(storeDir, Seq("band_idx", "band"), width)

  /** StoreSpec of the doc_id sidecar for a dir. */
  private def idsSpec(storeDir: String, width: Int) =
    BucketedStore.StoreSpec(idsDir(storeDir), Seq("doc_id"), width)

  /** The index's tables: the banded store, its doc_id sidecar and the pair
    * feed. `tables(...).sink(n)(nearDupSink(...))` folds them every n
    * batches; `tables(...).compact(spark)` is the owner's offline fold.
    */
  def tables(storeDir: String, pairsDir: String, buckets: Int = 0): IndexTables =
    IndexTables(Seq(storeSpec(storeDir, buckets), idsSpec(storeDir, buckets)), Seq(pairsDir))

  /** One micro-batch against the index: emit every pair this batch
    * completes into `pairsDir`, then append the batch's signatures to
    * `storeDir`. Idempotent on replay (see object doc). `buckets` sizes a
    * store that does not exist yet (0 = the session-derived width of the
    * bucket-width law); an existing dir's stamped width always wins.
    */
  def processBatch(batch: DataFrame, storeDir: String, pairsDir: String,
      batchId: Long, threshold: Double = 0.5, buckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val width = BucketedStore.resolveWidth(spark, buckets)
    val bbanAll = banded(signatures(batch.select("doc_id", "text")))
    val storeBan = storeOrEmpty(spark, storeDir, bbanAll, Some(batchId), width)
    // Re-arrivals (a doc_id already in the store arriving again in a LATER
    // batch, not just a replay) are no-ops BY CONSTRUCTION: the probe side
    // is anti-joined against the stored doc_ids before any pair is
    // generated, so the stored signature stays authoritative and the
    // emitted pairs can never disagree with the store about which
    // signature a doc_id carries. First arrival wins; a changed text for
    // an existing doc_id is discarded (insert-only index contract).
    // The id set is its own SIDECAR table bucketed BY doc_id: anti-joining
    // against the banded store (bucketed on the band keys) would re-shuffle
    // store-sized doc_id rows every batch — the growth term LshIndexSpec's
    // flat-work law caught when this was a distinct() over the main store.
    // Both snapshots are STRICTLY EARLIER than the batch, so a replay
    // anti-joins against the state the first run saw, never its own
    // half-written rows or a later batch's.
    val bban = bbanAll
      .join(storedIds(spark, storeDir, storeBan, batchId, width), Seq("doc_id"), "left_anti")
    // materialized once; probed up to twice below
    IndexTables.write(bban) { bban =>
      val pairs = pairsBetween(bban, bban, threshold)
        .unionByName(pairsBetween(bban, storeBan, threshold))
        .dropDuplicates("id_a", "id_b")
      // The store keeps BANDED rows (doc_id, sig, band_idx, band), one per
      // (doc, band): 4× the rows of a one-row-per-doc layout, bought back
      // many times over because the probe join's store side never shuffles
      // again. Each append REWRITES the batch's own `_batch` partition
      // (BucketedStore), so the store write and the sidecar write are each
      // independently replay-idempotent — no cross-write crash window;
      // that same independence lets the pairs publish and both appends
      // overlap as concurrent driver jobs (guide §2.6). The pairs job
      // scans the strictly-earlier store snapshot, so the store append
      // landing its partition mid-overlap is invisible to it.
      val fresh = bban.dropDuplicates("doc_id", "band_idx")
        .select(col("doc_id"), col("sig"), col("band_idx"), col("band"))
      Seq(
        () => Loader.writeBatchIdempotent(pairs, pairsDir, batchId),
        () => BucketedStore.appendBatch(fresh, storeSpec(storeDir, width), batchId),
        // id sidecar (batch-sized write): keeps the NEXT batch's re-arrival
        // anti-join exchange-free on the store side
        () => BucketedStore.appendBatch(
          bban.select(col("doc_id")).dropDuplicates("doc_id"),
          idsSpec(storeDir, width), batchId))
    }
  }

  private def idsDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "_ids"

  /** The stored doc_id set for the re-arrival anti-join (strictly-earlier
    * snapshot) — the bucketed id sidecar when present; derived from the
    * banded rows otherwise (one store-sized pass, only ever on a
    * legacy/foreign store dir).
    */
  private def storedIds(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, storeBan: DataFrame, batchId: Long, width: Int): DataFrame =
    BucketedStore.read(spark, idsSpec(storeDir, width)) match {
      case Some(ids) =>
        BucketedStore.strictlyBefore(ids, batchId).select(col("doc_id"))
      case None =>
        val p = new org.apache.hadoop.fs.Path(idsDir(storeDir))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
          spark.read.parquet(idsDir(storeDir)).select(col("doc_id"))
        else storeBan.select(col("doc_id")).dropDuplicates("doc_id")
    }

  /** Catalog name of the bucketed store table for a given dir — kept as a
    * public alias of [[BucketedStore.tableName]] (derived from the path so
    * concurrent harnesses with distinct scratch dirs never collide).
    */
  def storeTable(storeDir: String): String = BucketedStore.tableName(storeDir)

  /** The banded store's snapshot strictly before batch `before` (None: the
    * whole store — a static index, or the backfill's corpus): the
    * registered bucketed table when available (re-registered on the fly
    * after a restart — the exchange-free layout survives sessions). A
    * FIRST-GENERATION layout (one plain-parquet row per doc, no band
    * columns) is MIGRATED in place on first open — re-banded and rewritten
    * into the bucketed layout, id sidecar included — because appending the
    * current layout next to legacy files would leave an unreadable mixed
    * dir, and serving the probe from an un-banded plain read would
    * re-shuffle the store every batch (the growth term this store exists
    * to kill). A foreign dir that is already banded but not
    * bucket-claimable stays a read-only plain fallback.
    */
  private def storeOrEmpty(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, like: DataFrame, before: Option[Long], width: Int): DataFrame =
    BucketedStore.read(spark, storeSpec(storeDir, width)) match {
      case Some(df) => before.fold(df)(BucketedStore.strictlyBefore(df, _))
        .select(col("doc_id"), col("sig"), col("band_idx"), col("band"))
      case None =>
        val p = new org.apache.hadoop.fs.Path(storeDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val legacyQ = new org.apache.hadoop.fs.Path(storeDir.stripSuffix("/") + "_legacy")
        val topFiles = if (fs.exists(p))
          fs.listStatus(p).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
        else Array.empty[String]
        val resuming = fs.exists(legacyQ) &&
          fs.listStatus(legacyQ).exists(_.getPath.getName.endsWith(".parquet"))
        if (topFiles.isEmpty && !resuming) like.limit(0)
        else if (topFiles.nonEmpty && {
          val raw = spark.read.parquet(topFiles.toIndexedSeq: _*)
          raw.columns.contains("band_idx") && raw.columns.contains("band")
        }) // foreign pre-banded dir: serve read-only, claim nothing
          spark.read.parquet(topFiles.toIndexedSeq: _*)
            .select(col("doc_id"), col("sig"), col("band_idx"), col("band"))
        else {
          migrateLegacyStore(spark, storeDir, fs, topFiles, legacyQ, width)
          storeOrEmpty(spark, storeDir, like, before, width)
        }
    }

  /** One-time upgrade of a first-generation store dir (one plain row per
    * doc, no band columns). Three idempotent phases, re-entered from any
    * crash point by the next open:
    *   1. QUARANTINE: move the legacy files into the sibling
    *      `<store>_legacy` dir (out of the dir the table is about to own;
    *      per-file renames, re-runnable);
    *   2. REWRITE: band the quarantined signatures into the bucketed
    *      layout at a DETERMINISTIC base partition (a partition rewrite —
    *      replaying it overwrites, never duplicates) and build the id
    *      sidecar the same way;
    *   3. RETIRE: drop the quarantine dir — only after the banded copy and
    *      the sidecar are both fully written.
    */
  private def migrateLegacyStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, fs: org.apache.hadoop.fs.FileSystem,
      topFiles: Array[String], legacyQ: org.apache.hadoop.fs.Path,
      width: Int): Unit = {
    fs.mkdirs(legacyQ)
    topFiles.foreach { f =>
      val src = new org.apache.hadoop.fs.Path(f)
      fs.rename(src, new org.apache.hadoop.fs.Path(legacyQ, src.getName))
    }
    val legacy = spark.read.parquet(legacyQ.toString)
    val bandedRows = banded(legacy.select(col("doc_id"), col("sig")))
      .select(col("doc_id"), col("sig"), col("band_idx"), col("band"))
    BucketedStore.appendBatch(bandedRows, storeSpec(storeDir, width), -1L)
    BucketedStore.appendBatch(legacy.select(col("doc_id")).dropDuplicates("doc_id"),
      idsSpec(storeDir, width), -1L)
    fs.delete(legacyQ, true)
  }

  /** `foreachBatch` sink closing over the three dirs — plug straight into
    * `docs.writeStream.foreachBatch(LshIndex.nearDupSink(...))`, or through
    * [[tables]]`.sink(n)` to fold the index every n batches.
    */
  def nearDupSink(storeDir: String, pairsDir: String,
      threshold: Double = 0.5, buckets: Int = 0): (DataFrame, Long) => Unit =
    (batch, id) => processBatch(batch, storeDir, pairsDir, id, threshold, buckets)

  /** Build a STATIC banded signature index over a bounded document set —
    * the same bucketed layout the streaming store uses, for PROBE-ONLY
    * consumers (q253's benchmark set): every later probe join reads the
    * index exchange-free, and the index is written exactly once.
    */
  def buildStaticIndex(docs: DataFrame, dir: String, buckets: Int = 0): Unit =
    BucketedStore.overwrite(
      banded(signatures(docs.select("doc_id", "text"))),
      storeSpec(dir, BucketedStore.resolveWidth(docs.sparkSession, buckets)))

  /** STREAMING DECONTAMINATION sink: probe each micro-batch of corpus
    * documents against a static benchmark index ([[buildStaticIndex]]) and
    * emit (doc_id, bench_id, est_jaccard ≥ threshold) hits idempotently —
    * the ingest-time twin of the batch decontamination operator
    * (operators/Decontaminate, q61): a contaminated document is flagged
    * the moment it arrives instead of at the next corpus sweep.
    *
    * Orientation is preserved (probe doc → benchmark doc), unlike
    * [[pairsBetween]]'s id-normalized pairs: the consumer drops/quarantines
    * the CORPUS side, never the benchmark. Stateless per batch — no store
    * append, and the whole static index is read — so a replay recomputes
    * the same hits and rewrites its own `_batch` partition.
    *
    * 100 TB shape: per-batch cost is the batch's signing + one probe join
    * whose index side never shuffles (bucketed on the join keys); the
    * benchmark index is built once per benchmark revision.
    */
  def decontaminateSink(indexDir: String, hitsDir: String,
      threshold: Double = 0.5, buckets: Int = 0)
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val bban = banded(signatures(batch.select("doc_id", "text")))
    // static index (probe-only): no batch snapshot, the whole index
    val idx = storeOrEmpty(spark, indexDir, bban, None,
      BucketedStore.resolveWidth(spark, buckets))
    Loader.writeBatchIdempotent(
      decontaminationHits(bban, idx, threshold), hitsDir, batchId)
  }

  /** Orientation-preserving (corpus doc → benchmark doc) hits between two
    * banded sides — the probe join [[decontaminateSink]] and
    * [[backfillDecontaminate]] share.
    */
  private def decontaminationHits(corpusBan: DataFrame, idx: DataFrame,
      threshold: Double): DataFrame =
    corpusBan
      .select(col("band_idx"), col("band"),
        col("doc_id").as("did"), col("sig").as("sig_p"))
      .join(idx.select(col("band_idx"), col("band"),
        col("doc_id").as("bid"), col("sig").as("sig_i")), Seq("band_idx", "band"))
      .filter(col("did") =!= col("bid"))
      .select(col("did").as("doc_id"), col("bid").as("bench_id"),
        Protocol.out6(Protocol.dec(sigMatchCount(col("sig_p"), col("sig_i"), K)) / K)
          .as("est_jaccard"))
      .dropDuplicates("doc_id", "bench_id")
      .filter(col("est_jaccard") >= threshold)

  /** BENCHMARK-REVISION BACKFILL — the complement [[decontaminateSink]]
    * leaves open: documents ingested BEFORE a benchmark update were only
    * probed against the old index, so a revision would silently leave
    * history unchecked. One idempotent operator composes the three steps:
    *
    *   1. REBUILD the static index from the new benchmark revision
    *      ([[buildStaticIndex]] — a full overwrite, re-runnable);
    *   2. RE-PROBE the entire ingested history. The corpus is probed as its
    *      BANDED SIGNATURE STORE (the table [[processBatch]] maintains),
    *      not as raw text: nothing re-signs, and since BOTH sides of the
    *      probe join are bucketed on (band_idx, band), the join plans with
    *      ZERO exchange on either side — at 100 TB the backfill shuffles
    *      hits, never the corpus;
    *   3. PUBLISH the full hit set under the new revision as the hits
    *      table's `_batch=<revisionId>` partition
    *      (`Loader.writeBatchIdempotent`): a replay rewrites the same
    *      partition with the hit set of the store as it then is, and the
    *      LATEST revision partition is always a complete, authoritative
    *      answer — consumers never merge across revisions.
    *
    * Returns the published hits. `hitsDir` may be the ingest sink's dir
    * (revisions and ingest batches share the `_batch` partition space —
    * pass a revisionId from a disjoint range, e.g. negatives; negative ids
    * sit OUTSIDE the feed's compaction frontier, so a republish stays
    * possible after maintenance compactions) or a dedicated backfill dir;
    * the latter keeps "flagged at ingest" and "flagged by revision N"
    * separately queryable — and is the right choice when the dir is ever
    * compacted, because folding conflates revision partitions. Revisions
    * published BEFORE the `_src_batch` upgrade lose their per-row ids to
    * the fold (legacy rows adopt the consolidation id); recovery is to
    * re-run this operator — it rebuilds the full hit set from the
    * signature store, so republishing under the revision id (into a fresh
    * dir if the old one was compacted) restores addressability.
    */
  def backfillDecontaminate(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, bench: DataFrame, indexDir: String, hitsDir: String,
      revisionId: Long, threshold: Double = 0.5, buckets: Int = 0): DataFrame = {
    val width = BucketedStore.resolveWidth(spark, buckets)
    buildStaticIndex(bench, indexDir, width)
    val corpusBan = storeOrEmpty(spark, storeDir,
      banded(signatures(bench.select("doc_id", "text"))).limit(0), None, width)
    val idx = storeOrEmpty(spark, indexDir, corpusBan, None, width)
    Loader.writeBatchIdempotent(
      decontaminationHits(corpusBan, idx, threshold), hitsDir, revisionId)
    val hits = spark.read.parquet(hitsDir)
    // by ORIGINAL batch id, so the revision's hits stay addressable after a
    // feed compaction folds its partition into a consolidation
    hits.filter(BucketedStore.srcBatchCol(hits) === revisionId)
      .drop("_batch").drop("_src_batch")
  }
}
