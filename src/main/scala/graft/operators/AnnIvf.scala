package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions
import graft.queries.VectorQueries.groupedTopK
import graft.sources.BucketedTables

/** IVF (inverted-file) approximate nearest neighbour — the second scale path
  * from SURVEY §2.2 ("an IVF or LSH-bucketed variant") next to AnnLsh.
  *
  * Train: mini k-means over DataFrame ops only — assignment is an
  * explode(centroids)×candidates scored with the codegen'd dot product
  * (unit-normalized corpora ⇒ max-dot = nearest), the update step computes
  * per-dimension means in EXACT decimal so centroids are bit-deterministic
  * regardless of partitioning (a double sum would make training
  * order-dependent). Centroids are a k×dim model — driver-side by design,
  * like any trained model object; the data never leaves executors.
  *
  * Search: candidates live in exactly one centroid bucket (inverted list);
  * each query probes its `nprobe` nearest centroids; the join is equi on the
  * centroid id and exact cosine re-ranks inside the probed lists. At 100 TB:
  * one narrow scan to assign, shuffle keyed by (tiny) centroid id, no
  * all-pairs anywhere.
  */
object AnnIvf {

  /** Train k centroids for `iters` Lloyd iterations. Deterministic: init =
    * the k lowest-vec_id vectors, exact-decimal mean updates.
    */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int, dim: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = emb
      .orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(centroids.length == k,
      s"need $k init vectors, table has only ${centroids.length}")
    require(centroids.forall(_.length == dim),
      s"expected dim $dim, got dims ${centroids.map(_.length).distinct.mkString(",")}")

    for (_ <- 1 to iters) {
      val assigned = assign(emb, centroids)
      val means = assigned
        .select(col("cluster"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("v").cast(DecimalType(28, 14))).as("m")) // exact, order-free
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).doubleValue()
      }
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid id for each row's `e` column (max dot). */
  private def assign(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    emb.withColumn("cluster", nearest(col("e"), centroids, 1).getItem(0))

  /** Ids of the `n` nearest centroids to `e`, best first. */
  private def nearest(e: Column, centroids: Array[Array[Double]], n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.dot(e, typedlit(c.toSeq)).as("dot"), lit(i).as("id"))
    }: _*)
    // sort by dot desc (reverse of natural struct ordering), take n ids
    transform(slice(reverse(array_sort(scored)), 1, n), s => s.getField("id"))
  }

  /** IVF search: probe the `nprobe` nearest inverted lists per query, exact
    * cosine top-k within them.
    *
    * @param emb     (vec_id, e: array<double>)
    * @param queries (qid, qe: array<double>)
    */
  def topK(emb: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nprobe: Int = 2): DataFrame = {
    val cands = assign(emb, centroids)
    val qs = queries
      .withColumn("cluster", explode(nearest(col("qe"), centroids, nprobe)))
    val scored = cands.join(qs, "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", VectorFunctions.cosine(col("e"), col("qe")))
    groupedTopK(scored, "qid", k, Seq(col("cos").desc, col("vec_id")))
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
  }

  /** Materialize the inverted lists ONCE: the corpus assignment is written as
    * a managed parquet table bucketed by cluster id. Every subsequent query
    * batch skips re-assignment (the expensive centroid scoring over the full
    * corpus) and joins straight onto the stored lists.
    */
  def buildIndex(emb: DataFrame, centroids: Array[Array[Double]],
      table: String, buckets: Int = 0): Unit =
    BucketedTables.writeBucketed(assign(emb, centroids), table, "cluster",
      graft.streaming.BucketedStore.resolveWidth(emb.sparkSession, buckets))

  /** INCREMENTAL index maintenance: assign a batch of NEW vectors to their
    * centroids and APPEND into the existing bucketed index table (the
    * bucket spec must match buildIndex's — Spark validates it). Per-batch
    * cost is the batch's own assignment plus one bucketed write; the
    * resident corpus is never re-read, re-assigned, or re-shuffled, and the
    * index stays queryable throughout. Centroid drift is handled by a
    * periodic full `buildIndex` — the standard IVF split between cheap
    * append maintenance and occasional re-clustering.
    *
    * A bare append is NOT idempotent: re-appending a batch (an at-least-once
    * replay, an operator retry) duplicates its vec_ids, and duplicates
    * surface verbatim in topKIndexed results. `dedupVecIds = true` makes the
    * append idempotent via a left-anti join of the batch against the stored
    * vec_ids — per-batch cost is one scan of the index's id column (a few
    * bytes/row; at 100 TB an id-only column scan, not a corpus read) against
    * the batch's hash side. Keep it off only when the caller already
    * guarantees uniqueness (e.g. an upstream exactly-once source).
    *
    * The id scan also SHUFFLES the ids (the table is bucketed by cluster,
    * not vec_id, so the anti-join cannot reuse its layout) — a per-batch
    * O(index) term. This name-based managed-table API keeps it because the
    * main-table anti-join is its only replay guard; the STORE-based API
    * below ([[appendToIndexStore]]/[[maintainIndexStream]]) eliminates it:
    * a `_batch`-partitioned [[graft.streaming.BucketedStore]] makes every
    * write a per-batch partition REWRITE (replay converges structurally),
    * which is what finally makes an id-bucketed sidecar SAFE — the crash
    * window between the two writes that disqualified a sidecar here closes,
    * and the re-arrival anti-join becomes exchange-free on the store side.
    * AnnIvfStoreSpec pins the resulting growth law (per-batch shuffle flat
    * as the index doubles). Prefer the store API for streaming maintenance.
    */
  def appendToIndex(batch: DataFrame, centroids: Array[Array[Double]],
      table: String, buckets: Int = 0, dedupVecIds: Boolean = false): Unit = {
    val spark = batch.sparkSession
    // width is LAYOUT STATE: an existing table's own bucket spec is
    // authoritative (the catalog twin of the dir store's _store_buckets
    // marker) — appending at the session-derived width from a session with
    // different shuffle partitions would make Spark reject every batch
    // ("Specified bucketing does not match that of the existing table")
    val width =
      if (spark.catalog.tableExists(table))
        // parse, don't wrap: TableIdentifier("db.tbl") would look up an
        // UNQUALIFIED name containing a dot and throw NoSuchTableException
        spark.sessionState.catalog
          .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
          .bucketSpec.map(_.numBuckets)
          .getOrElse(graft.streaming.BucketedStore.resolveWidth(spark, buckets))
      else graft.streaming.BucketedStore.resolveWidth(spark, buckets)
    val assigned = assign(batch, centroids)
    val toWrite =
      if (dedupVecIds)
        assigned.join(spark.table(table).select("vec_id"),
          Seq("vec_id"), "left_anti")
      else assigned
    toWrite.write.mode("append").format("parquet")
      .bucketBy(width, "cluster")
      .saveAsTable(table)
  }

  /** Streaming twin of [[appendToIndex]]: maintain the index from an
    * unbounded stream of (vec_id, e). foreachBatch is AT-LEAST-ONCE — a
    * batch replayed after a failure re-runs its append — so the default
    * here guards the sink with `dedupVecIds = true`: a replayed batch's ids
    * anti-join away and the append becomes idempotent without a
    * transactional table format.
    */
  def maintainIndexStream(stream: DataFrame, centroids: Array[Array[Double]],
      table: String, checkpoint: String, buckets: Int = 0,
      dedupVecIds: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        appendToIndex(b, centroids, table, buckets, dedupVecIds)
      }
      .start()

  import graft.streaming.{BucketedStore, Concurrently}
  import graft.streaming.BucketedStore.StoreSpec

  /** StoreSpec of the dir-based inverted-list store (bucketed by cluster —
    * the search join's key).
    */
  private def storeSpec(dir: String, buckets: Int) =
    StoreSpec(dir, Seq("cluster"), buckets)

  /** StoreSpec of the vec_id sidecar (bucketed by vec_id — the re-arrival
    * anti-join's key).
    */
  private def idsSpec(dir: String, buckets: Int) =
    StoreSpec(dir.stripSuffix("/") + "_ids", Seq("vec_id"), buckets)

  /** Build the DIR-BASED index store once: inverted lists bucketed by
    * cluster + a vec_id-bucketed sidecar. Same layout the streaming
    * maintenance appends into, so "build base index, then stream the rest"
    * is one store.
    */
  def buildIndexStore(emb: DataFrame, centroids: Array[Array[Double]],
      dir: String, buckets: Int = 0): Unit = {
    val width = BucketedStore.resolveWidth(emb.sparkSession, buckets)
    val assigned = assign(emb, centroids)
    BucketedStore.overwrite(assigned, storeSpec(dir, width))
    BucketedStore.overwrite(assigned.select(col("vec_id")).dropDuplicates("vec_id"),
      idsSpec(dir, width))
  }

  /** INCREMENTAL maintenance of the dir-based store — the scale path that
    * closes [[appendToIndex]]'s per-batch O(index) dedup term. Per batch:
    * assign the new vectors (batch-sized), anti-join against the PRE-batch
    * sidecar (store side bucketed on vec_id ⇒ zero exchange; only the
    * batch's ids shuffle), then rewrite the batch's own `_batch` partition
    * in BOTH tables. Idempotency is structural: a replay overwrites its own
    * partitions with identical content no matter which of the two writes a
    * crash fell between, because the anti-join reads the PRE-batch snapshot
    * (`_batch =!= batchId`), never the batch's own half-committed rows.
    * First arrival wins across batches (insert-only contract, like the LSH
    * signature store). AnnIvfStoreSpec pins the flat-work law: per-batch
    * shuffle records stay flat as the accumulated index doubles.
    */
  def appendToIndexStore(batch: DataFrame, centroids: Array[Array[Double]],
      dir: String, batchId: Long, buckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val width = BucketedStore.resolveWidth(spark, buckets)
    val priorIds = BucketedStore.read(spark, idsSpec(dir, width)) match {
      case Some(ids) => BucketedStore.excludeBatch(ids, batchId).select(col("vec_id"))
      case None => batch.select(col("vec_id")).limit(0)
    }
    val fresh = assign(batch, centroids)
      .join(priorIds, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the shared batch frame ONCE, then overlap the two
      // order-independent table appends as concurrent driver jobs
      // (guide §2.6; appendBatch never writes the session's conf)
      fresh.count()
      Concurrently(spark)(Seq(
        () => BucketedStore.appendBatch(fresh, storeSpec(dir, width), batchId),
        () => BucketedStore.appendBatch(
          fresh.select(col("vec_id")).dropDuplicates("vec_id"),
          idsSpec(dir, width), batchId)))
    } finally fresh.unpersist()
  }

  /** foreachBatch maintenance of the dir-based store (at-least-once safe by
    * construction — see [[appendToIndexStore]]). `compactEvery = n` runs
    * [[compactIndexStore]] after every n-th batch inside the sink —
    * foreachBatch serializes batches, so the compaction's single-writer
    * contract holds with no external scheduler, and files-per-probe stays
    * bounded for the life of the stream.
    */
  def maintainIndexStore(stream: DataFrame, centroids: Array[Array[Double]],
      dir: String, checkpoint: String, buckets: Int = 0, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendToIndexStore(b, centroids, dir, id, buckets)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          compactIndexStore(b.sparkSession, dir, buckets, upTo = id)
      }
      .start()

  /** Bucket-preserving compaction of the dir-based store + sidecar (the
    * read-side file-count prune; see [[graft.streaming.BucketedStore.compact]]).
    * `upTo` bounds the fold to batches ≤ it — in-sink maintenance passes
    * the just-committed batch id so a crash-partial later partition (an
    * old-checkpoint restore mid-replay) can never be fossilized by the
    * fold's frontier advance.
    */
  def compactIndexStore(spark: SparkSession, dir: String, buckets: Int = 0,
      upTo: Long = Long.MaxValue): Unit = {
    val width = BucketedStore.resolveWidth(spark, buckets)
    BucketedStore.compact(spark, storeSpec(dir, width), upTo)
    BucketedStore.compact(spark, idsSpec(dir, width), upTo)
  }

  /** StoreSpec of the PQ-codes sidecar (bucketed by cluster like the main
    * store — the probed ADC search prunes on the same key).
    */
  private def codesSpec(dir: String, buckets: Int) =
    StoreSpec(dir.stripSuffix("/") + "_codes", Seq("cluster"), buckets)

  private def codesDir(dir: String): String = dir.stripSuffix("/") + "_codes"

  /** Build the IVF-PQ composition (the faiss shape): the inverted-list
    * store + id sidecar of [[buildIndexStore]] PLUS a PQ-codes sidecar —
    * (vec_id, cluster, c: array<int>) bucketed by cluster — so the probed
    * search can run ASYMMETRIC DISTANCE over m small ints per vector
    * instead of d doubles: q272's 16× index-I/O saving composed with
    * q255's probed-list prune. The raw-vector store stays next to the
    * codes for exact re-ranking. One corpus assignment feeds all three
    * tables (persisted once).
    */
  def buildIndexStorePq(emb: DataFrame, centroids: Array[Array[Double]],
      dir: String, buckets: Int = 0, m: Int = 8, dsub: Int = 8): Unit = {
    val width = BucketedStore.resolveWidth(emb.sparkSession, buckets)
    val assigned = assign(emb, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      BucketedStore.overwrite(assigned, storeSpec(dir, width))
      BucketedStore.overwrite(
        assigned.select(col("vec_id")).dropDuplicates("vec_id"),
        idsSpec(dir, width))
      BucketedStore.overwrite(
        assigned.select(col("vec_id"), col("cluster"),
          ProductQuantizer.codes(col("e"), m, dsub).as("c")),
        codesSpec(dir, width))
    } finally assigned.unpersist()
  }

  /** INCREMENTAL maintenance of the IVF-PQ store — [[appendToIndexStore]]
    * plus the codes sidecar: the batch's fresh vectors are PQ-coded at
    * ingest (one in-row projection — the vector twin of the tokenizer's
    * encode-at-ingest leg) and appended as the batch's own partition in
    * all three tables. Same idempotence story: each write is a partition
    * rewrite over the PRE-batch snapshot, so replay from any crash point
    * (including between the three writes) converges.
    */
  def appendToIndexStorePq(batch: DataFrame, centroids: Array[Array[Double]],
      dir: String, batchId: Long, buckets: Int = 0,
      m: Int = 8, dsub: Int = 8): Unit = {
    val spark = batch.sparkSession
    val width = BucketedStore.resolveWidth(spark, buckets)
    val priorIds = BucketedStore.read(spark, idsSpec(dir, width)) match {
      case Some(ids) => BucketedStore.excludeBatch(ids, batchId).select(col("vec_id"))
      case None => batch.select(col("vec_id")).limit(0)
    }
    val fresh = assign(batch, centroids)
      .join(priorIds, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the shared batch frame ONCE, then overlap the three
      // order-independent table appends (lists/ids/codes) as concurrent
      // driver jobs (guide §2.6) — replay converges from any crash point
      // between them exactly as it did when they ran back to back, and
      // appendBatch never writes the session's conf.
      fresh.count()
      Concurrently(spark)(Seq(
        () => BucketedStore.appendBatch(fresh, storeSpec(dir, width), batchId),
        () => BucketedStore.appendBatch(
          fresh.select(col("vec_id")).dropDuplicates("vec_id"),
          idsSpec(dir, width), batchId),
        () => BucketedStore.appendBatch(
          fresh.select(col("vec_id"), col("cluster"),
            ProductQuantizer.codes(col("e"), m, dsub).as("c")),
          codesSpec(dir, width), batchId)))
    } finally fresh.unpersist()
  }

  /** foreachBatch maintenance of the IVF-PQ store (the streaming leg of
    * the composition — vectors are coded the moment they arrive, so the
    * ADC-searchable index is always current). Same at-least-once safety
    * and compaction policy as [[maintainIndexStore]].
    */
  def maintainIndexStorePq(stream: DataFrame, centroids: Array[Array[Double]],
      dir: String, checkpoint: String, buckets: Int = 0, compactEvery: Int = 0,
      m: Int = 8, dsub: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendToIndexStorePq(b, centroids, dir, id, buckets, m, dsub)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          compactIndexStore(b.sparkSession, dir, buckets, upTo = id)
          BucketedStore.compact(b.sparkSession,
            codesSpec(dir, BucketedStore.resolveWidth(b.sparkSession, buckets)),
            upTo = id)
        }
      }
      .start()

  /** Probed ADC search — the read side of the IVF-PQ composition: the
    * probed-cluster IN filter is pushed onto a PLAIN-FILE read of the
    * CODES sidecar (the same prune law as [[topKIndexedStore]], for the
    * same measured reason — a catalog bucket-pruned scan serializes into
    * one task per probed list), and the scan that survives pruning reads
    * m small ints per candidate instead of d doubles. The query batch
    * broadcasts with its exact vectors; scoring is [[ProductQuantizer.adc]]
    * (fixed-order, engine-identical). At 100 TB this is the faiss
    * IVFADC read path: probed lists × compressed codes, no corpus-side
    * exchange, partial top-k merge only.
    */
  def topKIndexedStoreAdc(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, centroids: Array[Array[Double]], nprobe: Int = 2,
      buckets: Int = 0, m: Int = 8, dsub: Int = 8): DataFrame = {
    BucketedStore.read(spark,
        codesSpec(dir, BucketedStore.resolveWidth(spark, buckets)))
      .getOrElse(sys.error(s"no PQ codes sidecar at ${codesDir(dir)}"))
    val (qs, probed) = probeSide(queries, centroids, nprobe)
    adcTopK(spark, dir, qs, probed, k, m, dsub)
  }

  /** The probe side of an indexed search, built ONCE per search: the
    * exploded (query × probed-cluster) frame and the distinct probed ids
    * (one driver collect — model-sized; see [[probedClusters]]).
    */
  private def probeSide(queries: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int): (DataFrame, Seq[Any]) = {
    val qs = queries
      .withColumn("cluster", explode(nearest(col("qe"), centroids, nprobe)))
    (qs, probedClusters(qs))
  }

  /** ADC scoring core over a prepared probe side (shared by the plain ADC
    * search and the re-rank's shortlist stage, so the re-rank never pays
    * the probe collect twice).
    */
  private def adcTopK(spark: SparkSession, dir: String, qs: DataFrame,
      probed: Seq[Any], k: Int, m: Int, dsub: Int): DataFrame = {
    val cands = BucketedStore.readFiles(spark, codesDir(dir))
      .drop("_batch", "_src_batch")
    val scored = cands.filter(col("cluster").isin(probed: _*))
      .join(broadcast(qs), "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", ProductQuantizer.adc(col("qe"), col("c"), m, dsub))
    groupedTopK(scored, "qid", k, Seq(col("adc").desc, col("vec_id")))
      .select(col("qid"), col("rn"), col("vec_id"), col("adc"))
  }

  /** The COMPLETE faiss read path (IVFADC + refine): the probed ADC sweep
    * produces a `shortlist`-sized candidate set per query from the
    * compressed codes, and only those candidates' RAW vectors are read
    * back for an exact cosine re-rank. Both scans push the probed-cluster
    * filter over plain files; the re-rank's vector read additionally
    * prunes to the shortlist ids (broadcast join — query-batch-sized), so
    * the d-double vectors are touched for shortlist·queries rows, never
    * the corpus. This is the standard accuracy recovery for PQ's
    * quantization error: ADC decides WHO is close, exact vectors decide
    * the ORDER.
    */
  def topKIndexedStoreAdcRerank(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, shortlist: Int,
      centroids: Array[Array[Double]], nprobe: Int = 2, buckets: Int = 0,
      m: Int = 8, dsub: Int = 8): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    // validate both stores and build the probe side ONCE — the shortlist
    // stage and the re-rank scan share the same probed-cluster set
    val width = BucketedStore.resolveWidth(spark, buckets)
    BucketedStore.read(spark, codesSpec(dir, width))
      .getOrElse(sys.error(s"no PQ codes sidecar at ${codesDir(dir)}"))
    BucketedStore.read(spark, storeSpec(dir, width))
      .getOrElse(sys.error(s"no index store at $dir"))
    val (qs, probed) = probeSide(queries, centroids, nprobe)
    val short = adcTopK(spark, dir, qs, probed, shortlist, m, dsub)
      .select(col("qid"), col("vec_id"))
      .join(queries.select(col("qid"), col("qe")), "qid")
    val raw = BucketedStore.readFiles(spark, dir).drop("_batch", "_src_batch")
      .filter(col("cluster").isin(probed: _*))
      .select(col("vec_id"), col("e"))
    val scored = raw.join(broadcast(short), "vec_id")
      .withColumn("cos", VectorFunctions.cosine(col("e"), col("qe")))
    groupedTopK(scored, "qid", k, Seq(col("cos").desc, col("vec_id")))
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
  }

  /** [[topKIndexed]] over the dir-based store, with the scan PRUNED to the
    * probed inverted lists: the distinct probed cluster ids are collected
    * first (a driver-side set bounded by the centroid count k — the model
    * is already a driver object, so this is model-sized traffic, not data)
    * and pushed as a `cluster IN (...)` filter onto the store read.
    *
    * HOW the prune engages is deliberate: the store's files are
    * CLUSTER-PURE (bucketed by cluster), so every parquet row group's
    * cluster min/max is tight, and reading the dir as plain files with the
    * IN predicate pushed (`PushedFilters`) skips every non-probed list at
    * the ROW-GROUP level while keeping ordinary size-based splits. Forcing
    * the bucket-pruned scan instead (`SelectedBucketsCount`) reads the
    * same bytes but schedules ONE TASK PER BUCKET — at 100 TB a probed
    * list is multi-GB, and this round's sf100 re-measure caught exactly
    * that cliff: the pruned-but-bucketed scan collapsed 5M rows into ≤k
    * fat tasks (2,752 task-s, 562 s GC vs 761 task-s unpruned). Pushdown
    * pruning gets the I/O skip AND the parallelism at any cluster count.
    * AnnIvfStoreSpec pins the pushed filter, the bytes-read skip, and
    * answer parity; q255's recall audit pins hashes.
    */
  def topKIndexedStore(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, centroids: Array[Array[Double]], nprobe: Int = 2,
      buckets: Int = 0): DataFrame = {
    // open via the store layer first: fails fast on a missing/foreign dir.
    // read() is NON-mutating (markers are handled by view, not recovery),
    // so the plain-file read below must apply the SAME pending-compaction
    // view — a raw read during the commit-to-delete window would see both
    // the consolidated partition and the source partitions and silently
    // double-count every candidate. readFiles carries that view while
    // keeping the path-based (non-catalog) scan the prune law requires.
    BucketedStore.read(spark,
        storeSpec(dir, BucketedStore.resolveWidth(spark, buckets)))
      .getOrElse(sys.error(s"no index store at $dir"))
    val cands = BucketedStore.readFiles(spark, dir).drop("_batch", "_src_batch")
    val qs = queries
      .withColumn("cluster", explode(nearest(col("qe"), centroids, nprobe)))
    val probed = probedClusters(qs)
    val scored = cands.filter(col("cluster").isin(probed: _*))
      .join(broadcast(qs), "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", VectorFunctions.cosine(col("e"), col("qe")))
    groupedTopK(scored, "qid", k, Seq(col("cos").desc, col("vec_id")))
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
  }

  /** The distinct cluster ids a probe batch touches — collected driver-side
    * (sanction: bounded by the centroid count, which already lives on the
    * driver as the model) so the id set can be pushed as a scan filter.
    */
  private def probedClusters(qs: DataFrame): Seq[Any] =
    qs.select(col("cluster")).distinct().collect().map(_.get(0)).toSeq

  /** Search a prebuilt index: a pure equi-join of the (bounded, broadcast)
    * probe batch onto the stored lists — the corpus side streams with NO
    * shuffle exchange because the probe side broadcasts (pinned by
    * ScaleOpsSpec); the only shuffle in the plan is groupedTopK's
    * k·partitions-row partial top-k merge. The bucketing-by-cluster buys
    * (a) cluster-pure files whose row-group stats make a pushed cluster
    * filter skip precisely, and (b) an exchange-free sort-merge fallback
    * if a probe batch ever outgrows broadcast. This NAME-BASED api scans
    * the whole table deliberately: pushing the probed-id IN filter onto a
    * catalog BUCKETED table engages bucket-pruned scanning — one task per
    * probed bucket, which serializes multi-GB lists at 100 TB (measured,
    * see [[topKIndexedStore]], whose plain-file read + pushdown gets the
    * skip AND the parallelism — prefer it at scale).
    */
  def topKIndexed(spark: SparkSession, table: String, queries: DataFrame,
      k: Int, centroids: Array[Array[Double]], nprobe: Int = 2): DataFrame = {
    val cands = spark.table(table)
    val qs = queries
      .withColumn("cluster", explode(nearest(col("qe"), centroids, nprobe)))
    val scored = cands.join(broadcast(qs), "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", VectorFunctions.cosine(col("e"), col("qe")))
    groupedTopK(scored, "qid", k, Seq(col("cos").desc, col("vec_id")))
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
  }
}
