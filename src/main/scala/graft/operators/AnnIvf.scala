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

  import graft.streaming.{BucketedStore, IndexTables}
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

  /** StoreSpec of the PQ-codes sidecar (bucketed by cluster like the main
    * store — the probed ADC search prunes on the same key).
    */
  private def codesSpec(dir: String, buckets: Int) =
    StoreSpec(codesDir(dir), Seq("cluster"), buckets)

  private def codesDir(dir: String): String = dir.stripSuffix("/") + "_codes"

  /** The store's tables: inverted lists, vec_id sidecar and PQ-codes
    * sidecar (a plain IVF store has no `_codes` dir, and folding a dir
    * that does not exist is a no-op). `tables(dir).sink(n)(appendToIndexStore
    * ...)` is the streaming maintenance, folding every n batches (0 =
    * never); `tables(dir).compact(spark)` is the owner's offline fold.
    */
  def tables(dir: String, buckets: Int = 0): IndexTables =
    IndexTables(Seq(storeSpec(dir, buckets), idsSpec(dir, buckets), codesSpec(dir, buckets)))

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

  /** INCREMENTAL maintenance of the dir-based store. Per batch:
    * assign the new vectors (batch-sized), anti-join against the
    * strictly-earlier sidecar (store side bucketed on vec_id ⇒ zero
    * exchange; only the batch's ids shuffle), then rewrite the batch's own
    * `_batch` partition in BOTH tables. Idempotency is structural: a
    * replay overwrites its own partitions with identical content no matter
    * which of the two writes a crash fell between, because the anti-join
    * reads the strictly-earlier snapshot (`IndexTables.priorIds`), never
    * the batch's own half-committed rows or a later batch's.
    * First arrival wins across batches (insert-only contract, like the LSH
    * signature store). AnnIvfStoreSpec pins the flat-work law: per-batch
    * shuffle records stay flat as the accumulated index doubles.
    */
  def appendToIndexStore(batch: DataFrame, centroids: Array[Array[Double]],
      dir: String, batchId: Long, buckets: Int = 0): Unit =
    appendFresh(batch, centroids, dir, batchId, buckets, codes = None)

  /** The batch's fresh vectors (anti-joined against the strictly-earlier
    * sidecar), assigned once and appended as the batch's own partition in
    * every table, `codes` (the PQ encoder) adding the codes sidecar — the
    * order-independent appends overlap as concurrent driver jobs
    * (guide §2.6).
    */
  private def appendFresh(batch: DataFrame, centroids: Array[Array[Double]],
      dir: String, batchId: Long, buckets: Int, codes: Option[Column => Column]): Unit = {
    val width = BucketedStore.resolveWidth(batch.sparkSession, buckets)
    val fresh = assign(batch, centroids)
      .join(IndexTables.priorIds(batch, idsSpec(dir, width), batchId), Seq("vec_id"), "left_anti")
    IndexTables.write(fresh) { fresh =>
      Seq(
        () => BucketedStore.appendBatch(fresh, storeSpec(dir, width), batchId),
        () => BucketedStore.appendBatch(
          fresh.select(col("vec_id")).dropDuplicates("vec_id"),
          idsSpec(dir, width), batchId)) ++
        codes.map(c => () => BucketedStore.appendBatch(
          fresh.select(col("vec_id"), col("cluster"), c(col("e")).as("c")),
          codesSpec(dir, width), batchId))
    }
  }

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
    * rewrite over the strictly-earlier snapshot, so replay from any crash
    * point (including between the three writes) converges.
    */
  def appendToIndexStorePq(batch: DataFrame, centroids: Array[Array[Double]],
      dir: String, batchId: Long, buckets: Int = 0,
      m: Int = 8, dsub: Int = 8): Unit =
    appendFresh(batch, centroids, dir, batchId, buckets,
      Some(e => ProductQuantizer.codes(e, m, dsub)))

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
