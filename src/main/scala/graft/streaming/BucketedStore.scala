package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.functions.LongParam
import graft.obs.Sessions

/** A persistent STREAMING INDEX STORE: a parquet table bucketed on its probe
  * join keys, partitioned by writing micro-batch (`_batch`), with
  * crash-safe idempotent appends, restart-surviving registration, and
  * bucket-preserving compaction. This is the storage discipline DEPLOY.md
  * pins ("streaming index stores are bucketed tables, never plain dirs"),
  * factored out of `LshIndex` so every accumulated-state operator
  * (LSH signature store + id sidecar, the IVF maintained index + sidecar,
  * q253's static benchmark index) shares one audited implementation.
  *
  * Why each piece exists, in 100 TB terms:
  *
  *  - BUCKETED on the probe join's keys: the store side of every per-batch
  *    probe/anti-join plans with ZERO exchange — corpus-sized rows cross
  *    the network once (their own append) and never again. Losing this is
  *    the classic streaming-index scale killer (per-batch shuffle grows
  *    linearly with corpus history); LshIndexSpec pins the growth law.
  *  - PARTITIONED by `_batch`, appended via dynamic-partition-overwrite
  *    `insertInto`: a batch's rows live in the batch's own partition, so an
  *    at-least-once replay REWRITES that partition instead of appending a
  *    duplicate copy. This closes the two-write crash window a bare
  *    `mode("append")` store has (pairs/ids/vectors committed, crash, rows
  *    re-appended on replay — duplicate store rows that break insert-only
  *    contracts). Multi-table stores (store + id sidecar) need no cross-
  *    table transaction: each table's partition rewrite is independently
  *    idempotent, so replay after ANY partial commit converges.
  *  - REGISTRATION survives restarts: catalog entries are session-lifetime
  *    (in-memory catalog), so a NEW session over an existing store dir
  *    re-registers the table from the dir's own metadata — schema sniffed
  *    from the parquet footers, bucket WIDTH from the `_store_buckets`
  *    marker stamped at creation (width is layout state: registering
  *    under a mismatched width would silently lose join matches, so the
  *    dir is authoritative over whatever spec the opener passes) —
  *    instead of silently degrading to an un-bucketed `read.parquet`
  *    that re-shuffles the store on every probe.
  *  - COMPACTION: appends write new files per bucket per batch, so FILE
  *    COUNT grows linearly with history even though shuffle stays flat —
  *    per-batch probe cost creeps back as open/seek overhead. `compact`
  *    rewrites the store as one consolidated `_batch=-N` partition with the
  *    SAME bucket spec (bucket-aligned repartition → one file per bucket),
  *    crash-safe by [[BatchLog]]'s fold protocol, the one the feeds use.
  *
  * Concurrency contract: SINGLE WRITER per store (the owning streaming
  * query's foreachBatch, which Spark serializes). Readers inside the same
  * process see the registered table; compaction must run from the owner
  * between batches, like any maintenance job on a non-transactional table.
  */
object BucketedStore {

  /** Identity of a store: its directory, probe-join bucket keys, width. */
  final case class StoreSpec(dir: String, bucketCols: Seq[String], buckets: Int = 8)

  /** The BUCKET-WIDTH LAW (round 10, DEPLOY.md): store width is cluster
    * geometry, not a constant. A store built at a fixed small width funnels
    * its corpus-sized scans through that many fat tasks no matter how many
    * executors the cluster has — the sf100 rehearsals measured 45×/decade
    * on a fixed-8 store where width-from-partitions restored single digits.
    * The session's shuffle-partition setting IS the deployment's statement
    * of parallelism, so a new store derives its width from it, clamped to
    * [8, 320] (below 8 the probe joins lose all parallelism; above 320 the
    * per-bucket files of a gate-sized store degenerate to empty-file
    * overhead). Existing stores are untouched: width is layout state the
    * dir carries in its `_store_buckets` marker, authoritative on open.
    */
  def sessionWidth(spark: SparkSession): Int =
    math.min(320,
      math.max(8, spark.conf.get("spark.sql.shuffle.partitions", "8").toInt))

  /** Resolve a caller-supplied width: positive = explicit, anything else =
    * derive from the session per [[sessionWidth]]. Operators take
    * `buckets: Int = 0` so the law is their default and an explicit width
    * stays one parameter away.
    */
  def resolveWidth(spark: SparkSession, buckets: Int): Int =
    if (buckets > 0) buckets else sessionWidth(spark)

  /** Catalog name for a dir — md5-derived so concurrent harnesses with
    * distinct scratch dirs never collide.
    */
  def tableName(dir: String): String =
    "graft_store_" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex(dir).take(16)

  /** All data-file names under the store — the files a probe must open; the
    * compaction specs pin this count bounded after `compact`.
    */
  def parquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val f = BatchLog.fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else {
      val it = f.listFiles(p, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val n = it.next().getPath
        if (n.getName.endsWith(".parquet")) out += n.toString
      }
      out.result()
    }
  }

  /** Open the store for reading: the registered bucketed table, registered
    * on the fly in a fresh session. NON-MUTATING: this never runs physical
    * compaction recovery — a pending compaction (in-flight in the owning
    * process, or crashed) is handled by VIEW over the markers (commit
    * present ⇒ only the consolidated partition is real; intent-only ⇒ the
    * consolidation never happened). Physical roll-back/forward runs only at
    * WRITER entry points (appendBatch/overwrite/compact), so a reader in
    * another process can never destroy an in-flight compaction's work.
    * None ⇔ the dir holds no data (or holds a layout this store cannot
    * claim — not bucket-named files, missing bucket columns; the caller
    * owns any legacy fallback). The frame includes the batch bookkeeping
    * columns; take a batch's snapshot through [[strictlyBefore]] — NEVER a
    * bare `col("_batch") < batchId`, which anti-joins a replayed batch
    * against its own rows once a compaction has folded them (the helper
    * reads `_src_batch`, which survives the fold).
    */
  def read(spark: SparkSession, spec: StoreSpec): Option[DataFrame] = {
    val pending = BatchLog.pending(spark, spec.dir, BatchLog.StoreMarkers)
    val tbl = tableName(spec.dir)
    if (!spark.catalog.tableExists(tbl)) tryRegister(spark, spec)
    if (!spark.catalog.tableExists(tbl)) None
    else {
      // a foreign process's compaction committed AFTER this session
      // registered the table: the session catalog has no partition
      // `_batch=c` yet (partitions are only added at registration), so
      // filtering without a resync would prune to zero partitions and
      // silently read an empty store. Resync is cheap (one dir listing)
      // and only runs in the transient commit-pending window.
      if (pending.exists(_.committed)) addPartitions(spark, spec)
      Some(BatchLog.view(spark.table(tbl), pending))
    }
  }

  /** PATH-BASED (non-catalog) read of the store dir with the same
    * pending-compaction marker view [[read]] applies — for callers that
    * deliberately avoid the registered bucketed table (e.g. the IVF probed
    * search, where a pushed filter over a catalog bucketed table engages
    * one-task-per-bucket scanning). Reading the dir raw WITHOUT this view
    * double-counts during a pending compaction: between the commit marker
    * and the source-partition deletes (or after a crashed intent rename),
    * both the consolidated partition and the source partitions are on disk.
    * The `_batch` filter is partition pruning on the path reader — free.
    */
  def readFiles(spark: SparkSession, dir: String): DataFrame =
    BatchLog.view(spark.read.parquet(dir), BatchLog.pending(spark, dir, BatchLog.StoreMarkers))

  /** Idempotent per-batch append: the batch's rows land in (and on replay
    * REPLACE) partition `_batch=batchId` via dynamic-partition-overwrite
    * insertInto. The input is repartitioned onto the bucket keys first so
    * each batch adds at most `buckets` files (not tasks × buckets) —
    * repartition's hash is the same Murmur3 family bucketing uses, so rows
    * align task-per-bucket. The extra exchange is batch-sized: flat in
    * store history, which is the property that matters.
    *
    * Replay ACROSS a compaction (a crash restoring an old checkpoint after
    * a maintenance compaction folded the batch's partition away): the
    * batch's rows already live inside the consolidation, so rewriting
    * `_batch=batchId` would put a second copy next to them. The
    * [[compactionFrontier]] marker makes such a replay a NO-OP — sound
    * because batch content is deterministic (the same assumption partition
    * rewrites already make) and because the frontier only ever covers
    * batches whose rows are COMPLETE in the store: in-sink maintenance
    * passes its just-committed batch id as [[compact]]'s `upTo` bound, so
    * a crash-partial partition ABOVE the replay position (an
    * old-checkpoint restore) is never folded or frontier-covered — its
    * eventual replay still rewrites it.
    */
  def appendBatch(df: DataFrame, spec: StoreSpec, batchId: Long): Unit = {
    val spark = df.sparkSession
    BatchLog.recover(spark, layout(spec))
    // a feed that both publishes negative ids and compacts should use a
    // dedicated dir (see Loader.compactBatches)
    if (BatchLog.replayed(spark, spec.dir, BatchLog.StoreMarkers, batchId)) return
    val tbl = tableName(spec.dir)
    if (!spark.catalog.tableExists(tbl)) tryRegister(spark, spec)
    val nb = effectiveBuckets(spark, spec)
    // the id is a parameter of the generated code, not a literal inlined
    // into it, so each batch reuses the classes compiled for the last one
    val aligned = df.repartition(nb, spec.bucketCols.map(col): _*)
      .withColumn("_src_batch", LongParam.column(batchId)) // survives compaction
      .withColumn("_batch", LongParam.column(batchId))
    if (!spark.catalog.tableExists(tbl)) {
      // first write creates table + dir in one job; a crash mid-create is
      // replayed through the insertInto branch once the dir exists.
      // SORTED BY the bucket keys (round 11): the writer sorts each
      // bucket's rows, so every file's row-group min/max on the probe key
      // is TIGHT — a pushed key filter (the IVF probed-list IN, a term
      // filter) then skips non-matching row groups instead of reading the
      // whole store. Sortedness is layout state like width: stamped on
      // the dir so registration never claims it for legacy unsorted files.
      aligned.write.mode("append").format("parquet")
        .partitionBy("_batch")
        .bucketBy(nb, spec.bucketCols.head, spec.bucketCols.tail: _*)
        .sortBy(spec.bucketCols.head, spec.bucketCols.tail: _*)
        .option("path", spec.dir)
        .saveAsTable(tbl)
      // stamp the creation width — layout state the dir carries forever
      BatchLog.writeMarker(BatchLog.fs(spark, spec.dir), spec.dir, BucketsMarker, nb.toLong)
      BatchLog.writeMarker(BatchLog.fs(spark, spec.dir), spec.dir, SortedMarker, 1L)
    } else {
      // Dynamic partition overwrite, on a session clone carrying the mode:
      // the caller's conf is never written, so concurrent appends to
      // sibling stores cannot see each other's setting, and each append's
      // fresh clone resolves the table anew (no cached relation of a
      // dropped or re-created table survives between appends).
      //
      // Dynamic — not a static `PARTITION (_batch=N)` INSERT — is
      // LOAD-BEARING: several sinks legally derive a batch's append from
      // the TARGET table itself (the id sidecar's pre-batch anti-join),
      // and Spark only permits a self-read under dynamic overwrite
      // (stage-and-commit); static overwrite deletes the partition up
      // front and rejects the plan (UNSUPPORTED_OVERWRITE.TABLE).
      val cols = spark.table(tbl).columns.toIndexedSeq // _batch last
      Sessions.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") { c =>
        GraftSqlBridge.ofRows(c, GraftSqlBridge.analyzed(aligned.select(cols.map(col): _*)))
          .write.mode("overwrite").insertInto(tbl)
      }
      // relation caches are PER SESSION: the clone's write invalidated its
      // own cached file listing, not the caller's — refresh the caller's or
      // a replay's rewrite leaves its stale listing pointing at deleted
      // files (FILE_NOT_EXIST on the next read)
      spark.catalog.refreshTable(tbl)
    }
  }

  /** One-shot full (re)build: clear the dir, write everything as one
    * consolidated base partition. The write-then-swap is NOT atomic (this
    * is a build step, not a streaming append); rebuild-on-failure is the
    * caller's recovery, same as any index build.
    */
  def overwrite(df: DataFrame, spec: StoreSpec): Unit = {
    val spark = df.sparkSession
    val f = BatchLog.fs(spark, spec.dir)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(spec.dir)}")
    f.delete(new Path(spec.dir), true)
    appendBatch(df, spec, -1L)
  }

  private val BucketsMarker = "_store_buckets"
  private val SortedMarker = "_store_sorted"

  /** The row's ORIGINAL writing batch id — the column that SURVIVES
    * compaction. Stores written since round 12 carry `_src_batch` as a data
    * column (stamped by [[appendBatch]], preserved verbatim by [[compact]]);
    * the partition column `_batch` is collapsed to the consolidation id by
    * compaction and is only the original id for never-compacted partitions.
    * Legacy stores (no `_src_batch`) fall back to `_batch` — their
    * pre-compaction rows coalesce from `_batch` at the next compact, and
    * rows already inside a legacy consolidation keep the consolidation id
    * (strictly negative ⇒ they count as "earlier than everything", the
    * documented legacy semantics).
    */
  def srcBatchCol(df: DataFrame): org.apache.spark.sql.Column =
    if (df.columns.contains("_src_batch")) coalesce(col("_src_batch"), col("_batch"))
    else col("_batch")

  /** The STRICTLY-EARLIER snapshot of a store frame: only rows whose
    * original batch id precedes `batchId`. Unlike a bare
    * `col("_batch") < batchId`, this survives compaction — a replayed batch
    * sees its true prefix even when that prefix (and the batch itself, and
    * its successors) have been folded into a consolidated partition.
    *
    * The extra `_batch < batchId` conjunct is semantically REDUNDANT (a
    * real partition `_batch=k` holds only `_src_batch=k` rows, and
    * consolidations are strictly negative) but it is a PARTITION filter,
    * so the scan PRUNES the batch's own partition — and any crash-partial
    * later partition — instead of listing and reading their files. That
    * pruning is what makes a snapshot read safe to run CONCURRENTLY with
    * the batch's own partition rewrite (guide §2.6 overlapped sinks): a
    * replayed batch's rewrite deletes the old `_batch=batchId` files,
    * which would otherwise race a row-filtered scan that had them listed.
    */
  def strictlyBefore(df: DataFrame, batchId: Long): DataFrame =
    df.filter(col("_batch") < batchId && srcBatchCol(df) < batchId)

  /** The store's compaction FRONTIER ([[BatchLog.frontier]]): a replayed
    * batch at or below it is already inside the store, so [[appendBatch]]
    * no-ops it. None ⇔ the store was never compacted over real batches.
    */
  def compactionFrontier(spark: SparkSession, dir: String): Option[Long] =
    BatchLog.frontier(spark, dir, BatchLog.StoreMarkers)

  /** The store's TRUE bucket count — self-described by a marker written at
    * creation, because bucket width is layout state: re-registering an
    * existing store under a DIFFERENT width than it was built with would
    * put every row in the "wrong" bucket from the reader's point of view
    * and silently lose join matches. The marker is authoritative on open;
    * `spec.buckets` only sizes a store that does not exist yet (legacy
    * dirs without a marker adopt the opener's spec once, and the marker is
    * stamped so the ambiguity never recurs).
    */
  private def effectiveBuckets(spark: SparkSession, spec: StoreSpec): Int = {
    val f = BatchLog.fs(spark, spec.dir)
    BatchLog.readMarker(f, spec.dir, BucketsMarker) match {
      case Some(n) => n.toInt
      case None =>
        if (!BatchLog.hasParquet(f, spec.dir)) spec.buckets
        else {
          // A markerless dir WITH data is a pre-marker legacy store whose
          // creation width is unknown — and since round 11 the opener's
          // spec.buckets is usually the SESSION-derived width, which need
          // not match (blind adoption would register the files under the
          // wrong bucket count and silently lose join matches). Recover
          // the width by VERIFICATION: the bucket id in each file's name
          // must equal pmod(murmur3(bucketCols), width) for every row —
          // functions.hash IS the bucketing hash — so check candidate
          // widths (the opener's spec, the historical pre-marker 8, and
          // max-file-suffix+1) against sampled files and stamp the one
          // that verifies. Refusal beats corruption if none do.
          val n = verifyLegacyWidth(spark, spec)
          BatchLog.writeMarker(f, spec.dir, BucketsMarker, n.toLong)
          n
        }
    }
  }

  private def verifyLegacyWidth(spark: SparkSession, spec: StoreSpec): Int = {
    val bucketIdRe = "_(\\d+)\\.".r
    val files = parquetFiles(spark, spec.dir)
      .flatMap { fp =>
        val name = new Path(fp).getName
        bucketIdRe.findFirstMatchIn(name).map(m => (fp, m.group(1).toInt))
      }
    require(files.nonEmpty,
      s"store ${spec.dir} has data but no bucket-named files and no " +
        s"$BucketsMarker marker — cannot recover its bucket width")
    val probe = files.sortBy(-_._2).take(4) // highest suffixes discriminate best
    val maxSfx = files.map(_._2).max
    def verifies(n: Int): Boolean = n > maxSfx && probe.forall { case (fp, sfx) =>
      val df = spark.read.parquet(fp)
      spec.bucketCols.forall(df.columns.contains) && {
        val got = df.limit(10000)
          .select(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(
              spec.bucketCols.map(col): _*), lit(n)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        got == Seq(sfx)
      }
    }
    Seq(spec.buckets, 8, maxSfx + 1).distinct.find(verifies).getOrElse(
      throw new IllegalStateException(
        s"store ${spec.dir}: no $BucketsMarker marker and none of the " +
          s"candidate widths (${spec.buckets}, 8, ${maxSfx + 1}) verify " +
          "against the files' bucket ids — re-open with the creation width " +
          "passed explicitly so it can be stamped"))
  }

  /** Bucket-preserving compaction: rewrite the store's partitions with
    * real id ≤ `upTo` (all negative ones) as ONE consolidated partition —
    * one file per bucket — then drop the sources, so per-batch probe cost
    * returns to O(buckets) file opens no matter how long the append
    * history is. Crash-safe and single-writer by [[BatchLog.fold]], which
    * also documents the `upTo` bound maintenance sinks must pass (their
    * just-committed batch id); the default folds the whole store. Readers
    * never see duplicates: [[read]] views a pending fold through its
    * markers.
    */
  def compact(spark: SparkSession, spec: StoreSpec,
      upTo: Long = Long.MaxValue): Unit =
    BatchLog.fold(spark, layout(spec), upTo)

  /** The store's half of [[BatchLog]]: the fold source is the registered
    * bucketed table, the consolidation a bucketed sorted `saveAsTable`, and
    * the catalog is resynced after a publish or a roll-back.
    */
  private def layout(spec: StoreSpec): BatchLog.Layout = new BatchLog.Layout {
    val dir = spec.dir
    val markers = BatchLog.StoreMarkers
    private val tbl = tableName(spec.dir)
    private val scratchTbl = tableName(BatchLog.scratchDir(spec.dir))

    override def open(spark: SparkSession): Boolean =
      BatchLog.hasParquet(BatchLog.fs(spark, dir), dir) && {
        if (!spark.catalog.tableExists(tbl)) tryRegister(spark, spec)
        require(spark.catalog.tableExists(tbl),
          s"compact: ${spec.dir} holds a layout this store cannot claim")
        true
      }

    // even ONE partition folds: that is how a legacy store earns one file
    // per bucket and its sorted marker
    def worthFolding(foldIds: Seq[Long]): Boolean = foldIds.nonEmpty

    // The rewrite FORCES the bucketed scan (on a session clone, so the
    // caller's conf stays as it is): task i reads exactly the files of
    // bucket i and writes bucket i's one consolidated file — the whole
    // compaction runs with ZERO exchange. Under the default
    // autoBucketedScan heuristic Spark drops the bucketed scan here (no
    // join to pay for it) while the planner still elides the aligning
    // repartition, and tasks end up writing several files per bucket —
    // which defeats the point of compacting. The repartition stays as the
    // alignment fallback for a source that is not bucket-scannable.
    def source[T](spark: SparkSession)(body: DataFrame => T): T =
      Sessions.withConf(spark,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")(c => body(c.table(tbl)))

    def write(rows: DataFrame, scratch: String): Unit = {
      val s = rows.sparkSession
      val nb = effectiveBuckets(s, spec)
      s.sql(s"DROP TABLE IF EXISTS $scratchTbl")
      rows.repartition(nb, spec.bucketCols.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, spec.bucketCols.head, spec.bucketCols.tail: _*)
        .sortBy(spec.bucketCols.head, spec.bucketCols.tail: _*)
        .option("path", scratch)
        .saveAsTable(scratchTbl)
      s.sql(s"DROP TABLE $scratchTbl") // external: files stay
    }

    override def refresh(spark: SparkSession, published: Boolean): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $scratchTbl")
      // the consolidated rewrite is sorted per bucket — a legacy unsorted
      // store earns the marker here
      if (published) BatchLog.writeMarker(BatchLog.fs(spark, dir), dir, SortedMarker, 1L)
      // a non-mutating reader may have registered the table WITH an orphan
      // partition, or without the consolidation: re-register from the dir
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      if (published) tryRegister(spark, spec)
    }
  }

  /** Register the bucketed table over an existing store dir (fresh session
    * over a persisted store). The schema comes from the parquet footers,
    * the bucket spec from `spec` — both knowable without any catalog state.
    * An unpartitioned single-table layout (the previous generation of this
    * store: bucketed files at the dir top level) is MIGRATED in place by
    * moving its files into a base partition — file renames, idempotent on
    * re-run, bucket ids ride in the file names. Returns false (registers
    * nothing) when the dir's files are not claimable: not bucket-named, or
    * missing the bucket columns — the caller decides how to read those.
    */
  private def tryRegister(spark: SparkSession, spec: StoreSpec): Boolean = {
    val f = BatchLog.fs(spark, spec.dir)
    if (!BatchLog.hasParquet(f, spec.dir)) return false
    // migrate a top-level (unpartitioned) bucketed layout into _batch=<base>
    val top = f.listStatus(new Path(spec.dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val bucketNamed = "_\\d+\\.".r
    if (top.nonEmpty) {
      if (!top.forall(st => bucketNamed.findFirstIn(st.getPath.getName).isDefined))
        return false // plain un-bucketed parquet: not ours to claim
      val base = new Path(spec.dir, s"_batch=${BatchLog.nextBase(f, spec.dir)}")
      f.mkdirs(base)
      top.foreach(st => f.rename(st.getPath, new Path(base, st.getPath.getName)))
    }
    val schema = spark.read.parquet(spec.dir).schema
    if (!spec.bucketCols.forall(schema.fieldNames.contains)) return false
    val dataCols = schema.fields.filterNot(_.name == "_batch")
      .map(fd => s"`${fd.name}` ${fd.dataType.sql}").mkString(", ")
    val tbl = tableName(spec.dir)
    // the dir's own stamped width, never the (possibly mismatched) spec —
    // registering under a wrong width would silently lose join matches.
    // SORTED BY only when the dir's marker vouches for it: declaring sort
    // over legacy unsorted files would let a merge join skip a needed sort
    val nb = effectiveBuckets(spark, spec)
    val sorted =
      if (BatchLog.readMarker(f, spec.dir, SortedMarker).contains(1L))
        s"SORTED BY (${spec.bucketCols.map(cn => s"`$cn`").mkString(", ")}) "
      else ""
    spark.sql(
      s"""CREATE TABLE $tbl ($dataCols, `_batch` BIGINT)
         |USING parquet
         |PARTITIONED BY (_batch)
         |CLUSTERED BY (${spec.bucketCols.map(cn => s"`$cn`").mkString(", ")})
         |${sorted}INTO $nb BUCKETS
         |LOCATION '${spec.dir}'""".stripMargin)
    addPartitions(spark, spec)
    true
  }

  /** Registers every `_batch=<id>` dir of the store (negative consolidation
    * ids included) as a partition of its table. Named, not discovered:
    * `RECOVER PARTITIONS` would scan the store root and log a warning for
    * every marker file it finds there.
    */
  private def addPartitions(spark: SparkSession, spec: StoreSpec): Unit = {
    val ids = BatchLog.partitionIds(BatchLog.fs(spark, spec.dir), spec.dir)
    if (ids.nonEmpty)
      spark.sql(s"ALTER TABLE ${tableName(spec.dir)} ADD IF NOT EXISTS " +
        ids.map(id => s"PARTITION (_batch=$id)").mkString(" "))
  }
}
