package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
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
  *    crash-safe via intent/commit markers with recovery on next open: the
  *    consolidated partition publishes via one atomic directory rename, and
  *    the commit marker is the linearization point (crash before it ⇒ the
  *    compaction never happened; crash after ⇒ recovery finishes the
  *    source-partition deletes).
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

  /** Partition id for consolidated data (full rebuilds, migrated legacy
    * layouts, compaction output): strictly negative, below every real
    * batch id, decreasing with each compaction so the consolidation never
    * collides with a replayed batch's own-partition rewrite.
    */
  private def nextBasePartition(spark: SparkSession, spec: StoreSpec): Long = {
    val ids = partitionIds(fs(spark, spec.dir), spec.dir)
    math.min(0L, if (ids.isEmpty) 0L else ids.min) - 1L
  }

  /** Catalog name for a dir — md5-derived so concurrent harnesses with
    * distinct scratch dirs never collide.
    */
  def tableName(dir: String): String =
    "graft_store_" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex(dir).take(16)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hasParquet(f: FileSystem, dir: String): Boolean = {
    val p = new Path(dir)
    f.exists(p) && { val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found }
  }

  /** All data-file names under the store — the files a probe must open; the
    * compaction specs pin this count bounded after `compact`.
    */
  def parquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
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

  private[streaming] def partitionIds(f: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
      .map(_.getPath.getName.stripPrefix("_batch=").toLong)
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
    * columns; take snapshots through [[excludeBatch]] (pre-batch) or
    * [[strictlyBefore]] (strictly earlier) — NEVER a bare
    * `col("_batch") =!= batchId`, which anti-joins a replayed batch
    * against its own rows once a compaction has folded them (the helpers
    * read `_src_batch`, which survives the fold).
    */
  def read(spark: SparkSession, spec: StoreSpec): Option[DataFrame] = {
    val f = fs(spark, spec.dir)
    val pending: Option[(Long, Boolean)] =
      readMarker(f, spec.dir, CommitMarker).map((_, true))
        .orElse(readMarker(f, spec.dir, IntentMarker).map((_, false)))
    val tbl = tableName(spec.dir)
    if (!spark.catalog.tableExists(tbl)) tryRegister(spark, spec)
    if (!spark.catalog.tableExists(tbl)) None
    else Some(pending match {
      case Some((c, true)) =>
        // a foreign process's compaction committed AFTER this session
        // registered the table: the session catalog has no partition
        // `_batch=c` yet (RECOVER PARTITIONS only ran at registration), so
        // filtering without a resync would prune to zero partitions and
        // silently read an empty store. Resync is cheap (one dir listing)
        // and only runs in the transient commit-pending window.
        spark.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
        // a BOUNDED fold (upTo marker) leaves real partitions above the
        // bound intact and unfolded — they stay visible next to the
        // consolidation (with upTo = MaxValue this is just `=== c`)
        val upTo = readMarker(f, spec.dir, UpToMarker).getOrElse(Long.MaxValue)
        spark.table(tbl).filter(col("_batch") === c || col("_batch") > upTo)
      case Some((c, false)) => spark.table(tbl).filter(col("_batch") =!= c)
      case None => spark.table(tbl)
    })
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
  def readFiles(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val df = spark.read.parquet(dir)
    readMarker(f, dir, CommitMarker) match {
      case Some(c) =>
        val upTo = readMarker(f, dir, UpToMarker).getOrElse(Long.MaxValue)
        df.filter(col("_batch") === c || col("_batch") > upTo)
      case None => readMarker(f, dir, IntentMarker) match {
        case Some(c) => df.filter(col("_batch") =!= c)
        case None => df
      }
    }
  }

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
    recover(spark, spec)
    // Frontier scope: REAL (≥ 0) batch ids only — the streaming micro-batch
    // id space, which foreachBatch assigns monotonically. The guard cannot
    // distinguish a replay from a first-time batch, so monotone assignment
    // is part of the contract: a first-time id at or below the frontier
    // would be dropped as a replay. NEGATIVE ids are deliberate publish
    // channels (rebuild bases, migrations, backfill revisions) and stay
    // writable after a compaction — their replay guard is the caller's
    // marker protocol, and a feed that both publishes negative ids and
    // compacts should use a dedicated dir (see compactBatches).
    if (batchId >= 0 && compactionFrontier(spark, spec.dir).exists(batchId <= _)) {
      // a correct replay of a folded batch — but also indistinguishable
      // from a CONTRACT VIOLATION (a fresh checkpoint restarting ids at 0
      // against an already-compacted store). Log loudly so an accidental
      // reset is diagnosable instead of a silent drop.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"appendBatch(${spec.dir}, batch=$batchId): no-op — batch id is at/" +
          s"below the compaction frontier ${compactionFrontier(spark, spec.dir).get}. " +
          "Correct for a replay of a folded batch; if this is a FIRST-TIME " +
          "batch (checkpoint reset against a compacted store), its rows were " +
          "just dropped — reprocess into a fresh store dir.")
      return
    }
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
      writeMarker(fs(spark, spec.dir), spec.dir, BucketsMarker, nb.toLong)
      writeMarker(fs(spark, spec.dir), spec.dir, SortedMarker, 1L)
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
    val f = fs(spark, spec.dir)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(spec.dir)}")
    f.delete(new Path(spec.dir), true)
    appendBatch(df, spec, -1L)
  }

  private def marker(dir: String, name: String) = new Path(dir, name)
  private val IntentMarker = "_compact_intent"
  private val CommitMarker = "_compact_commit"
  private val UpToMarker = "_compact_upto"
  private val BucketsMarker = "_store_buckets"
  private val SortedMarker = "_store_sorted"
  private val FrontierMarker = "_store_frontier"

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

  /** The PRE-BATCH snapshot of a store frame: everything except the batch's
    * own rows — by ORIGINAL batch id, so a replay after compaction still
    * excludes its own (now folded) rows instead of anti-joining against
    * itself.
    *
    * Like [[strictlyBefore]], the `_batch =!= batchId` conjunct is
    * redundant but prunes the batch's own partition at planning — the
    * concurrent-rewrite safety property.
    */
  def excludeBatch(df: DataFrame, batchId: Long): DataFrame =
    df.filter(col("_batch") =!= batchId && srcBatchCol(df) =!= batchId)

  /** The compaction FRONTIER: the highest REAL (≥ 0) batch id ever folded
    * into a consolidated partition — permanent layout state like the width
    * marker. A replayed batch at or below it is already inside the store
    * (its rows ride in a consolidation, or — if the folding compaction
    * rolled back — still in their own partition, which the roll-back never
    * touches), so [[appendBatch]] treats such a replay as a no-op instead
    * of writing a duplicate copy next to the consolidation. None ⇔ the
    * store was never compacted over real batches.
    */
  def compactionFrontier(spark: SparkSession, dir: String): Option[Long] =
    readMarker(fs(spark, dir), dir, FrontierMarker)

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
    val f = fs(spark, spec.dir)
    readMarker(f, spec.dir, BucketsMarker) match {
      case Some(n) => n.toInt
      case None =>
        if (!hasParquet(f, spec.dir)) spec.buckets
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
          writeMarker(f, spec.dir, BucketsMarker, n.toLong)
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

  private[streaming] def writeMarker(f: FileSystem, dir: String, name: String, c: Long): Unit = {
    val os = f.create(marker(dir, name), true)
    try os.write(c.toString.getBytes("UTF-8")) finally os.close()
  }

  private[streaming] def readMarker(f: FileSystem, dir: String, name: String): Option[Long] = {
    val p = marker(dir, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Bucket-preserving compaction: rewrite the whole store as ONE
    * consolidated partition (one file per bucket), then drop the source
    * partitions — per-batch probe cost returns to O(buckets) file opens no
    * matter how long the append history is. Crash-safe, single-writer:
    *
    *   1. intent marker (target partition id C)
    *   2. consolidated bucketed rewrite into a scratch dir, row-count audit
    *   3. one atomic rename: scratch → `_batch=C`
    *   4. commit marker — the linearization point
    *   5. delete source partitions, re-register, drop markers
    *
    * [[recover]] (run on every open) rolls an interrupted compaction back
    * (no commit marker ⇒ delete the orphan `_batch=C`, nothing happened) or
    * forward (commit marker ⇒ finish the deletes). Readers never see
    * duplicates because reads go through [[read]], which recovers first.
    *
    * `upTo` BOUNDS the fold to real partitions with id ≤ upTo (negative
    * consolidation/base partitions always fold). Maintenance sinks MUST
    * pass their just-committed batch id here: after an old-checkpoint
    * restore, the disk can hold a CRASH-PARTIAL partition whose id is
    * above the replay position — an unbounded fold would swallow its
    * partial rows into the consolidation and advance the frontier over it,
    * turning the batch's eventual replay into a no-op (partial rows
    * permanent, missing rows silently lost). Bounded, such later
    * partitions stay intact on disk and their replay's partition rewrite
    * still replaces them. The bound is persisted (`_compact_upto`) so
    * crash recovery deletes exactly the folded sources, and the
    * commit-pending read view keeps unfolded later partitions visible.
    * The default (MaxValue) keeps the legacy whole-store fold for
    * offline/manual compaction, where prefix-complete state is the
    * caller's contract.
    */
  def compact(spark: SparkSession, spec: StoreSpec,
      upTo: Long = Long.MaxValue): Unit = {
    recover(spark, spec)
    val f = fs(spark, spec.dir)
    if (!hasParquet(f, spec.dir)) return
    val tbl = tableName(spec.dir)
    if (!spark.catalog.tableExists(tbl)) tryRegister(spark, spec)
    require(spark.catalog.tableExists(tbl),
      s"compact: ${spec.dir} holds a layout this store cannot claim")
    val allIds = partitionIds(f, spec.dir)
    val foldIds = allIds.filter(id => id < 0 || id <= upTo)
    if (foldIds.isEmpty) return // bound excludes everything: nothing to fold
    val nb = effectiveBuckets(spark, spec)
    val c = nextBasePartition(spark, spec)
    writeMarker(f, spec.dir, IntentMarker, c)
    writeMarker(f, spec.dir, UpToMarker, upTo)
    // advance the frontier BEFORE anything moves: from here on the folded
    // batches' rows are guaranteed present whichever way a crash falls
    // (roll-back never touches the untouched source partitions; roll-forward
    // keeps the consolidation), so a replay ≤ frontier is safely a no-op.
    // Only ids inside the fold bound advance it — a later (possibly
    // crash-partial, not-yet-replayed) partition must stay replayable.
    foldIds.filter(_ >= 0).maxOption.foreach { maxReal =>
      val next = math.max(maxReal,
        readMarker(f, spec.dir, FrontierMarker).getOrElse(Long.MinValue))
      writeMarker(f, spec.dir, FrontierMarker, next)
    }
    val scratch = spec.dir.stripSuffix("/") + "_compacting"
    val scratchTbl = tbl + "_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $scratchTbl")
    f.delete(new Path(scratch), true)
    // preserve each row's ORIGINAL batch id through the consolidation:
    // `_src_batch` rides as a data column (legacy rows materialize it from
    // their partition id; rows inside a legacy consolidation keep its
    // negative id — "earlier than everything", the documented legacy
    // semantics), so strictly-earlier and exclude-own-batch snapshots keep
    // working after the partition structure is folded away.
    //
    // The rewrite FORCES the bucketed scan (on a session clone, so the
    // caller's conf stays as it is): task i reads exactly the files of
    // bucket i and writes bucket i's one consolidated file — the whole
    // compaction runs with ZERO exchange. Under the default
    // autoBucketedScan heuristic Spark drops the bucketed scan here (no
    // join to pay for it) while the planner still elides the aligning
    // repartition, and tasks end up writing several files per bucket —
    // which defeats the point of compacting. The repartition stays as the
    // alignment fallback for a source that is not bucket-scannable.
    val expect = Sessions.withConf(spark,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") { cs =>
      val tblDf = cs.table(tbl)
        .filter(col("_batch") < 0 || col("_batch") <= upTo) // the fold bound
      val withSrc =
        if (tblDf.columns.contains("_src_batch"))
          tblDf.withColumn("_src_batch", coalesce(col("_src_batch"), col("_batch")))
        else tblDf.withColumn("_src_batch", col("_batch"))
      val src = withSrc.drop("_batch")
      val n = src.count()
      src.repartition(nb, spec.bucketCols.map(col): _*)
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, spec.bucketCols.head, spec.bucketCols.tail: _*)
        .sortBy(spec.bucketCols.head, spec.bucketCols.tail: _*)
        .option("path", scratch)
        .saveAsTable(scratchTbl)
      n
    }
    spark.sql(s"DROP TABLE $scratchTbl") // external: files stay
    val got = spark.read.parquet(scratch).count()
    require(got == expect, s"compaction audit failed: $expect rows in, $got out")
    require(f.rename(new Path(scratch), new Path(spec.dir, s"_batch=$c")),
      s"compaction publish rename failed: $scratch -> ${spec.dir}/_batch=$c")
    writeMarker(f, spec.dir, CommitMarker, c)
    finishCompaction(spark, spec, c)
  }

  /** Post-commit tail of [[compact]], shared with roll-forward recovery:
    * delete every partition except the consolidated one, resync the
    * catalog, drop the markers.
    */
  private def finishCompaction(spark: SparkSession, spec: StoreSpec, c: Long): Unit = {
    val f = fs(spark, spec.dir)
    // delete exactly the FOLDED sources: the persisted bound (MaxValue for
    // unbounded/legacy folds) keeps real partitions above it — unfolded,
    // possibly awaiting replay — alive on disk
    val upTo = readMarker(f, spec.dir, UpToMarker).getOrElse(Long.MaxValue)
    partitionIds(f, spec.dir).filter(id => id != c && (id < 0 || id <= upTo))
      .foreach(id => f.delete(new Path(spec.dir, s"_batch=$id"), true))
    // the consolidated rewrite is sorted per bucket, and it is now the
    // ONLY partition — a legacy unsorted store earns the marker here
    writeMarker(f, spec.dir, SortedMarker, 1L)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(spec.dir)}")
    tryRegister(spark, spec)
    // INTENT dies before COMMIT: a crash between the deletes leaves
    // commit-only (rolls forward, idempotent); the reverse order would
    // leave intent-only AFTER the source partitions are gone, and the
    // next open's "rollback" would delete the consolidated partition —
    // the store's only remaining copy.
    f.delete(marker(spec.dir, IntentMarker), false)
    f.delete(marker(spec.dir, CommitMarker), false)
    // last: a stale upTo with neither intent nor commit is inert (readers
    // only consult it while a compaction is pending)
    f.delete(marker(spec.dir, UpToMarker), false)
  }

  /** Compaction crash recovery — runs on every open; a no-op unless a
    * previous compaction died between markers.
    */
  private def recover(spark: SparkSession, spec: StoreSpec): Unit = {
    val p = new Path(spec.dir)
    val f = fs(spark, spec.dir)
    if (!f.exists(p)) return
    readMarker(f, spec.dir, CommitMarker) match {
      case Some(c) => finishCompaction(spark, spec, c) // roll forward
      case None => readMarker(f, spec.dir, IntentMarker) match {
        case Some(c) => // roll back: the consolidation never became visible
          f.delete(new Path(spec.dir, s"_batch=$c"), true)
          f.delete(new Path(spec.dir.stripSuffix("/") + "_compacting"), true)
          spark.sql(s"DROP TABLE IF EXISTS ${tableName(spec.dir)}_compacting")
          // a non-mutating reader may have registered the table WITH the
          // orphan partition — drop it so the next use re-registers clean
          spark.sql(s"DROP TABLE IF EXISTS ${tableName(spec.dir)}")
          f.delete(marker(spec.dir, IntentMarker), false)
          f.delete(marker(spec.dir, UpToMarker), false)
        case None => ()
      }
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
    val f = fs(spark, spec.dir)
    if (!hasParquet(f, spec.dir)) return false
    // migrate a top-level (unpartitioned) bucketed layout into _batch=<base>
    val top = f.listStatus(new Path(spec.dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val bucketNamed = "_\\d+\\.".r
    if (top.nonEmpty) {
      if (!top.forall(st => bucketNamed.findFirstIn(st.getPath.getName).isDefined))
        return false // plain un-bucketed parquet: not ours to claim
      val base = new Path(spec.dir, s"_batch=${nextBasePartition(spark, spec)}")
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
      if (readMarker(f, spec.dir, SortedMarker).contains(1L))
        s"SORTED BY (${spec.bucketCols.map(cn => s"`$cn`").mkString(", ")}) "
      else ""
    spark.sql(
      s"""CREATE TABLE $tbl ($dataCols, `_batch` BIGINT)
         |USING parquet
         |PARTITIONED BY (_batch)
         |CLUSTERED BY (${spec.bucketCols.map(cn => s"`$cn`").mkString(", ")})
         |${sorted}INTO $nb BUCKETS
         |LOCATION '${spec.dir}'""".stripMargin)
    spark.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
    true
  }
}
