package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Write-audit-publish storage for an incrementally maintained VIEW (the
  * q92 rollup / q94 funnel merge sink) on a plain filesystem — the
  * transactional-table-format discipline (Delta/Iceberg snapshot +
  * pointer swap) reduced to what HDFS/posix primitives guarantee:
  *
  *   layout   out/v=<batchId>/part-*.parquet   immutable version dirs
  *            out/_CURRENT                      one-line pointer "v=<id>"
  *
  *  - WRITE: each micro-batch merges into a NEW version dir (never the one
  *    readers are on), first under a `_tmp_` name invisible to the publish
  *    protocol;
  *  - AUDIT: the written files are read back and row-counted against the
  *    merged frame before anything becomes visible — a torn or partial
  *    write can never publish;
  *  - PUBLISH: directory rename (atomic) then pointer swap via
  *    FileContext.rename(OVERWRITE) (atomic on posix/HDFS). A crash at ANY
  *    point leaves `_CURRENT` on the previous complete version — the view
  *    is never lost and never observably partial, fixing the
  *    overwrite-in-place sink's at-most-once window (it deleted the live
  *    files before committing the new ones).
  *  - READERS resolve `_CURRENT` once and then read an immutable dir; the
  *    previous version is retained one publish cycle so an in-flight
  *    reader that resolved just before a swap still finds its files.
  *  - REPLAY (at-least-once foreachBatch): versions are named by batchId.
  *    A replayed batch whose version is already current is a no-op; a
  *    version dir left by a crash mid-publish is torn down and rebuilt.
  *    Either way the merge result is byte-identical (idempotent upsert).
  *
  * At warehouse scale the same body is one MERGE INTO on a transactional
  * table; this object exists so the durability story doesn't depend on
  * having one.
  */
object VersionedView {

  private val Current = "_CURRENT"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live version name ("v=<id>"), if any publish has completed. */
  def currentVersion(spark: SparkSession, out: String): Option[String] = {
    val fs = fsOf(spark, out)
    val ptr = new Path(out, Current)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }
  }

  /** Read the view as of its latest published version (empty-schema-less
    * None is the caller's "first batch" signal — see mergeSink).
    */
  def read(spark: SparkSession, out: String): Option[DataFrame] =
    currentVersion(spark, out).map(v => spark.read.parquet(s"$out/$v"))

  /** Retained version names, oldest first (current + one predecessor under
    * the default retention) — the snapshot list a time-travel read picks
    * from.
    */
  def versions(spark: SparkSession, out: String): Seq[String] = {
    val fs = fsOf(spark, out)
    val p = new Path(out)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(_.getPath.getName).sortBy(_.drop(2).toLong).toSeq
  }

  /** TIME-TRAVEL read of a specific retained snapshot (version dirs are
    * immutable, so the frame is stable no matter what publishes next).
    * Throws if the version has been retention-dropped — the same contract
    * as a transactional format's expired snapshot.
    */
  def readVersion(spark: SparkSession, out: String, version: String): DataFrame = {
    require(versions(spark, out).contains(version),
      s"version $version not retained (have: ${versions(spark, out).mkString(", ")})")
    spark.read.parquet(s"$out/$version")
  }

  /** foreachBatch body: LATEST-ROW-WINS merge of each micro-batch into the
    * view keyed by `keys`, published write-audit-publish. The merge reads
    * the CURRENT version and writes a NEW one, so (unlike an in-place
    * overwrite) no materialization barrier is needed between read and
    * write, and a crash anywhere leaves the previous version live.
    */
  def mergeSink(out: String, keys: Seq[String]): (DataFrame, Long) => Unit =
    versionedSink(out) { (batch, cur) =>
      cur match {
        case None => batch
        case Some(c) => c
          .join(batch.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(batch.select(c.columns.map(col).toIndexedSeq: _*))
      }
    }

  /** CDC-APPLY sink: maintain the CURRENT-STATE table of a change stream
    * (key + ordering columns + payload, deletes included) with TOMBSTONE
    * retention — the design that stays correct when changes arrive out of
    * order across micro-batches, where a delete-branch MERGE cannot: once
    * a DELETE physically removes the row, a stale pre-delete update
    * arriving later finds no match and RESURRECTS the key. Here every key
    * keeps exactly one row — the lexicographic-max change by `ord` — and a
    * delete is just a row whose `opCol` holds `deleteOp`; [[readState]]
    * filters tombstones. Final state per key is the global argmax over all
    * arrivals regardless of how the stream was batched.
    *
    * Per batch: reduce the batch to its own latest change per key (one
    * partitioned window), then a conditional latest-wins
    * [[graft.operators.MergeInto]] against the current version (matched
    * rows update only when the incoming ord is strictly newer), published
    * through the same write-audit-publish protocol as [[mergeSink]]. At
    * warehouse scale the merge body is `MERGE INTO ... WHEN MATCHED AND
    * s.ord > t.ord THEN UPDATE WHEN NOT MATCHED THEN INSERT` on a
    * transactional table, with periodic tombstone compaction.
    */
  def cdcSink(out: String, keys: Seq[String], ordCols: Seq[String])
      : (DataFrame, Long) => Unit = {
    require(ordCols.nonEmpty, "CDC apply needs at least one ordering column")
    versionedSink(out) { (batch, cur) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(ordCols.map(col(_).desc): _*)
      val latest = batch
        .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      cur match {
        case None => latest
        case Some(c) =>
          // strict lexicographic "s newer than t" over the ordering columns
          val newer = ordCols.zipWithIndex.map { case (o, i) =>
            val ties = ordCols.take(i).map(p => col(s"s_$p") === col(s"t_$p"))
            (ties :+ (col(s"s_$o") > col(s"t_$o"))).reduce(_ && _)
          }.reduce(_ || _)
          val nonKey = c.columns.filterNot(keys.contains).toSeq
          graft.operators.MergeInto.merge(c, latest, keys,
            setOnMatch = nonKey.map(cl => cl ->
              org.apache.spark.sql.functions.when(newer, col(s"s_$cl"))
                .otherwise(col(s"t_$cl"))).toMap,
            insertOnUnmatched = nonKey.map(cl => cl -> col(s"s_$cl")).toMap,
            // latest is unique per key by construction (the window above)
            checkCardinality = false)
      }
    }
  }

  /** Read the latest published version whose batchId is STRICTLY below
    * `batchId` — the pre-batch snapshot a multi-view sink must recompute
    * from when an earlier-published sibling view already advanced to
    * `batchId` during a replay. Safe under the current+previous retention:
    * publishing v=`batchId` retains exactly the pre-batch version.
    */
  private[streaming] def readBefore(spark: SparkSession, out: String,
      batchId: Long): Option[DataFrame] =
    versions(spark, out).map(_.drop(2).toLong).filter(_ < batchId)
      .sorted.lastOption.map(v => spark.read.parquet(s"$out/v=$v"))

  /** Read the current state of a [[cdcSink]] view with tombstones hidden. */
  def readState(spark: SparkSession, out: String, opCol: String,
      deleteOp: String = "D"): Option[DataFrame] =
    read(spark, out).map(_.filter(col(opCol) =!= deleteOp))

  /** RETRACTABLE streaming aggregate view — the Flink retract-stream
    * pattern Spark has no native operator for: a per-group (COUNT, SUM)
    * aggregate over the LIVE rows of a CDC stream, maintained
    * INCREMENTALLY. An update retracts the old value and adds the new one;
    * a delete retracts; a stale (out-of-order) change contributes nothing —
    * so the aggregate telescopes to the aggregate of the final state under
    * ANY batch split, without ever rescanning the state table.
    *
    * Per batch (both views keyed by batchId, so replay is idempotent):
    *   1. reduce the batch to its latest change per key (one window);
    *   2. LEFT-join against the PRE-batch state to decide, per key, whether
    *      the change APPLIES (no prior row, or strictly newer by `ordCols`)
    *      and what it retracts (the prior live value, 0 if tombstone/none);
    *   3. per-group deltas: Δn = liveness(new) − liveness(old),
    *      Δsum = value(new) − value(old), in exact micro-integers;
    *   4. merge the deltas into the agg view (MergeInto: matched adds,
    *      unmatched inserts) and PUBLISH IT FIRST — then run [[cdcSink]]'s
    *      state merge. A crash between the two replays the batch: the agg
    *      version already exists (skip), the state merge re-applies
    *      idempotently. Publishing state first would be wrong: a replay
    *      would recompute deltas against the POST-batch state and lose the
    *      batch from the aggregate.
    *
    * `valueMicro` must be an integer-typed expression over the change row
    * (micro-scaled for decimals — exactness discipline, no float drift
    * across arbitrary retract chains). `groupCol` must be a pure function
    * of the KEY columns: the retraction is booked against the incoming
    * change's group, which equals the old row's group only when the group
    * is key-derived (a value-derived group would need the old row's group
    * for the retract side — a different operator). Group cardinality
    * bounds the agg view; the state view is key-sized. Both are
    * corpus-scale tables the MERGE touches once per batch.
    */
  def retractAggSink(stateOut: String, aggOut: String, keys: Seq[String],
      ordCols: Seq[String], opCol: String, groupCol: Column,
      valueMicro: Column, deleteOp: String = "D"): (DataFrame, Long) => Unit =
    retractSink(stateOut, aggOut, keys, ordCols, opCol, groupCol, valueMicro, deleteOp) {
      (applied, curAgg) =>
        val z = org.apache.spark.sql.functions.lit(0L)
        val deltas = applied.groupBy(col("_g").as("g"))
          .agg(
            org.apache.spark.sql.functions.sum(col("_live") -
              org.apache.spark.sql.functions.coalesce(col("_old_live"), z)).as("dn"),
            org.apache.spark.sql.functions.sum(col("_v") -
              org.apache.spark.sql.functions.coalesce(col("_old_v"), z)).as("dsum"))
        curAgg match {
          case None => deltas
          case Some(a) => graft.operators.MergeInto.merge(a, deltas, Seq("g"),
            setOnMatch = Map(
              "dn" -> (col("t_dn") + col("s_dn")),
              "dsum" -> (col("t_dsum") + col("s_dsum"))),
            insertOnUnmatched = Map(
              "dn" -> col("s_dn"), "dsum" -> col("s_dsum")),
            checkCardinality = false)
        }
    }

  /** The body both retract sinks share: one applied-changes pass feeds the
    * first view (`firstOut`, built by `first` from the applied set and its
    * current version) and the state view; the two prepares overlap, and
    * the publishes stay ordered — first view, then state.
    */
  private def retractSink(stateOut: String, firstOut: String, keys: Seq[String],
      ordCols: Seq[String], opCol: String, groupCol: Column, valueMicro: Column,
      deleteOp: String)(first: (DataFrame, Option[DataFrame]) => DataFrame)
      : (DataFrame, Long) => Unit = {
    require(ordCols.nonEmpty, "a retract sink needs at least one ordering column")
    (batch, batchId) => {
      val sp = batch.sparkSession
      // state publishes LAST, so state-at-batchId ⇒ the whole batch
      // (both views) already published — a replay can no-op before
      // computing anything
      if (currentVersion(sp, stateOut).contains(s"v=$batchId")) () else {
      // ONE applied-changes pass feeds BOTH views (r14 job diet): the old
      // shape windowed the batch and probed the state twice (once for the
      // deltas, once inside cdcSink's MERGE). The state successor is
      // derivable from the same `applied` set — a change applies ⇔ the
      // merge's conditional update fires — so state' =
      // (state ∖ applied keys) ∪ applied rows, row-identical to the MERGE.
      val applied = appliedChanges(batch, read(sp, stateOut),
        keys, ordCols, opCol, groupCol, valueMicro, deleteOp)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        applied.count() // materialize once; both prepares read the cache
        val Seq(firstStaged, stateStaged) = Concurrently(sp)(Seq(
          () => prepareVersion(sp, firstOut, batchId, first(applied, _)),
          () => prepareVersion(sp, stateOut, batchId,
            applyAppliedToState(batch, applied, keys))))
        // publish order is the replay invariant: first view FIRST, state
        // second (see retractAggSink) — only the POINTER SWAPS are ordered;
        // the heavy writes above ran concurrently (guide §2.6).
        firstStaged.foreach(publishVersion(sp, firstOut, _))
        stateStaged.foreach(publishVersion(sp, stateOut, _))
      } finally applied.unpersist()
      }
    }
  }

  /** The state successor from the shared `applied` set — row-identical to
    * [[cdcSink]]'s conditional latest-wins MERGE: a change applies ⇔ the
    * merge's "strictly newer" update fires, so the new state is the old
    * rows whose keys did not apply plus the applied rows themselves
    * (tombstones included — retention semantics unchanged). With no prior
    * state, `applied` IS the batch's latest-per-key set (nothing filters).
    */
  private def applyAppliedToState(batch: DataFrame, applied: DataFrame,
      keys: Seq[String]): Option[DataFrame] => DataFrame = {
    case None => applied.select(batch.columns.map(col).toIndexedSeq: _*)
    case Some(c) => c
      .join(applied.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(applied.select(c.columns.map(col).toIndexedSeq: _*))
  }

  /** RETRACTABLE streaming MIN/MAX — the NON-INVERTIBLE aggregate case,
    * where [[retractAggSink]]'s delta algebra cannot work: removing the
    * current minimum requires knowing the runner-up, so some index over
    * live VALUES must persist. This sink maintains exactly that index (the
    * table form of Flink's sorted aggregate state): a versioned
    * (g, v) → cnt view of live-value multiplicities, updated by ±1 deltas
    * from the same applied-changes computation, and [[readMinMax]] folds it
    * to per-group MIN/MAX/COUNT at read time — an aggregate over the
    * INDEX (live-value-cardinality-sized), never over the corpus or the
    * event history. Publish order (index before state) and replay
    * idempotency follow [[retractAggSink]] exactly.
    */
  def retractMinMaxSink(stateOut: String, idxOut: String, keys: Seq[String],
      ordCols: Seq[String], opCol: String, groupCol: Column,
      valueMicro: Column, deleteOp: String = "D"): (DataFrame, Long) => Unit =
    retractSink(stateOut, idxOut, keys, ordCols, opCol, groupCol, valueMicro, deleteOp) {
      (applied, curIdx) =>
        // every applied change contributes up to two index rows: retract the
        // old live value, insert the new one
        val adds = applied.filter(col("_live") === 1L)
          .select(col("_g").as("g"), col("_v").as("v"),
            org.apache.spark.sql.functions.lit(1L).as("dcnt"))
        val retracts = applied.filter(col("_old_live") === 1L)
          .select(col("_g").as("g"), col("_old_v").as("v"),
            org.apache.spark.sql.functions.lit(-1L).as("dcnt"))
        val deltas = adds.unionByName(retracts)
          .groupBy(col("g"), col("v"))
          .agg(org.apache.spark.sql.functions.sum(col("dcnt")).as("dcnt"))
        // COMPACT at publish: a (g, v) row whose live multiplicity drained
        // to 0 carries no information, and under adversarial value churn
        // (one key cycling through ever-new values) keeping them would grow
        // the index with HISTORY cardinality instead of live-value
        // cardinality — the classic unbounded-state leak. Dropping them
        // here pins index rows == live distinct (g, v) values
        // (StateScaleSpec enforces it).
        val merged = curIdx match {
          case None => deltas
          case Some(a) => graft.operators.MergeInto.merge(a, deltas, Seq("g", "v"),
            setOnMatch = Map("dcnt" -> (col("t_dcnt") + col("s_dcnt"))),
            insertOnUnmatched = Map("dcnt" -> col("s_dcnt")),
            checkCardinality = false)
        }
        merged.filter(col("dcnt") =!= 0L)
    }

  /** Fold a [[retractMinMaxSink]] index to (g, n_live, min_v, max_v) —
    * drained groups (no live values) disappear.
    */
  def readMinMax(spark: SparkSession, idxOut: String): Option[DataFrame] =
    read(spark, idxOut).map(_
      .filter(col("dcnt") > 0)
      .groupBy(col("g"))
      .agg(org.apache.spark.sql.functions.sum(col("dcnt")).as("n_live"),
        org.apache.spark.sql.functions.min(col("v")).as("min_v"),
        org.apache.spark.sql.functions.max(col("v")).as("max_v")))

  /** CONTINUOUS TOP-K leaderboard over a [[retractMinMaxSink]] index:
    * (g, rank, v) for the k largest live values per group, duplicates
    * counted by multiplicity (two keys holding the same value occupy two
    * ranks). The k·multiplicity expansion happens AFTER the index filter,
    * so the window ranks index rows per group — live-value-cardinality
    * work, the leaderboard read a maintained sorted state exists for.
    */
  def readTopK(spark: SparkSession, idxOut: String, k: Int): Option[DataFrame] = {
    require(k > 0, "top-k needs k > 0")
    val f = org.apache.spark.sql.functions
    read(spark, idxOut).map { idx =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc)
      idx.filter(col("dcnt") > 0)
        // expand multiplicity only up to k — a value held by 10k keys
        // contributes at most k leaderboard rows
        .select(col("g"), f.explode(f.array_repeat(col("v"),
          f.least(col("dcnt"), f.lit(k.toLong)).cast("int"))).as("v"))
        .withColumn("rank", f.row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("g"), col("rank"), col("v"))
    }
  }

  /** EXACT RUNNING MEDIAN over a [[retractMinMaxSink]] index: per group,
    * the lower median of the LIVE value multiset — the smallest v whose
    * cumulative live count reaches half the population (2·cum ≥ n). Like
    * [[readTopK]] this is a fold of the maintained index: one cumulative
    * window over index ROWS per group (live-value cardinality, never keys
    * or history), which is what makes an exact continuously-queryable
    * median tractable at all — the classic impossible-for-deltas aggregate.
    */
  def readMedian(spark: SparkSession, idxOut: String): Option[DataFrame] = {
    val f = org.apache.spark.sql.functions
    read(spark, idxOut).map { idx =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      idx.filter(col("dcnt") > 0)
        .withColumn("cum", f.sum(col("dcnt")).over(w))
        .withColumn("n", f.sum(col("dcnt")).over(wg))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("g"))
        .agg(f.min(col("v")).as("median_v"), f.min(col("n")).as("n_live"))
    }
  }

  /** The shared retraction front end: the batch reduced to its latest
    * change per key, LEFT-joined against pre-batch state, filtered to the
    * changes that APPLY (no prior row, or strictly newer by `ordCols`).
    * Output columns: the keys, `_g`, `_live`/`_v` (the incoming change's
    * liveness and value, 0 when delete) and `_old_live`/`_old_v` (the
    * replaced row's, NULL when the key is new).
    */
  private def appliedChanges(batch: DataFrame, state: Option[DataFrame],
      keys: Seq[String], ordCols: Seq[String], opCol: String,
      groupCol: Column, valueMicro: Column, deleteOp: String): DataFrame = {
    val f = org.apache.spark.sql.functions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordCols.map(col(_).desc): _*)
    val latest = batch
      .withColumn("_rn", f.row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("_g", groupCol)
      .withColumn("_live", f.when(col(opCol) =!= deleteOp, 1L).otherwise(0L))
      .withColumn("_v",
        f.when(col(opCol) =!= deleteOp, valueMicro).otherwise(f.lit(0L)))
    state match {
      case None => latest
        .withColumn("_old_live", f.lit(null).cast("long"))
        .withColumn("_old_v", f.lit(null).cast("long"))
      case Some(st) =>
        // explicit presence flag (mirrors MergeInto's _t_present) — "no
        // prior row" must NOT be inferred from ord-column nullness, or a
        // genuine prior state row whose first ordering column is NULL
        // would be misclassified as absent and this view would diverge
        // from cdcSink's merge (which evaluates NULL ord -> not newer).
        val old = st
          .withColumn("_old_live", f.when(col(opCol) =!= deleteOp, 1L).otherwise(0L))
          .withColumn("_old_v",
            f.when(col(opCol) =!= deleteOp, valueMicro).otherwise(f.lit(0L)))
          .select(keys.map(col) ++
            (ordCols.map(o => col(o).as(s"_old_$o")) :+
              col("_old_live") :+ col("_old_v") :+
              f.lit(1).as("_old_present")): _*)
        val j = latest.join(old, keys, "left")
        val newer = ordCols.zipWithIndex.map { case (o, i) =>
          val ties = ordCols.take(i).map(p => col(p) === col(s"_old_$p"))
          (ties :+ (col(o) > col(s"_old_$o"))).reduce(_ && _)
        }.reduce(_ || _)
        j.filter(col("_old_present").isNull || newer).drop("_old_present")
    }
  }

  /** Read a [[retractAggSink]] aggregate view: (g, n_live, sum_micro),
    * groups whose live population drained to zero hidden.
    */
  def readAgg(spark: SparkSession, aggOut: String): Option[DataFrame] =
    read(spark, aggOut).map(_
      .filter(col("dn") > 0)
      .select(col("g"), col("dn").as("n_live"), col("dsum").as("sum_micro")))

  /** Write-audit-publish core shared by the sinks (package-visible so
    * sibling sinks like [[IncrementalCC]] build on the same protocol):
    * `mk` builds the new version from (batch, current version contents).
    */
  private[streaming] def versionedSink(out: String)(
      mk: (DataFrame, Option[DataFrame]) => DataFrame): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val sp = batch.sparkSession
      prepareVersion(sp, out, batchId,
        cur => mk(batch, cur)).foreach(publishVersion(sp, out, _))
  }

  /** A fully written-and-audited version awaiting publish: nothing under
    * `out` is visible to readers until [[publishVersion]] swaps the
    * pointer, so prepares for INDEPENDENT views may run concurrently and
    * the (order-sensitive) publishes still happen exactly where the caller
    * sequences them.
    */
  private final case class Staged(versionName: String, cur: Option[String])

  /** WRITE + AUDIT a new version (no visibility change): build the merged
    * frame against the current version, write it under a `_tmp_` name,
    * read-count audit. None ⇔ the batch is already the published current
    * version (a replay of a fully published batch — nothing to do).
    */
  private def prepareVersion(sp: SparkSession, out: String, batchId: Long,
      mk: Option[DataFrame] => DataFrame): Option[Staged] = {
    val fs = fsOf(sp, out)
    fs.mkdirs(new Path(out))
    val versionName = s"v=$batchId"
    val cur = currentVersion(sp, out)
    if (cur.contains(versionName)) None // replay of a fully published batch
    else {
      val finalDir = new Path(out, versionName)
      // crash between dir-rename and pointer-swap leaves an unpublished
      // complete dir; rebuild it (cheap: view-sized) rather than trust it
      if (fs.exists(finalDir)) fs.delete(finalDir, true)
      val merged = mk(cur.map(v => sp.read.parquet(s"$out/$v")))
      val tmp = new Path(out, s"_tmp_$versionName")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // the expected count rides the WRITE job as an observe() metric —
      // a separate merged.count() would recompute the whole merge plan
      // a second time per batch
      val obs = org.apache.spark.sql.Observation(
        s"vview_audit_${versionName}_${System.nanoTime()}")
      merged.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.parquet(tmp.toString)
      val expect = obs.get("n").asInstanceOf[Long]
      // AUDIT: the files about to publish must re-read to the same count
      val got = sp.read.parquet(tmp.toString).count()
      require(got == expect,
        s"merge audit failed for $versionName: wrote $expect rows, read back $got")
      Some(Staged(versionName, cur))
    }
  }

  /** PUBLISH a prepared version: atomic dir rename, then atomic pointer
    * swap, then retention. This is the ONLY visibility change, so publish
    * ORDER between views is exactly the caller's call order — the property
    * the retract sinks' replay story depends on (agg/index first, state
    * second).
    */
  private def publishVersion(sp: SparkSession, out: String, staged: Staged): Unit = {
    val fs = fsOf(sp, out)
    val outPath = new Path(out)
    val tmp = new Path(out, s"_tmp_${staged.versionName}")
    val finalDir = new Path(out, staged.versionName)
    require(fs.rename(tmp, finalDir), s"publish rename failed: $tmp -> $finalDir")
    val fc = FileContext.getFileContext(outPath.toUri,
      sp.sparkContext.hadoopConfiguration)
    val ptrTmp = new Path(out, s"$Current.tmp")
    val os = fs.create(ptrTmp, true)
    try os.write(staged.versionName.getBytes("UTF-8")) finally os.close()
    fc.rename(ptrTmp, new Path(out, Current), Options.Rename.OVERWRITE)
    // RETENTION: keep current + previous (in-flight readers), drop older
    val keep = Set(staged.versionName) ++ staged.cur
    fs.listStatus(outPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filterNot(st => keep(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }
}
