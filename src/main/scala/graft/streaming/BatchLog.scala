package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}

/** The one crash-safe fold protocol for a `_batch`-partitioned directory —
  * every index store (`BucketedStore`) and every feed
  * (`Loader.writeBatchIdempotent`) writes each micro-batch to its own
  * `_batch=<id>` partition, so a redelivered batch rewrites its partition
  * instead of appending a second copy. Appends grow FILE COUNT linearly
  * with history; [[fold]] collapses the history into one consolidated
  * `_batch=-N` partition, and everything that keeps that crash-safe lives
  * here: the marker names, the replay frontier, the pending-fold read view,
  * the fold's step order and roll-back/roll-forward recovery.
  *
  * A [[Layout]] supplies only what differs between the two kinds of
  * directory: how the fold source is read, how the consolidated rows are
  * written, what catalog state to resync, and when there is nothing worth
  * folding.
  *
  * The fold, step by step (each step's name is its crash boundary, see
  * [[Steps]]):
  *
  *   1. `frontier`: advance the replay frontier over the folded real ids.
  *      From here on the folded batches' rows stay present whichever way a
  *      crash falls (roll-back leaves the sources untouched, roll-forward
  *      keeps the consolidation), so a replay at or below it is a no-op.
  *   1. `intent`: intent marker (target partition C) and the fold bound
  *      (`upTo`). Written BEFORE the scratch write, so recovery removes a
  *      scratch dir left by a crash mid-write.
  *   1. `scratch`: the consolidated rows go to `<dir>_compacting`.
  *   1. `audit`: the scratch's row count must equal the source's.
  *   1. `rename`: one atomic rename publishes the scratch as `_batch=C`.
  *   1. `commit`: the commit marker, the linearization point — a crash
  *      before it rolls back (the fold never happened), after it rolls
  *      forward.
  *   1. `deletes`: the folded source partitions are deleted, then the
  *      layout resyncs its catalog.
  *   1. `intent-deleted`, then `commit-deleted`: INTENT dies before COMMIT.
  *      A crash between them leaves commit-only, which rolls forward; the
  *      reverse order would leave intent-only with the sources gone, and
  *      roll-back would delete the only remaining copy. The `upTo` bound
  *      goes last, since roll-forward needs it; with neither marker it is
  *      inert, and recovery removes it.
  *
  * Readers never mutate: a pending fold (in flight in its writer, or
  * crashed) is handled by [[view]]. Physical recovery runs only at writer
  * entry points ([[recover]]), so a reader in another process can never
  * destroy an in-flight fold's work. Single writer per directory.
  */
object BatchLog {

  /** The on-disk marker names of one layout. Two fixed sets, so every
    * existing directory keeps its meaning; a constant of the layout, not a
    * setting.
    */
  sealed abstract class Markers(val intent: String, val commit: String,
      val upTo: String, val frontier: String)
  object StoreMarkers extends Markers(
    "_compact_intent", "_compact_commit", "_compact_upto", "_store_frontier")
  object FeedMarkers extends Markers(
    "_feed_compact_intent", "_feed_compact_commit", "_feed_compact_upto", "_feed_frontier")

  /** What differs between a store and a feed. */
  trait Layout {
    def dir: String
    def markers: Markers
    /** Makes `dir` readable as this layout once recovery has run; false
      * when it holds nothing to fold.
      */
    def open(spark: SparkSession): Boolean = true
    /** The layout's rule for when the partitions inside the bound are worth
      * a fold.
      */
    def worthFolding(foldIds: Seq[Long]): Boolean
    /** Runs `body` on the fold source: the whole directory, `_batch`
      * included, read on the session the consolidation is written from.
      */
    def source[T](spark: SparkSession)(body: DataFrame => T): T
    /** Writes the consolidated rows (`_src_batch`, no `_batch`) to `scratch`. */
    def write(rows: DataFrame, scratch: String): Unit
    /** Resyncs catalog state over `dir` after a publish or a roll-back. */
    def refresh(spark: SparkSession, published: Boolean): Unit = ()
  }

  /** The fold's crash boundaries, in order. */
  val Steps: Seq[String] = Seq("frontier", "intent", "scratch", "audit", "rename",
    "commit", "deletes", "intent-deleted", "commit-deleted")

  /** Called with (dir, step) after each step of a fold; a crash-point spec
    * throws from it. Not a setting: nothing outside the specs assigns it.
    */
  @volatile private[streaming] var fault: (String, String) => Unit = (_, _) => ()

  /** A fold left pending on disk: target partition `c`, committed or not,
    * and its bound.
    */
  final case class Pending(c: Long, committed: Boolean, upTo: Long) {
    /** Committed: only the consolidation is real, plus what a BOUNDED fold
      * left unfolded above its bound (upTo = MaxValue degenerates to
      * `=== c`). Uncommitted: the consolidation never happened.
      */
    def visible: Column =
      if (committed) col("_batch") === c || col("_batch") > upTo
      else col("_batch") =!= c
  }

  /** The fold pending on `dir`, if any — read from the markers, never
    * mutating.
    */
  def pending(spark: SparkSession, dir: String, m: Markers): Option[Pending] = {
    val f = fs(spark, dir)
    readMarker(f, dir, m.commit) match {
      case Some(c) => Some(Pending(c, committed = true,
        readMarker(f, dir, m.upTo).getOrElse(Long.MaxValue)))
      case None => readMarker(f, dir, m.intent).map(Pending(_, committed = false, Long.MaxValue))
    }
  }

  /** `df` (a read of the directory) as a reader may see it under `p`. */
  def view(df: DataFrame, p: Option[Pending]): DataFrame =
    p.fold(df)(q => df.filter(q.visible))

  /** The FRONTIER: the highest REAL (≥ 0) batch id ever folded —
    * permanent layout state. None ⇔ no fold ever covered a real batch.
    */
  def frontier(spark: SparkSession, dir: String, m: Markers): Option[Long] =
    readMarker(fs(spark, dir), dir, m.frontier)

  /** The replay guard: true when `batchId` is a real id at or below the
    * frontier, i.e. its rows already ride in a consolidation and writing
    * its partition again would duplicate them. Negative ids (rebuild
    * bases, migrations, backfill revisions) are deliberate publish channels
    * and stay writable. The guard cannot tell a replay from a first-time
    * batch, so monotone id assignment (foreachBatch's) is part of the
    * contract — hence the loud log.
    */
  def replayed(spark: SparkSession, dir: String, m: Markers, batchId: Long): Boolean =
    batchId >= 0 && frontier(spark, dir, m).exists { fr =>
      batchId <= fr && {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$dir, batch $batchId: no-op, the id is at/below the compaction frontier $fr. " +
            "Correct for a replay of a folded batch; if this is a FIRST-TIME batch " +
            "(a checkpoint reset against a compacted dir), its rows were just dropped: " +
            "reprocess into a fresh dir.")
        true
      }
    }

  /** Collapses the partitions with real id ≤ `upTo` (negative partitions
    * always fold) into one consolidated partition, by the steps above.
    * Maintenance sinks pass their just-committed batch id as `upTo`: after
    * an old-checkpoint restore the disk can hold a CRASH-PARTIAL partition
    * above the replay position, and an unbounded fold would swallow its
    * partial rows and advance the frontier over it (its replay becomes a
    * no-op: partial rows permanent, missing rows lost). Bounded, it stays
    * on disk and its replay still rewrites it. MaxValue is the whole-dir
    * fold of offline maintenance.
    */
  def fold(spark: SparkSession, layout: Layout, upTo: Long): Unit = {
    recover(spark, layout)
    if (!layout.open(spark)) return
    val dir = layout.dir
    val m = layout.markers
    val f = fs(spark, dir)
    val foldIds = partitionIds(f, dir).filter(id => id < 0 || id <= upTo)
    if (!layout.worthFolding(foldIds)) return
    val c = nextBase(f, dir)
    // only ids inside the bound advance the frontier — a later (possibly
    // crash-partial, not yet replayed) partition must stay replayable
    foldIds.filter(_ >= 0).maxOption.foreach { maxReal =>
      writeMarker(f, dir, m.frontier,
        math.max(maxReal, readMarker(f, dir, m.frontier).getOrElse(Long.MinValue)))
    }
    fault(dir, "frontier")
    writeMarker(f, dir, m.intent, c)
    writeMarker(f, dir, m.upTo, upTo)
    fault(dir, "intent")
    val scratch = scratchDir(dir)
    f.delete(new Path(scratch), true)
    val expect = layout.source(spark) { src =>
      // `_src_batch` (each row's original batch id) rides through as a data
      // column, so strictly-earlier, exclude-own-batch and by-revision reads
      // survive the fold; legacy rows materialize it from their partition
      // id, and rows inside a legacy consolidation keep its negative id
      // ("earlier than everything")
      val all = src.filter(col("_batch") < 0 || col("_batch") <= upTo)
      val rows = (
        if (all.columns.contains("_src_batch"))
          all.withColumn("_src_batch", coalesce(col("_src_batch"), col("_batch")))
        else all.withColumn("_src_batch", col("_batch"))
      ).drop("_batch")
      val n = rows.count()
      layout.write(rows, scratch)
      n
    }
    fault(dir, "scratch")
    val got = spark.read.parquet(scratch).count()
    require(got == expect, s"compaction audit failed on $dir: $expect rows in, $got out")
    fault(dir, "audit")
    require(f.rename(new Path(scratch), partition(dir, c)),
      s"compaction publish rename failed: $scratch -> $dir/_batch=$c")
    fault(dir, "rename")
    writeMarker(f, dir, m.commit, c)
    fault(dir, "commit")
    finish(spark, layout, f, c)
  }

  /** Roll-back/roll-forward of a fold that died between its markers, and
    * removal of the staging dirs a crashed [[BatchPartitionWriter]] left
    * (with a single writer, any staging dir at writer entry is stale); a
    * no-op otherwise. Every writer entry point runs it first.
    */
  def recover(spark: SparkSession, layout: Layout): Unit = {
    val dir = layout.dir
    val m = layout.markers
    val f = fs(spark, dir)
    Option(f.globStatus(new Path(dir, BatchPartitionWriter.StagingPrefix + "*")))
      .foreach(_.foreach(st => f.delete(st.getPath, true)))
    val upTo = new Path(dir, m.upTo)
    readMarker(f, dir, m.commit) match {
      case Some(c) => finish(spark, layout, f, c)
      case None => readMarker(f, dir, m.intent) match {
        case Some(c) =>
          // roll back: the consolidation never became visible
          f.delete(partition(dir, c), true)
          f.delete(new Path(scratchDir(dir)), true)
          layout.refresh(spark, published = false)
          f.delete(new Path(dir, m.intent), false)
          f.delete(upTo, false)
        // a bound outliving both markers (a crash after the commit delete)
        // is inert, but it is a compaction marker all the same
        case None => if (f.exists(upTo)) f.delete(upTo, false)
      }
    }
  }

  /** Post-commit tail of [[fold]], shared with roll-forward recovery. */
  private def finish(spark: SparkSession, layout: Layout, f: FileSystem, c: Long): Unit = {
    val dir = layout.dir
    val m = layout.markers
    // delete exactly the FOLDED sources: the persisted bound (MaxValue for
    // unbounded folds) keeps real partitions above it alive
    val upTo = readMarker(f, dir, m.upTo).getOrElse(Long.MaxValue)
    partitionIds(f, dir).filter(id => id != c && (id < 0 || id <= upTo))
      .foreach(id => f.delete(partition(dir, id), true))
    fault(dir, "deletes")
    layout.refresh(spark, published = true)
    f.delete(new Path(dir, m.intent), false)
    fault(dir, "intent-deleted")
    f.delete(new Path(dir, m.commit), false)
    fault(dir, "commit-deleted")
    f.delete(new Path(dir, m.upTo), false)
  }

  private[streaming] def scratchDir(dir: String): String = dir.stripSuffix("/") + "_compacting"

  private def partition(dir: String, id: Long) = new Path(dir, s"_batch=$id")

  private[streaming] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[streaming] def partitionIds(f: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
      .map(_.getPath.getName.stripPrefix("_batch=").toLong)
  }

  /** A partition id for consolidated data below every existing one:
    * strictly negative and decreasing, so it never collides with a real
    * batch's own-partition rewrite.
    */
  private[streaming] def nextBase(f: FileSystem, dir: String): Long =
    math.min(0L, partitionIds(f, dir).minOption.getOrElse(0L)) - 1L

  /** Whether a parquet file that a read of `dir` would see lives under it
    * (a write of zero rows creates none). Hidden paths are skipped as
    * Spark's file listing skips them (a `.` prefix, or a `_` prefix without
    * `=`), so a crashed write's staging files never read as data.
    */
  private[streaming] def hasParquet(f: FileSystem, dir: String): Boolean = {
    def hidden(name: String) = name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def visit(p: Path): Boolean = f.listStatus(p).exists { st =>
      !hidden(st.getPath.getName) &&
        (if (st.isDirectory) visit(st.getPath) else st.getPath.getName.endsWith(".parquet"))
    }
    val p = new Path(dir)
    f.exists(p) && visit(p)
  }

  private[streaming] def writeMarker(f: FileSystem, dir: String, name: String, v: Long): Unit = {
    val os = f.create(new Path(dir, name), true)
    try os.write(v.toString.getBytes("UTF-8")) finally os.close()
  }

  private[streaming] def readMarker(f: FileSystem, dir: String, name: String): Option[Long] = {
    val p = new Path(dir, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }
}
