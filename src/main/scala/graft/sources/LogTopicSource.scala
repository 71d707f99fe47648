package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** KAFKA-SHAPED micro-batch source over a log DIRECTORY "topic" — the
  * broker-backed successor architecture for the reference's ingest edge
  * (SURVEY §6: a production rebuild would put a durable log between the
  * feed and the engine), emulated on shared storage so the full seek /
  * replay / commit offset lifecycle is pinned without a broker dependency.
  *
  * Topic layout (what Kafka's partitioned segmented log looks like on a
  * filesystem):
  *
  *   topic/p=<k>/seg-<startOffset>-<count>.log   immutable segment files,
  *                                               one record per line
  *   topic/_committed.json                       consumer-progress marker
  *                                               (observability only)
  *
  * Kafka-parallel semantics, all spec-pinned (LogTopicSpec):
  *  - offsets are PER-PARTITION longs; the stream offset is the
  *    partition→offset map (exactly Kafka's consumer position), serialized
  *    as JSON into the streaming checkpoint;
  *  - ordering is guaranteed within a partition only;
  *  - `latestOffset` discovers new segments by LISTING (segment names
  *    carry start+count, so the end offset needs no data read — the
  *    analogue of a broker's end-offset API);
  *  - admission control caps each trigger's rows (split across partitions)
  *    — a restarted consumer far behind the head catches up in bounded
  *    batches, never one giant one;
  *  - `commit(end)` records consumer progress to `_committed.json` — like
  *    a consumer-group commit it is observability/retention input, NOT the
  *    recovery source of truth (the checkpoint is);
  *  - replay: planInputPartitions for any already-read range re-reads the
  *    immutable segments — a failed batch re-runs byte-identically.
  *
  * UNLIKE TickSocketSource (driver-side buffer, natural for one live TCP
  * connection; its partitions carry the rows, as many as the trigger's
  * bytes call for), records here never touch the driver: each InputPartition
  * ships (dir, partition, range) and EXECUTORS read the segment files —
  * the scalable shape when the log lives on shared storage. Reader
  * parallelism = topic partitions, Kafka's own model.
  */
class LogTopicProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogTopic.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogTopicTable(new CaseInsensitiveStringMap(properties))
}

/** Topic helpers: the writer API (what a producer/connector would do) and
  * the segment-listing primitives the source shares with it.
  */
object LogTopic {
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private val SegRe = "seg-(\\d+)-(\\d+)\\.log".r

  /** (startOffset, count, file) for each segment of topic-partition `p`,
    * sorted by start. Contiguity is validated — a gap means a lost
    * segment, which must fail loudly, not read as silent data loss.
    */
  def segments(dir: String, p: Int): Seq[(Long, Long, java.io.File)] = {
    val pd = new java.io.File(dir, s"p=$p")
    val segs = Option(pd.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        f.getName match {
          case SegRe(s, n) => Some((s.toLong, n.toLong, f))
          case _ => None
        }
      }.sortBy(_._1).toSeq
    segs.sliding(2).foreach {
      case Seq((s1, n1, f1), (s2, _, _)) =>
        require(s1 + n1 == s2, s"segment gap in ${f1.getParent}: $s1+$n1 != $s2")
      case _ =>
    }
    segs
  }

  /** End offset (exclusive) of partition `p` — from listing alone. */
  def endOffset(dir: String, p: Int): Long =
    segments(dir, p).lastOption.map { case (s, n, _) => s + n }.getOrElse(0L)

  def partitions(dir: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
      .map(_.getName.drop(2).toInt).sorted.toSeq

  /** Producer API: append `records` to partition `p` as one new immutable
    * segment (write temp + atomic rename, so a concurrently listing
    * consumer never sees a partial segment).
    *
    * `expectedStart` is the IDEMPOTENT-PRODUCER guard (Kafka's sequence
    * number): pass the offset this batch believes it starts at, and a
    * RETRY of an already-published append becomes a no-op (returns false)
    * instead of a duplicate segment — while a genuine gap (expected ahead
    * of the head: a lost segment) still fails loudly. None keeps fire-and-
    * forget semantics for callers with their own dedup.
    *
    * SHARED-FILESYSTEM CONTRACT: the topic dir is plain `java.io.File` —
    * a producer task running on an executor writes to the filesystem the
    * EXECUTOR sees. Distributed producers (q104's foreachPartition) are
    * therefore only correct when all executors share the topic directory
    * (local mode, NFS/shared scratch); a real multi-host deployment puts
    * the topic on the shared store or runs one producer per broker-local
    * dir, exactly as Kafka does. The tmp stage is ATTEMPT-UNIQUE (task
    * attempt id when on an executor) so a speculative or zombie duplicate
    * attempt of the same producer task can never interleave bytes with the
    * original in one tmp file — both stage privately; `expectedStart` +
    * the atomic rename then serialize a single winner.
    *
    * @return true if a segment was written, false for an idempotent-retry
    *         no-op
    */
  def append(dir: String, p: Int, records: Seq[String],
      expectedStart: Option[Long] = None): Boolean = {
    if (records.isEmpty) false
    else {
      records.foreach(r => require(!r.contains('\n'), "record may not contain newline"))
      val pd = new java.io.File(dir, s"p=$p")
      pd.mkdirs()
      val start = endOffset(dir, p)
      expectedStart match {
        case Some(e) if e < start => return false // retry of a published batch
        case Some(e) if e > start =>
          throw new IllegalStateException(
            s"producer gap on p=$p: expected to append at $e but head is $start")
        case _ =>
      }
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(-1L)
      val uniq = s"$attempt-${Thread.currentThread().getId}"
      val tmp = new java.io.File(pd, s".seg-$start-${records.size}-$uniq.log.tmp")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try records.foreach(w.println) finally w.close()
      val fin = new java.io.File(pd, s"seg-$start-${records.size}.log")
      // two attempts may both reach here with identical content; renameTo
      // fails for the loser once the winner's segment exists — same rows,
      // so losing is a success (clean up the stage and report published)
      if (!tmp.renameTo(fin)) {
        require(fin.exists(), s"segment publish failed: $fin")
        tmp.delete()
      }
      true
    }
  }

  /** RETENTION: delete segments lying ENTIRELY below each partition's
    * floor (typically the committed consumer floor, minus any replay
    * safety window). A segment straddling the floor is kept whole —
    * truncation is segment-granular, like Kafka's. Consumers seeking
    * below the new earliest offset start at the first retained segment
    * (initialOffset already resolves to it). Returns segments deleted.
    */
  def truncate(dir: String, floors: Map[Int, Long]): Int = {
    var deleted = 0
    floors.foreach { case (p, floor) =>
      // the newest segment is always retained (Kafka's active segment):
      // it anchors the partition's end offset so producer numbering and
      // consumer seeks stay monotone even at floor == head
      segments(dir, p).dropRight(1)
        .takeWhile { case (s, n, _) => s + n <= floor }
        .foreach { case (_, _, f) => if (f.delete()) deleted += 1 }
    }
    deleted
  }

  /** Consumer-group-style committed offsets (observability marker). */
  def committed(dir: String): Map[Int, Long] = {
    val f = new java.io.File(dir, "_committed.json")
    if (!f.exists()) Map.empty
    else LogTopicOffset.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }
}

private[sources] class LogTopicTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val dir = options.get("path")
  private val maxPerTrigger = options.getLong("maxPerTrigger", 10000L)
  require(dir != null, "LogTopicProvider requires a `path` option")

  override def name(): String = s"logtopic($dir)"
  override def schema(): StructType = LogTopic.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = LogTopic.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new LogTopicStream(dir, maxPerTrigger)
      }
    }
}

/** partition→offset map offset, serialized as canonical JSON. */
private[sources] case class LogTopicOffset(offsets: Map[Int, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object LogTopicOffset {
  def parse(json: String): Map[Int, Long] = {
    val inner = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (inner.isEmpty) Map.empty
    else inner.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap
  }
}

private[sources] case class LogTopicSlice(dir: String, p: Int,
    start: Long, end: Long) extends InputPartition

private[sources] class LogTopicStream(dir: String, maxPerTrigger: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset =
    // earliest = the start of each partition's first retained segment
    LogTopicOffset(LogTopic.partitions(dir).map { p =>
      p -> LogTopic.segments(dir, p).headOption.map(_._1).getOrElse(0L)
    }.toMap)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[LogTopicOffset].offsets
    val parts = LogTopic.partitions(dir)
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _ => Long.MaxValue
    }
    // split the admission cap across partitions with pending data,
    // round-robin remainder — every partition makes progress every trigger
    val heads = parts.map(p => p -> LogTopic.endOffset(dir, p)).toMap
    val pending = parts.filter(p => heads(p) > start.getOrElse(p, 0L))
    if (pending.isEmpty) LogTopicOffset(heads.keys.map(p =>
      p -> start.getOrElse(p, 0L)).toMap)
    else {
      val per = math.max(1L, cap / pending.size)
      LogTopicOffset(parts.map { p =>
        val s = start.getOrElse(p, 0L)
        p -> math.min(heads(p), if (pending.contains(p)) s + per else s)
      }.toMap)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset =
    LogTopicOffset(LogTopicOffset.parse(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogTopicOffset].offsets
    val e = end.asInstanceOf[LogTopicOffset].offsets
    e.keys.toSeq.sorted.flatMap { p =>
      val (ps, pe) = (s.getOrElse(p, 0L), e(p))
      if (pe > ps) Some(LogTopicSlice(dir, p, ps, pe): InputPartition) else None
    }.toArray
  }

  /** Consumer-group-style progress marker: recovery truth stays in the
    * checkpoint; this file is for lag monitoring and retention decisions
    * (a compactor may delete segments wholly below the committed floor).
    */
  override def commit(end: Offset): Unit = {
    val f = new java.io.File(dir, "_committed.json")
    val tmp = new java.io.File(dir, "._committed.json.tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.print(end.asInstanceOf[LogTopicOffset].json()) finally w.close()
    tmp.renameTo(f) // atomic on posix; best-effort marker either way
  }

  override def stop(): Unit = ()

  override def createReaderFactory(): PartitionReaderFactory = new LogTopicReaderFactory
}

private[sources] class LogTopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[LogTopicSlice]
    new PartitionReader[InternalRow] {
      private val segs = LogTopic.segments(slice.dir, slice.p)
        .filter { case (s, n, _) => s + n > slice.start && s < slice.end }
        .iterator
      private var reader: java.io.BufferedReader = _
      private var offset: Long = -1L
      private var current: String = _

      @annotation.tailrec
      private def advance(): Boolean = {
        if (reader == null) {
          if (!segs.hasNext) return false
          val (s, _, f) = segs.next()
          reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            new java.io.FileInputStream(f), java.nio.charset.StandardCharsets.UTF_8))
          offset = s - 1
        }
        val line = reader.readLine()
        if (line == null) { reader.close(); reader = null; advance() }
        else {
          offset += 1
          if (offset >= slice.end) { reader.close(); reader = null; false }
          else if (offset < slice.start) advance()
          else { current = line; true }
        }
      }

      override def next(): Boolean = advance()
      override def get(): InternalRow =
        InternalRow(slice.p, offset, UTF8String.fromString(current))
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
