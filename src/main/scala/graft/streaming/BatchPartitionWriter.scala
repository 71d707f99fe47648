package graft.streaming

import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Lands one micro-batch as the parquet files of `<path>/_batch=<batchId>`,
  * replacing that partition: the write under `Loader.writeBatchIdempotent`.
  * Write-only; `batchId` is an option, and the rows carry no `_batch`
  * column.
  *
  *  - Driver: `ParquetFileFormat.prepareWrite` runs on a `Job` over the
  *    session's Hadoop conf, so every parquet setting (codec, timestamp
  *    type, legacy format, field ids) is the one a `df.write.parquet` gets.
  *    The tasks get its `OutputWriterFactory` plus only the conf keys that
  *    differ from this JVM's Hadoop defaults ([[ShippedConf]]), a few KB,
  *    where a `FileFormat` write ships the whole ~1,100-key conf twice.
  *  - Task: rebuilds the conf from the defaults template plus those keys,
  *    and opens its one file on its first row, under the hidden staging dir
  *    `<path>/.batch-<id>-<uuid>` (an empty task writes nothing).
  *  - Commit ([[BatchPartitionWrite.commit]]): if any file was written, the
  *    old `_batch=<id>` is deleted and each file named in the task commit
  *    messages is renamed into a fresh one; the staging dir goes either way.
  *    An empty batch lands nothing and leaves an existing partition as it
  *    was, as a dynamic partition overwrite of zero rows does. A file in
  *    the staging dir that no message names (a lost task attempt's) never
  *    lands, so no commit coordinator is needed. No `_SUCCESS` file is
  *    written, and `spark.sql.sources.commitProtocolClass` is not used.
  *
  * A crash leaves at worst a staging dir, which readers skip (hidden name)
  * and `BatchLog.recover` deletes at the next writer entry.
  */
class BatchPartitionWriter extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("BatchPartitionWriter is write-only")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new BatchPartitionTable(schema)
}

object BatchPartitionWriter {

  /** The name prefix of a write's staging dir under the table dir. */
  val StagingPrefix = ".batch-"

  /** Replaces `<dir>/_batch=<batchId>` with the rows of `df`. */
  def write(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.format(classOf[BatchPartitionWriter].getName).mode("append")
      .option("path", dir).option("batchId", batchId).save()

  /** The Hadoop conf every `Configuration` of this JVM starts from: the
    * bundled `*-default.xml` files (core, mapred, yarn, hdfs), with no key
    * set in code. Loading `JobConf` registers the mapred and yarn ones; a
    * default resource registered later reloads this conf too.
    */
  private lazy val template: JobConf = new JobConf()

  /** What a task needs to rebuild the driver's job conf: the keys that the
    * [[template]] lacks or holds with another raw value, and the keys set
    * by a default file that the job conf removed.
    */
  private[streaming] final case class ShippedConf(set: Seq[(String, String)], unset: Seq[String]) {
    def build(): JobConf = {
      val c = new JobConf(template)
      unset.foreach(c.unset)
      set.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  private[streaming] object ShippedConf {
    def apply(conf: Configuration): ShippedConf = {
      val base = template
      val set = conf.iterator.asScala.collect {
        case e if base.getRaw(e.getKey) != e.getValue => e.getKey -> e.getValue
      }.toSeq
      val unset = base.iterator.asScala.map(_.getKey).filter(conf.getRaw(_) == null).toSeq
      ShippedConf(set, unset)
    }
  }

  /** The driver's half of a write: the job conf (for specs) and the task
    * factory.
    */
  private[streaming] def prepare(spark: SparkSession, schema: StructType,
      staging: String, uuid: String): (Configuration, Factory) = {
    val job = Job.getInstance(GraftSqlBridge.hadoopConf(spark))
    val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    (conf, Factory(staging, uuid, tracker, schema, writers, ShippedConf(conf)))
  }

  /** Shipped to each task: no `Configuration` inside. */
  private[streaming] final case class Factory(staging: String, uuid: String, tracker: String,
      schema: StructType, writers: OutputWriterFactory, conf: ShippedConf)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new PartWriter(this, partitionId, taskId)
  }

  /** One task's staged file, or none for an empty task. */
  private[streaming] final case class Staged(file: Option[String]) extends WriterCommitMessage

  private final class PartWriter(f: Factory, partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private var out: OutputWriter = _
    private var conf: Configuration = _
    private var name: String = _
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      if (out == null) open()
      out.write(row)
      rows += 1
    }

    private def open(): Unit = {
      val tc = Option(TaskContext.get())
      val job = new JobID(f.tracker, tc.fold(0)(_.stageId()))
      conf = f.conf.build()
      val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID(
        new TaskID(job, TaskType.MAP, partitionId), tc.fold(0)(_.attemptNumber())))
      // the task id is unique per attempt: two attempts never share a file
      name = f"part-$partitionId%05d-${f.uuid}-$taskId${f.writers.getFileExtension(ctx)}"
      out = f.writers.newInstance(new Path(f.staging, name).toString, f.schema, ctx)
    }

    /** Closes the open file and returns its path. */
    private def closeFile(): Path = {
      val path = new Path(out.path())
      try out.close() finally out = null
      path
    }

    override def commit(): WriterCommitMessage =
      if (out == null) Staged(None)
      else {
        val path = closeFile()
        val bytes = path.getFileSystem(conf).getFileStatus(path).getLen
        GraftSqlBridge.setTaskOutputMetrics(bytes, rows)
        Staged(Some(name))
      }

    // the file goes with the staging dir, which every job end deletes
    override def abort(): Unit = if (out != null) closeFile()

    override def close(): Unit = abort()
  }
}

private final class BatchPartitionTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "BatchPartitionWriter"
  override def schema(): StructType = tableSchema
  // the rows are written as given: no by-name projection onto the table
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the session running the write: the optimizer builds the write under it
    val spark = SparkSession.active
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchPartitionWrite(spark, info)
      }
    }
  }
}

private final class BatchPartitionWrite(spark: SparkSession, info: LogicalWriteInfo)
    extends BatchWrite {
  import BatchPartitionWriter._

  private val dir = info.options.get("path")
  private val batchId = info.options.get("batchId").toLong
  private val uuid = UUID.randomUUID().toString
  private val staging = new Path(dir, s"$StagingPrefix$batchId-$uuid")
  private def fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
    prepare(spark, info.schema, staging.toString, uuid)._2

  override def useCommitCoordinator(): Boolean = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect { case Staged(Some(f)) => f }
    val f = fs
    if (files.nonEmpty) {
      val part = new Path(dir, s"_batch=$batchId")
      f.delete(part, true)
      f.mkdirs(part)
      files.foreach { n =>
        require(f.rename(new Path(staging, n), new Path(part, n)),
          s"batch $batchId: rename of $staging/$n into $part failed")
      }
    }
    f.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = fs.delete(staging, true)
}
