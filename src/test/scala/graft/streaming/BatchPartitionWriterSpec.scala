package graft.streaming

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.LongParam
import graft.obs.{QueryProfile, Sessions}

/** The `_batch` partition writer under `Loader.writeBatchIdempotent` lands
  * what the dynamic partition overwrite it replaced landed (rows, schema,
  * parquet footers), rebuilds the driver's job conf exactly on the task
  * side from a few shipped keys, and commits only the files its tasks
  * report.
  */
class BatchPartitionWriterSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String) = TestSpark.tmpDir(p)

  /** The three feed shapes: landed ticks, LSH candidate pairs, dup-span hits. */
  private def feeds(s: SparkSession): Seq[(String, DataFrame)] = {
    val ticks = s.createDataFrame(
      (0 until 50).map(i => Row(1000L + i, "BTCUSDT", f"${60000 + i * 0.37}%.2f",
        f"${0.001 * (i + 1)}%.8f", 1700000000000L + i * 997L, i % 3 == 0)).asJava,
      Ingest.tickSchema)
    Seq(
      "ticks" -> Ingest.toBtcusdt(ticks),
      "lsh pairs" -> s.range(0, 40, 1, 2).select(col("id").as("id_a"),
        (col("id") + 7).as("id_b"), (col("id") / 40.0).as("est_jaccard")),
      "dup-span hits" -> s.range(0, 30, 1, 3).select(col("id").as("doc_id"),
        (col("id") % 5).cast("int").as("pos")))
  }

  /** The write this path replaced: a dynamic overwrite of `_batch=<id>`. */
  private def v1Write(df: DataFrame, dir: String, id: Long): Unit =
    df.withColumn("_src_batch", LongParam.column(id)).withColumn("_batch", LongParam.column(id))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch").parquet(dir)

  private def landed(dir: String): Seq[Path] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.filterNot(_.getName.startsWith(".")).flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet")).map(f => new Path(f.toURI))
  }

  private def sizes(dir: String): Seq[Long] = landed(dir).map(p => new File(p.toUri).length).sorted

  /** Each landed file's parquet schema and key-value metadata. */
  private def footers(dir: String): Set[(String, Map[String, String])] =
    landed(dir).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
      try {
        val md = r.getFooter.getFileMetaData
        (md.getSchema.toString, md.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }.toSet

  private def staging(dir: String): Seq[String] =
    new File(dir).list().toSeq.filter(_.startsWith(BatchPartitionWriter.StagingPrefix))

  private def partitions(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.startsWith("_batch=")).sorted

  for (tsType <- Seq("INT96", "TIMESTAMP_MICROS")) {
    test(s"rows, schema and footers equal the dynamic overwrite's ($tsType)") {
      Sessions.withConf(spark, "spark.sql.parquet.outputTimestampType" -> tsType) { s =>
        feeds(s).foreach { case (what, df) =>
          val (v1, v2) = (tmp("bpw-v1"), tmp("bpw-v2"))
          v1Write(df, v1, 4L)
          Loader.writeBatchIdempotent(df, v2, 4L)
          val (a, b) = (s.read.parquet(v1), s.read.parquet(v2))
          assert(b.schema == a.schema, what)
          assert(b.collect().map(_.toString).sorted.toSeq == a.collect().map(_.toString).sorted.toSeq, what)
          val f = footers(v2)
          assert(f.nonEmpty && f == footers(v1), what)
          assert(f.forall(_._2.contains("org.apache.spark.sql.parquet.row.metadata")), what)
          // the same bytes too: the write metrics of both paths count alike
          assert(sizes(v2) == sizes(v1), what)
          assert(partitions(v2) == Seq("_batch=4") && staging(v2).isEmpty, what)
        }
      }
    }
  }

  test("the task rebuilds the driver's job conf key for key from the shipped keys") {
    val schema = feeds(spark).head._2.schema
    val (conf, factory) = BatchPartitionWriter.prepare(spark, schema, tmp("bpw-conf"), "u")
    def raw(c: org.apache.hadoop.conf.Configuration) =
      c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val (driver, task) = (raw(conf), raw(factory.conf.build()))
    assert((driver.keySet -- task.keySet).isEmpty, "missing on the task side")
    assert((task.keySet -- driver.keySet).isEmpty, "extra on the task side")
    assert(task == driver)
    info(s"${factory.conf.set.size} of ${driver.size} keys shipped, ${factory.conf.unset.size} unset")
    assert(factory.conf.set.size < driver.size / 10)
    assert(factory.conf.set.exists(_._1 == "org.apache.spark.sql.parquet.row.attributes"))
  }

  test("the shipped task factory holds no Hadoop Configuration (under 16 KB)") {
    val schema = feeds(spark).head._2.schema
    val (_, factory) = BatchPartitionWriter.prepare(spark, schema, tmp("bpw-size"), "u")
    val bytes = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance().serialize(factory).limit()
    info(s"serialized DataWriterFactory: $bytes bytes")
    assert(bytes < 16 * 1024)
  }

  test("an empty batch lands nothing; rewriting an id replaces its rows; a negative id lands") {
    import spark.implicits._
    val dir = tmp("bpw-ids")
    Loader.writeBatchIdempotent(Seq.empty[(Long, Long)].toDF("k", "v"), dir, 0L)
    assert(partitions(dir).isEmpty && staging(dir).isEmpty)
    assert(Loader.readTableIfAny(spark, dir).isEmpty)
    def write(rows: Seq[(Long, Long)], id: Long): Unit =
      BatchPartitionWriter.write(rows.toDF("k", "v").withColumn("_src_batch", LongParam.column(id)), dir, id)
    write(Seq(1L -> 10L, 2L -> 20L), 7L)
    write(Seq(3L -> 30L), 7L)
    write(Seq(4L -> 40L), -2L)
    assert(partitions(dir) == Seq("_batch=-2", "_batch=7") && staging(dir).isEmpty)
    val got = spark.read.parquet(dir).as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((3L, 30L, 7L, 7L), (4L, 40L, -2L, -2L)))
    // an empty rewrite leaves the partition as it was, as the dynamic
    // overwrite of zero rows did
    write(Seq.empty, 7L)
    assert(spark.read.parquet(dir).count() == 2L)
  }

  test("a staging file that no task commit names never lands") {
    val dir = tmp("bpw-stray")
    // mid-task, once the task's own file is open, drop a stranger next to it
    val rows = spark.range(0, 10, 1, 1).mapPartitions { (it: Iterator[java.lang.Long]) =>
      it.map { i =>
        if (i == 5L) {
          val st = new File(dir).listFiles().find(_.getName.startsWith(".batch-")).get
          java.nio.file.Files.write(new File(st, "part-stray.snappy.parquet").toPath, Array[Byte](1, 2))
        }
        i
      }
    }(Encoders.LONG).toDF("k")
    BatchPartitionWriter.write(rows, dir, 3L)
    val files = new File(dir, "_batch=3").list().filter(_.endsWith(".parquet"))
    assert(files.length == 1 && !files.head.contains("stray"), files.mkString(", "))
    assert(staging(dir).isEmpty)
    assert(spark.read.parquet(dir).count() == 10L)
  }

  test("the write task's output metrics are the landed bytes and rows") {
    val dir = tmp("bpw-metrics")
    val df = feeds(spark).head._2
    val (bytes, records) = (new java.util.concurrent.atomic.AtomicLong, new java.util.concurrent.atomic.AtomicLong)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
        bytes.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
        records.addAndGet(t.taskMetrics.outputMetrics.recordsWritten)
      }
    }
    GraftSqlBridge.drainListenerBus(spark, 30000)
    spark.sparkContext.addSparkListener(l)
    try {
      Loader.writeBatchIdempotent(df, dir, 1L)
      GraftSqlBridge.drainListenerBus(spark, 30000)
    } finally spark.sparkContext.removeSparkListener(l)
    val files = sizes(dir).sum
    assert(files > 0 && bytes.get == files)
    assert(records.get == df.count())
  }

  test("a one-task write job's profile has its scheduler delay and deserialize time") {
    val dir = tmp("bpw-profile")
    val (_, p) = QueryProfile.during(spark, quietWindow = false) {
      BatchPartitionWriter.write(spark.range(0, 100, 1, 1).toDF("k")
        .withColumn("_src_batch", LongParam.column(0L)), dir, 0L)
    }
    val one = p.stages.filter(_.tasks == 1)
    assert(one.nonEmpty, p.stages)
    assert(one.forall(s => s.schedulerDelayMs >= 0 && s.deserializeMs >= 0), one)
    val json = p.toJson(10).obj.toMap
    assert(json.contains("scheduler_delay_ms") && json.contains("deserialize_ms"))
  }
}
