package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.TradeTick
import graft.streaming.{Ingest, Loader, Stateful}

/** Executable end-to-end demo of the reference-mirror pipeline:
  * live ticks → 1-min windowed TSV staging (main.py) → event-driven loader
  * with archive + exactly-once (lambda_function.py) → analytics on the
  * loaded table → stateful running OHLC on the same stream.
  *
  * Run: sbt "runMain graft.tools.PipelineDemo"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sp = graft.obs.Sessions.local(4)
    import sp.implicits._
    implicit val ctx = sp.sqlContext

    val root = java.nio.file.Files.createTempDirectory("pipe").toString
    val base = 1710000000000L - (1710000000000L % 60000)
    val ticks = (0 until 500).map(i => TradeTick(1000 + i, "BTCUSDT",
      f"${26000 + i * 0.37}%.8f", f"${0.001 + i * 0.00001}%.8f", base + i * 500L, i % 3 == 0))

    // stage 1: ticks -> windowed TSV staging
    val ms = MemoryStream[TradeTick]
    ms.addData(ticks: _*)
    val sink = Ingest.windowedTsvSink(Ingest.withEventTime(ms.toDF()), s"$root/data_1_min", s"$root/cp_ingest")
    sink.processAllAvailable(); sink.stop()
    val dirs = new java.io.File(s"$root/data_1_min").listFiles.filter(_.isDirectory).map(_.getName).sorted
    println("WINDOWS=" + dirs.mkString(","))

    // stand-in for the S3 upload: give files the .tsv suffix the trigger filters on
    dirs.foreach { d =>
      new java.io.File(s"$root/data_1_min/$d").listFiles.filter(_.getName.startsWith("part-"))
        .zipWithIndex.foreach { case (f, i) => f.renameTo(new java.io.File(f.getParent, s"$d-$i.tsv")) }
    }

    // stage 2: event-driven load into the table, with archive
    Loader.start(sp, s"$root/data_1_min/*", s"$root/table", s"$root/archive", s"$root/cp_load").awaitTermination()
    val table = Loader.readTable(sp, s"$root/table")
    println("TABLE_ROWS=" + table.count())
    println("TABLE_SAMPLE=" + table.orderBy("bid").limit(2).collect().mkString(" | "))

    // probes: restart with same checkpoint; replay a committed batchId from
    // the SOURCE files (the foreachBatch contract — never from the target)
    Loader.start(sp, s"$root/data_1_min/*", s"$root/table", s"$root/archive", s"$root/cp_load").awaitTermination()
    println("AFTER_RERUN=" + Loader.readTable(sp, s"$root/table").count())
    val replayDf = sp.read.schema(graft.model.Tables.btcusdtTsvSchema)
      .option("sep", "\t").csv(s"$root/data_1_min/*/*.tsv")
      .withColumn("maker", col("maker") === 1)
    Loader.writeBatchIdempotent(replayDf, s"$root/table", 0L)
    println("AFTER_REPLAY=" + Loader.readTable(sp, s"$root/table").count())

    // stage 3: per-minute aggregate over the loaded table (the product
    // query), read anew: the replay replaced the files `table` had listed
    println("OHLC_MINUTES=" + Loader.readTable(sp, s"$root/table").groupBy(((unix_seconds($"time") / 60).cast("long") * 60).as("w"))
      .agg(count(lit(1)).as("n"), min("price"), max("price")).count())

    // stage 4: stateful running OHLC on the live stream (incremental batches)
    val ms2 = MemoryStream[TradeTick]
    val q2 = Stateful.runningOhlc(ms2.toDS()).writeStream
      .outputMode("append").format("memory").queryName("bars").start()
    ms2.addData(ticks.take(200): _*); q2.processAllAvailable()
    ms2.addData(ticks.drop(200): _*); q2.processAllAvailable(); q2.stop()
    val bars = sp.sql("select * from bars order by windowStartSec").collect()
    println("BARS=" + bars.length + " FIRST=" + bars.headOption.mkString)

    // probe: streaming dedup swallows a full replay of the same ticks
    val ms3 = MemoryStream[TradeTick]
    val q3 = Stateful.dedupTicks(ms3.toDF()).writeStream
      .outputMode("append").format("memory").queryName("dd").start()
    ms3.addData(ticks.take(10): _*); q3.processAllAvailable()
    ms3.addData(ticks.take(10): _*); q3.processAllAvailable(); q3.stop()
    println("DEDUP=" + sp.sql("select count(*) from dd").collect().head.getLong(0))
    println("ARCHIVE_FILES=" + Option(new java.io.File(s"$root/archive").listFiles).map(_ => "present").getOrElse("none"))
    sp.stop()
  }
}
