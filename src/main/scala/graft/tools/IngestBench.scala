package graft.tools

import org.apache.spark.sql.functions._

import graft.model.TradeTick
import graft.streaming.Ingest

/** Ingest-mirror throughput measurement (BASELINE.md gate: ≥1e5 ticks/s
  * sustained vs the reference's ~1e2/s WebSocket ceiling).
  * Measures the full R2-R8 path: transform + windowed TSV write.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val sp = graft.obs.Sessions.local(32)
    import sp.implicits._

    val base = 1710000000000L
    val ticks = sp.range(n).select(
      col("id").as("tradeId"), lit("BTCUSDT").as("symbol"),
      graft.sources.TickGen.priceCol(col("id")).as("price"),
      graft.sources.TickGen.qtyCol(col("id")).as("qty"),
      (lit(base) + col("id") * 10).as("tradeTimeMs"), // 100 ticks/ms -> many windows
      graft.sources.TickGen.makerCol(col("id")).as("isBuyerMaker"))

    val out = java.nio.file.Files.createTempDirectory("ingest-bench").toString
    // warmup
    Ingest.toBtcusdt(ticks.limit(10000)).write.format("noop").mode("overwrite").save()

    var t0 = System.nanoTime()
    Ingest.toBtcusdt(ticks).write.format("noop").mode("overwrite").save()
    val transformSec = (System.nanoTime() - t0) / 1e9

    def sinkRun(tag: String, pre: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double = {
      val t = System.nanoTime()
      pre(Ingest.toBtcusdt(ticks)
        .withColumn("window_start", (unix_seconds(col("time")) / 60).cast("long") * 60)
        .withColumn("time", date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("maker", when(col("maker"), 1).otherwise(0)))
        .write.partitionBy("window_start")
        .option("sep", "\t").option("header", "false")
        .mode("overwrite").csv(s"$out/$tag")
      (System.nanoTime() - t) / 1e9
    }
    // naive: every task writes every window -> windows×tasks small files.
    val naiveSec = sinkRun("naive", identity)
    // reference layout: repartition by window -> ONE file per window
    // (tasks = windows; this is also what a 1000-executor run wants).
    val repartSec = sinkRun("repart", _.repartition(col("window_start")))

    println(f"""{"metric":"ingest_ticks_per_sec","transform_only":${n / transformSec}%.0f,"tsv_sink_naive":${n / naiveSec}%.0f,"tsv_sink_file_per_window":${n / repartSec}%.0f,"n":$n}""")
    sp.stop()
  }
}
