package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Tables, TradeTick}
import graft.streaming.{Ingest, Loader}

/** Reference ingest semantics (SURVEY §5.3): the quirks of `main.py` the
  * engine must reproduce — truncate-not-round quantity, second-truncated
  * timestamps, half-even price rounding, 0/1 maker encoding, empty minutes
  * emitting nothing — plus the exactly-once upgrade of the load path.
  */
class IngestSpec extends AnyFunSuite {
  import TestSpark._

  private def tick(id: Long, p: String, q: String, tMs: Long, m: Boolean) =
    TradeTick(id, "BTCUSDT", p, q, tMs, m)

  test("quantity truncates (not rounds) to 5 dp — main.py:64 str[:-3]") {
    import spark.implicits._
    val out = Ingest.toBtcusdt(
      Seq(tick(1, "100.00000000", "0.12345678", 1700000000123L, true)).toDF())
      .select("quantity").as[java.math.BigDecimal].head()
    // 0.12345678 -> "0.12345" (chop), NOT 0.12346 (round)
    assert(out == new java.math.BigDecimal("0.12345"))
  }

  test("price rounds half-even to 2 dp — Python round() parity, main.py:63") {
    import spark.implicits._
    val rows = Ingest.toBtcusdt(Seq(
      tick(1, "10.125", "0.00100000", 0L, true),   // half-even: .12 (2 even)
      tick(2, "10.135", "0.00100000", 0L, true),   // half-even: .14 (4 even)
      tick(3, "10.126", "0.00100000", 0L, true)    // plain: .13
    ).toDF()).select("bid", "price").collect().map {
      case Row(b: Long, p: java.math.BigDecimal) => b -> p.toPlainString
    }.toMap
    assert(rows(1L) == "10.12")
    assert(rows(2L) == "10.14")
    assert(rows(3L) == "10.13")
  }

  test("time truncates to whole seconds, UTC — main.py:56") {
    import spark.implicits._
    val t = Ingest.toBtcusdt(
      Seq(tick(1, "1", "0.00100000", 1700000000999L, false)).toDF())
      .select(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("time"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head()
    assert(t == "2023-11-14 22:13:20") // 1700000000 s exactly; .999 dropped
  }

  test("windowed TSV sink: one dir per minute, tab rows, empty minute absent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TradeTick]
    val out = tmpDir("tsv-out")
    val cp = tmpDir("tsv-cp")
    // minute 0 and minute 2 of some base; minute 1 empty
    val base = 1700000040000L // aligned to a minute start
    ms.addData(
      tick(1, "100.10", "0.10000000", base + 1000, true),
      tick(2, "100.20", "0.20000000", base + 2000, false),
      tick(3, "100.30", "0.30000000", base + 121000, true))
    val q = Ingest.windowedTsvSink(Ingest.withEventTime(ms.toDF()), out, cp)
    q.processAllAvailable(); q.stop()

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("window_start=")).sorted
    assert(dirs.toSeq == Seq(s"window_start=${base / 1000}", s"window_start=${base / 1000 + 120}"))

    // round-trip: read back with the TSV edge schema (FIXTURES A2, maker 0/1)
    val back = spark.read
      .schema(Tables.btcusdtTsvSchema)
      .option("sep", "\t").option("header", "false")
      .csv(s"$out/window_start=${base / 1000}")
    assert(back.count() == 2)
    val r = back.orderBy("bid").collect()
    assert(r(0).getAs[java.math.BigDecimal]("price") == new java.math.BigDecimal("100.10"))
    assert(r(0).getAs[Byte]("maker") == 1)
    assert(r(1).getAs[Byte]("maker") == 0)
  }

  test("BTCUSDT managed table: DDL via Catalog, append, SQL query (R13)") {
    import org.apache.spark.sql.functions._
    // the reference's CREATE TABLE (start_all_pipeline.py:463-464) as a
    // managed parquet table through SparkSQL DDL. Clean both the catalog
    // entry AND the on-disk location: a crashed previous JVM leaves the
    // warehouse dir behind while the fresh in-memory catalog knows nothing
    // about it, so DROP alone can't unblock CREATE.
    spark.sql("DROP TABLE IF EXISTS btcusdt")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("btcusdt")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql("""CREATE TABLE btcusdt (
      bid BIGINT, parameter STRING, price DECIMAL(9,2),
      quantity DECIMAL(10,5), time TIMESTAMP, maker BOOLEAN) USING parquet""")
    assert(spark.catalog.tableExists("btcusdt"))
    // R11 as saveAsTable-append
    import spark.implicits._
    Ingest.toBtcusdt(Seq(
      tick(1, "100.10000000", "0.10000000", 1700000040000L, true),
      tick(2, "100.20000000", "0.20000000", 1700000041000L, false)).toDF())
      .write.mode("append").saveAsTable("btcusdt")
    val r = spark.sql(
      "SELECT count(*) n, sum(quantity) q FROM btcusdt WHERE maker").collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getDecimal(1) == new java.math.BigDecimal("0.10000"))
    spark.sql("DROP TABLE btcusdt")
  }

  test("corrupt TSV lines quarantine in PERMISSIVE mode, clean rows load") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("tsv-corrupt")
    val good = (1 to 6).map(i =>
      s"$i\tBTCUSDT\t26000.1$i\t0.0000$i\t2024-01-01 10:00:0$i\t${i % 2}")
    val bad = Seq(
      "not_a_number\tBTCUSDT\t26000.11\t0.00001\t2024-01-01 10:00:01\t1", // bad bid
      "7\tBTCUSDT\t26000.17", // too few fields
      "totally mangled line with no tabs at all !!!")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/window.tsv"),
      scala.util.Random.shuffle(good ++ bad).mkString("\n").getBytes("UTF-8"))

    // cache first: Spark disallows queries that reference ONLY the internal
    // corrupt-record column directly against the raw CSV scan
    val df = Loader.readTsvTolerant(spark, dir).cache()
    try {
      assert(df.count() == 9)
      val rejects = df.filter(col("_corrupt_record").isNotNull)
      assert(rejects.count() == 3, "expected exactly the 3 mangled lines quarantined")
      // rejects carry the original line for a quarantine sink
      val rawLines = rejects.select("_corrupt_record").collect().map(_.getString(0)).toSet
      assert(rawLines == bad.toSet)
      // clean rows parsed fully typed
      val clean = df.filter(col("_corrupt_record").isNull)
      assert(clean.count() == 6)
      val r1 = clean.filter(col("bid") === 1L).collect().head
      assert(r1.getAs[String]("parameter") == "BTCUSDT")
      assert(r1.getAs[java.math.BigDecimal]("price").doubleValue() == 26000.11)
    } finally df.unpersist()
  }

  test("loader: file-level exactly-once across restarts and batch replay") {
    import spark.implicits._
    val staging = tmpDir("staging")
    val table = tmpDir("table")
    val archive = tmpDir("archive")
    val cp = tmpDir("loader-cp")

    def writeTsv(name: String, rows: Seq[String]): Unit = {
      val f = new java.io.File(staging, name)
      val w = new java.io.PrintWriter(f)
      rows.foreach(w.println); w.close()
    }
    writeTsv("1700000040.tsv", Seq(
      "1\tBTCUSDT\t100.10\t0.10000\t2023-11-14 22:14:01\t1",
      "2\tBTCUSDT\t100.20\t0.20000\t2023-11-14 22:14:02\t0"))

    Loader.start(spark, staging, table, archive, cp).awaitTermination()
    assert(Loader.readTable(spark, table).count() == 2)

    // restart with the same checkpoint: nothing new => no duplicates
    Loader.start(spark, staging, table, archive, cp).awaitTermination()
    assert(Loader.readTable(spark, table).count() == 2)

    // batchId replay: re-writing the same batch rewrites its own partition
    // with the same rows (idempotent); the replay df derives from the
    // SOURCE per the writeBatchIdempotent contract
    val df = spark.read.schema(Tables.btcusdtTsvSchema)
      .option("sep", "\t").csv(s"$staging/1700000040.tsv")
      .withColumn(
        "maker", org.apache.spark.sql.functions.col("maker") === 1)
    Loader.writeBatchIdempotent(df, table, 0L)
    assert(Loader.readTable(spark, table).count() == 2)

    // a new file IS loaded (and only once), old rows intact
    writeTsv("1700000100.tsv", Seq(
      "3\tBTCUSDT\t100.30\t0.30000\t2023-11-14 22:15:00\t1"))
    Loader.start(spark, staging, table, archive, cp).awaitTermination()
    val t = Loader.readTable(spark, table)
    assert(t.count() == 3)
    assert(t.select("bid").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
