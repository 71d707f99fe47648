package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TickSocketServer

/** Live socket source (sources.TickSocketProvider) against the loopback
  * RESUME-protocol server: a query is killed mid-stream and restarted from
  * its checkpoint against a FRESH server connection; the reassembled sink
  * must be exactly the sequence prefix — no duplicates, no gaps — proving
  * offset-tracked recovery end-to-end (the R1 live-mode contract,
  * main.py:30-35, without egress).
  */
class TickSocketSpec extends AnyFunSuite {
  import TestSpark._

  private def sinkCount(out: String): Long =
    try spark.read.parquet(out).count()
    catch { case _: Throwable => 0L } // sink dir not created / mid-overwrite

  private def runUntil(port: Int, out: String, ck: String, minRows: Long,
      session: SparkSession): Unit = {
    val stream = session.readStream.format("graft.sources.TickSocketProvider")
      .option("port", port.toString)
      .option("maxPerTrigger", "500")
      .option("numPartitions", "4")
      .load()
    val q = stream.writeStream
      .trigger(Trigger.ProcessingTime(50))
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // idempotent sink: a re-run batch overwrites its own directory
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (sinkCount(out) < minRows && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        q.exception.foreach(throw _)
      }
      assert(sinkCount(out) >= minRows, s"sink never reached $minRows rows")
    } finally q.stop() // the mid-stream kill
  }

  /** Kill a query mid-stream, restart it from its checkpoint against a
    * fresh server, and check the reassembled sink is exactly the sequence
    * prefix. Returns the sink dir.
    */
  private def killAndRestart(prefix: String, session: SparkSession): String = {
    val base = tmpDir(prefix)
    val (out, ck) = (s"$base/out", s"$base/ck")

    val s1 = new TickSocketServer().start()
    try runUntil(s1.port, out, ck, minRows = 1500, session) finally s1.close()

    // restart: only the CHECKPOINT carries position; the new server knows
    // nothing until the source asks it to RESUME from the recovered offset
    val s2 = new TickSocketServer().start()
    try {
      runUntil(s2.port, out, ck, minRows = 4000, session)
      assert(s2.lastResume > 0,
        "restarted source did not resume mid-stream (RESUME 0 = replayed from scratch)")
    } finally s2.close()

    val got = spark.read.parquet(out) // batch=N discovered as a partition col
    val stats = got.agg(
      count(lit(1)).as("n"),
      countDistinct(col("tradeId")).as("nd"),
      min(col("tradeId")).as("lo"),
      max(col("tradeId")).as("hi")).collect().head
    val (n, nd, lo, hi) = (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    assert(n == nd, s"duplicates after restart: $n rows, $nd distinct")
    assert(lo == 0L, s"stream did not start at sequence 0 (lo=$lo)")
    assert(hi == n - 1, s"gap in recovered stream: max=$hi over $n rows")
    assert(n >= 4000)
    out
  }

  /** (rows, part files) of every landed `batch=<id>` dir: each slice of a
    * trigger is one write task, and each write task one part file.
    */
  private def slicesPerBatch(out: String): Map[Long, (Long, Int)] = {
    val rows = spark.read.parquet(out).groupBy("batch").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    rows.map { case (id, n) =>
      val parts = new java.io.File(s"$out/batch=$id").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      id -> (n, parts)
    }
  }

  test("socket source: kill mid-stream + restart from checkpoint = no dup, no loss") {
    val out = killAndRestart("ticksock", spark)

    // a trigger of ≤ 500 ticks is ~40 KB, far under the 4 MB open cost:
    // the byte-sized split rule plans ONE slice, so one write task per batch
    val batches = slicesPerBatch(out)
    assert(batches.nonEmpty)
    batches.foreach { case (id, (n, parts)) =>
      assert(parts == 1, s"batch $id ($n rows) landed through $parts slices, not 1")
    }

    // content integrity: a sampled row matches the deterministic formula
    val sample = spark.read.parquet(out).filter(col("tradeId") === 1234L)
      .select("symbol", "price", "qty", "tradeTimeMs", "isBuyerMaker").collect().head
    val (_, sym, p, q, t, m) = graft.sources.TickGen.at(1234L, 1710000000000L, 10L)
    assert(sample.getString(0) == sym && sample.getString(1) == p &&
      sample.getString(2) == q && sample.getLong(3) == t && sample.getBoolean(4) == m)
  }

  test("socket source: a tiny openCostInBytes fans each trigger out to numPartitions slices") {
    // the other side of the split rule: with a 1-byte open cost the split
    // size is bytes / numPartitions, so every batch of ≥ 4 rows is 4 slices
    val child = spark.newSession()
    child.conf.set("spark.sql.files.openCostInBytes", "1")
    val out = killAndRestart("ticksock-fan", child)
    val batches = slicesPerBatch(out)
    assert(batches.values.exists(_._1 >= 4))
    batches.foreach { case (id, (n, parts)) =>
      assert(parts == math.min(4L, n), s"batch $id ($n rows) landed through $parts slices, not 4")
    }
  }

  test("socket source: numPartitions below 1 fails naming the option") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft.sources.TickSocketProvider")
        .option("port", "1").option("numPartitions", "0").load()
    }
    assert(e.getMessage.contains("numPartitions"), e.getMessage)
  }

  test("socket source: a trigger of only blank lines fails the batch, never commits unread") {
    // zero line bytes must still plan a slice, so the parser sees the rows
    val server = new java.net.ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
    val feed = new Thread(() => {
      val conn = server.accept()
      try {
        conn.getInputStream.read() // the client's RESUME line has started
        val out = conn.getOutputStream
        out.write(("\n" * 50).getBytes); out.flush()
        Thread.sleep(60000)
      } catch { case _: Exception => } finally conn.close()
    })
    feed.setDaemon(true); feed.start()
    val base = tmpDir("ticksock-blank")
    val q = spark.readStream.format("graft.sources.TickSocketProvider")
      .option("port", server.getLocalPort.toString).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(50))
      .option("checkpointLocation", s"$base/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$base/out/batch=$id")
      }
      .start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000)
      }
      assert(e.getMessage.contains("NumberFormatException"), e.getMessage)
      assert(sinkCount(s"$base/out") == 0L)
    } finally { q.stop(); server.close(); feed.interrupt() }
  }

  test("socket source: upstream dies mid-stream, reader auto-reconnects with RESUME") {
    val base = tmpDir("ticksock-up")
    val (out, ck) = (s"$base/out", s"$base/ck")

    // phase A: server on a fixed port dies while the QUERY KEEPS RUNNING
    val sA = new TickSocketServer().start()
    val port = sA.port
    val stream = spark.readStream.format("graft.sources.TickSocketProvider")
      .option("port", port.toString)
      .option("maxPerTrigger", "500")
      // small buffer cap: backpressure keeps the backlog tiny, so progress
      // past the failure point REQUIRES the reader's RESUME reconnect
      .option("maxBuffered", "2000")
      .load()
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (sinkCount(out) < 1000 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.exception.foreach(throw _)
      }
      assert(sinkCount(out) >= 1000)
      sA.close() // upstream failure — the query stays up

      // phase B: replacement server binds the SAME port; the source's
      // reader must reconnect and RESUME at its next-needed sequence
      Thread.sleep(400)
      val sB = new TickSocketServer(fixedPort = port).start()
      try {
        // progress must pass the failure point AND the replacement server
        // must have seen a mid-sequence RESUME (kernel TCP buffers can
        // serve a backlog for a while before the reader hits EOF)
        val more = sinkCount(out) + 5000
        val deadline2 = System.currentTimeMillis() + 120000
        while ((sinkCount(out) < more || sB.lastResume <= 0) &&
            System.currentTimeMillis() < deadline2) {
          Thread.sleep(200); q.exception.foreach(throw _)
        }
        assert(sinkCount(out) >= more, "stream never progressed after upstream restart")
        assert(sB.lastResume > 0, "reconnect did not RESUME mid-sequence")
      } finally sB.close()
    } finally q.stop()

    val got = spark.read.parquet(out)
    val stats = got.agg(
      count(lit(1)).as("n"),
      countDistinct(col("tradeId")).as("nd"),
      max(col("tradeId")).as("hi")).collect().head
    val (n, nd, hi) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    assert(n == nd, s"duplicates across the upstream failure: $n rows, $nd distinct")
    assert(hi == n - 1, s"gap across the upstream failure: max=$hi over $n rows")
  }
}
