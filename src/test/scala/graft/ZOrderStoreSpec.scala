package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ZOrder
import graft.streaming.Loader

/** Pins the Z-order MAINTENANCE lifecycle (q288): per-batch ingest keeps
  * each batch locally z-tight but decays GLOBAL locality (a slice touches
  * its matching files in every batch); compactZ re-runs the global layout
  * over the crash-safe fold and RESTORES it. Measured the ZOrderSpec way:
  * bytes-in-touched-files, never file counts.
  */
class ZOrderStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def bytesTouched(dir: String): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        sizes(st.getPath.toUri.getPath) = st.getLen
    }
    val touched = spark.read.parquet(dir)
      .filter(col("x").between(4, 7))
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => new java.net.URI(r.getString(0)).getPath)
    (touched.map(sizes).sum, sizes.values.sum)
  }

  test("ingest decays global locality; compactZ restores it (bytes touched, sf0.1)") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir, "events.parquet").exists(),
      s"$dir fixture not present")
    val ev = graft.model.Tables.load(spark, dir, "events")
      .withColumn("x", pmod(col("user_id"), lit(64L)))
      .withColumn("y",
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
          lit(64)).cast("long"))
    val store = tmpDir("zstore-decay") + "/feed"
    for (b <- 0L until 8L)
      ZOrder.ingestBatchZ(ev.filter(pmod(col("event_id"), lit(8L)) === b),
        col("x"), col("y"), bits = 6, files = 8, store, b)
    val slice = Loader.readTable(spark, store)
      .filter(col("x").between(4, 7) && col("y").between(8, 11))
      .groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val (beforeTouched, beforeTotal) = bytesTouched(store)
    ZOrder.compactZ(spark, store, col("x"), col("y"), bits = 6, files = 64,
      upTo = 7L)
    val (afterTouched, afterTotal) = bytesTouched(store)
    info(f"x-slice bytes touched: decayed ${beforeTouched * 100.0 / beforeTotal}%.1f%% " +
      f"of $beforeTotal, restored ${afterTouched * 100.0 / afterTotal}%.1f%% of $afterTotal")
    // decayed: with 8 files/batch each file spans ~8 z-buckets, so the
    // 8-bucket x-slice intersects a sizeable share of EVERY batch; restored:
    // the global 64-file layout pins the slice into ~1/8 of the table.
    // Conservative pin: restore must at least halve the slice's scan bill
    // relative to table size.
    assert(afterTouched * 2 * beforeTotal <= beforeTouched * afterTotal,
      s"compactZ did not restore locality: before $beforeTouched/$beforeTotal, " +
        s"after $afterTouched/$afterTotal")
    // and the maintained store answers identically after the fold
    val after = Loader.readTable(spark, store)
      .filter(col("x").between(4, 7) && col("y").between(8, 11))
      .groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == slice, "compactZ changed the store's content")
  }

  test("maintained-store replay converges across the z-fold (frontier)") {
    import spark.implicits._
    val ev = (0L until 4000L)
      .map(i => (i, i % 64, (i / 64) % 64, s"t${i % 5}"))
      .toDF("event_id", "x", "y", "event_type")
    val store = tmpDir("zstore-replay") + "/feed"
    for (b <- 0L until 3L)
      ZOrder.ingestBatchZ(ev.filter(pmod(col("event_id"), lit(3L)) === b),
        col("x"), col("y"), bits = 6, files = 2, store, b)
    val want = Loader.readTable(spark, store).count()
    ZOrder.compactZ(spark, store, col("x"), col("y"), bits = 6, files = 8,
      upTo = 2L)
    // replay of a folded batch (restored old checkpoint)
    ZOrder.ingestBatchZ(ev.filter(pmod(col("event_id"), lit(3L)) === 1L),
      col("x"), col("y"), bits = 6, files = 2, store, 1L)
    assert(Loader.readTable(spark, store).count() == want,
      "replay across the z-fold duplicated rows")
  }
}
