package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) multi-dimensional layout — the data-layout lever
  * a 100 TB lakehouse pulls when queries filter on MORE THAN ONE column:
  * a table sorted by (y, x) answers y-filters with tight per-file min/max
  * ranges but scatters any x-filter across EVERY file; interleaving the
  * bits of both keys (z-value) keeps file-level min/max ranges tight on
  * BOTH dimensions at once, so footer/partition pruning skips most of the
  * table for either filter. This is the clustering primitive behind Delta
  * OPTIMIZE ZORDER BY / Iceberg sort orders, expressed with plain Spark
  * columns: z-value is pure arithmetic (bit interleave), the layout is one
  * `repartitionByRange(zval)` + `sortWithinPartitions(zval)` write, and
  * the benefit is measurable as "how many range-buckets does a filter
  * touch" — which is exactly what q270 pins against the oracle.
  *
  * Locality law (ZOrderSpec pins it exhaustively on a 64×64 grid): a
  * filter selecting 2^k consecutive x values aligned at a 2^k boundary
  * touches only the z-buckets whose high x-bits match — 2^(bits−k)·share
  * of the bucket space — while a row-major (y-major) layout touches every
  * bucket. No approximation anywhere: this operator is deterministic
  * arithmetic, so DuckDB replays it bit-for-bit.
  */
object ZOrder {

  /** Morton z-value of two `bits`-bit non-negative keys: bit i of `x`
    * lands at position 2i, bit i of `y` at 2i+1. Plain integer arithmetic
    * (shift/mod/multiply) — codegen-friendly, reproducible in any engine.
    */
  def zval(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zval: bits must be in [1,31], got $bits")
    // Wrap into the domain EXPLICITLY: like any fixed-width curve, values
    // ≥ 2^bits alias modulo the domain (x and x + 2^bits interleave
    // identically) and a negative key would contribute -1 bits — both
    // silent locality collapses for a caller that forgot to bucketize.
    // pmod here is the identity for already-bucketized keys (every current
    // caller: q270/q277 pmod first), so the wrap changes nothing for them
    // while making the aliasing rule the operator's own, not a footgun.
    val (xw, yw) = (pmod(x, lit(1L << bits)), pmod(y, lit(1L << bits)))
    (0 until bits).map { i =>
      pmod(shiftright(xw, i), lit(2)) * lit(1L << (2 * i)) +
        pmod(shiftright(yw, i), lit(2)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Write `df` in z-order on (`xCol`, `yCol`): range-partition on the
    * z-value so each output file owns one contiguous z-range (tight
    * min/max footer ranges on BOTH source columns), sort within partitions
    * so row groups inherit the same locality. `files` ≈ one task/file per
    * z-range — size it like any partition count (data/128 MB).
    */
  def layoutByZ(df: DataFrame, xCol: Column, yCol: Column, bits: Int,
      files: Int, outDir: String): Unit = {
    val z = zval(xCol, yCol, bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** The z-clustering transform alone (no write): range-partition + sort
    * on the z-value of the STORED dimension columns — the reusable core of
    * [[layoutByZ]], [[ingestBatchZ]] and [[compactZ]].
    */
  def clusterByZ(df: DataFrame, xCol: Column, yCol: Column, bits: Int,
      files: Int): DataFrame =
    df.withColumn("_z", zval(xCol, yCol, bits))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")

  /** Z-ORDER MAINTENANCE UNDER INGEST, write side (OPTIMIZE ZORDER's
    * streaming half): the arriving batch lands as its own replay-idempotent
    * `_batch` partition on the Loader feed discipline, z-clustered WITHIN
    * the batch — each batch's files are locally tight, but a dimensional
    * slice still touches its matching files in EVERY batch, so global
    * locality DECAYS linearly with batch count. [[compactZ]] is the
    * restore. ZOrderStoreSpec pins decay → restore by bytes touched.
    */
  def ingestBatchZ(batch: DataFrame, xCol: Column, yCol: Column, bits: Int,
      files: Int, dir: String, batchId: Long): Unit =
    graft.streaming.Loader.writeBatchIdempotent(
      clusterByZ(batch, xCol, yCol, bits, files), dir, batchId)

  /** Z-ORDER MAINTENANCE, restore side: fold the per-batch partitions and
    * re-run the GLOBAL z-layout over the consolidation (the `rewrite` hook
    * of `Loader.compactBatches` — same crash-safe intent/commit protocol,
    * same `upTo` bound for in-sink maintenance, content audited). After it
    * the store reads like a one-shot [[layoutByZ]] table again.
    */
  def compactZ(spark: org.apache.spark.sql.SparkSession, dir: String,
      xCol: Column, yCol: Column, bits: Int, files: Int,
      upTo: Long = Long.MaxValue): Unit =
    graft.streaming.Loader.compactBatches(spark, dir, upTo,
      rewrite = df => clusterByZ(df, xCol, yCol, bits, files))
}
