package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.hexLong

/** BOTTOM-K (KMV) SAMPLE as MAINTAINED STREAMING STATE (Bar-Yossef et al.
  * 2002; Beyer et al. SIGMOD'07) — ONE maintained sketch that serves two
  * pipeline needs at once:
  *
  *   1. a UNIFORM RANDOM SAMPLE of the keys seen so far (the k keys with
  *      the smallest hash priorities — under a uniform hash this is a
  *      uniform without-replacement sample of the distinct keys), and
  *   2. a DISTINCT-COUNT ESTIMATE (the KMV estimator: with p_k = the k-th
  *      smallest priority as a fraction of hash space, est = (k−1)/p_k).
  *
  * Bottom-k is MERGEABLE: bottomK(A ∪ B) = bottomK(bottomK(A) ∪
  * bottomK(B)) — so the maintained form is the CMS/Bloom delta-feed
  * discipline: each micro-batch writes its own bottom-k rows (≤ k rows per
  * batch, never corpus-sized state), and a query folds the feed with one
  * global bottom-k over ≤ k·batches rows. Any batch split folds to the
  * IDENTICAL final sample (BottomKSpec pins the law), which also makes
  * replays and compactions free.
  *
  * Priorities are md5-derived (derandomized): priority(key) =
  * hexLong(md5(key), 1, 15) — 60 uniform bits, exactly replayable by the
  * DuckDB oracle, and SEEDLESS, so the "random" sample is a pure function
  * of the key set (engine-independent, stable across re-runs — the q161
  * stratified-sample discipline applied to a maintained sketch).
  *
  * 100 TB shape: per batch one TakeOrdered(k) over the batch's own keys
  * (map-side partial top-k, k rows to the driver-side write); the fold is
  * k·batches rows, prunable with `Loader.compactBatches`. The corpus is
  * never re-scanned and the sample never exceeds k rows — a uniform
  * sample of a 100 TB stream for k·(row width) bytes of state.
  */
object BottomKSample {

  /** 60-bit md5 priority of a key (15 hex chars — below the signed-long
    * overflow bound hexLong enforces). Hash space = 16^15 = 2^60.
    */
  def priority(key: Column): Column = hexLong(md5(key), 1, 15)

  /** Hash-space size as a decimal literal: 16^15 = 2^60. */
  val HashSpace: Long = 1L << 60

  /** The sample DELTA of one batch: its own bottom-k DISTINCT keys by
    * (priority, key) — the key tie-break makes the order total even under
    * (astronomically unlikely) priority collisions.
    */
  def delta(batch: DataFrame, keyCol: String, k: Int): DataFrame =
    batch.select(col(keyCol)).distinct()
      .withColumn("prio", priority(col(keyCol)))
      .orderBy(col("prio"), col(keyCol))
      .limit(k)

  /** Ingest one micro-batch: its bottom-k delta as a replay-idempotent
    * `_batch` partition. Stream it through
    * `IndexTables(feeds = Seq(feedDir)).sink(n)` to fold the feed every n
    * batches (content-preserving: the fold is a global bottom-k either way;
    * the DISTINCT inside [[fold]] absorbs keys repeated across batches).
    */
  def ingestBatch(batch: DataFrame, keyCol: String, feedDir: String,
      batchId: Long, k: Int = 64): Unit =
    graft.streaming.Loader.writeBatchIdempotent(
      delta(batch, keyCol, k), feedDir, batchId)

  /** The maintained sample: fold the feed to the global bottom-k (distinct
    * keys first — the same key may appear in several batch deltas), ranked
    * 1..k by priority.
    */
  def fold(spark: SparkSession, feedDir: String, keyCol: String, k: Int = 64): DataFrame = {
    val rows = graft.streaming.Loader.readTable(spark, feedDir)
      .select(col(keyCol), col("prio")).distinct()
      .orderBy(col("prio"), col(keyCol))
      .limit(k)
    rows.select(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("prio"), col(keyCol))).cast("long").as("rank"),
      col(keyCol), col("prio"))
  }

  /** KMV distinct-count estimate from the folded sample: est =
    * ⌊(k−1) · HashSpace / p_k⌋ with p_k the k-th smallest priority — EXACT
    * integral division ((k−1)·2^60 ≈ 2^66 overflows BIGINT, so the
    * numerator is DECIMAL(38,0) and the division is Spark's `div`
    * (IntegralDivide, exact on decimals → BIGINT); DuckDB replays it as
    * HUGEINT `//`). Returns one row (n_sample, kth_prio, kmv_est); if the
    * corpus holds fewer than k distinct keys the sample IS the key set and
    * the estimate is the exact count.
    */
  def kmvEstimate(sample: DataFrame, k: Int = 64): DataFrame =
    sample.agg(count(lit(1)).as("n_sample"), max(col("prio")).as("kth_prio"))
      .select(col("n_sample"), col("kth_prio"),
        when(col("n_sample") < k, col("n_sample"))
          .otherwise(expr(
            s"CAST(${k - 1} AS DECIMAL(38,0)) * CAST($HashSpace AS DECIMAL(38,0))" +
              " div kth_prio"))
          .cast("long").as("kmv_est"))
}
