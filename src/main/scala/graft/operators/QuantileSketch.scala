package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** MAINTAINED MERGEABLE QUANTILE SKETCH — the missing member of the sketch
  * family next to frequency (CountMinSketch, q271/q273/q278), cardinality
  * (HLL, q39) and heavy hitters (Misra-Gries, q162): a DDSketch-shaped
  * (Masson, Rim, Lee 2019 — "DDSketch: a fast and fully-mergeable quantile
  * sketch with relative-error guarantees") log-bucket histogram, made
  * DETERMINISTIC and cross-engine-exact by doing the bucketing in integer
  * arithmetic only:
  *
  *   value → exact micros m (DECIMAL(18,6)·10⁶ — no double rounding), and
  *   the bucket id is |m| with all but its top 5 bits zeroed, signed:
  *   b = sign(m)·(|m| − |m| mod 2^max(bitlen(|m|)−5, 0)).
  *
  * That id is simultaneously the bucket's toward-zero BOUND (the quantile
  * estimator) and its own numeric sort key, and the construction uses only
  * bin()/length/mod/power-of-two ops that Spark and DuckDB evaluate
  * identically — no floating log whose final ulp could flip a boundary
  * (the reason this is gateable where a textbook γ-log DDSketch is not).
  * 16 sub-buckets per octave ⇒ relative error ≤ 1/16, and the estimate
  * never overshoots the true value (QuantileSketchSpec pins the error law;
  * the q285 gate carries it as a `within` boolean, the q238 discipline).
  *
  * MAINTENANCE is the linear-sketch pattern (CountMinSketch's): the
  * per-batch delta is the batch's own (bucket, count) aggregate — sketch-
  * sized (≤ ~2·63·16 buckets by construction, never value-cardinality) —
  * written replay-idempotently on the Loader feed discipline; a query
  * folds the feed with one GROUP BY. Counts are linear, so the fold equals
  * the one-shot sketch EXACTLY under any batch split — q286 shares q285's
  * oracle byte-for-byte. Replay across compaction rides the feed's frontier
  * for free; bounded maintenance folds ride `compactBatches(upTo)`.
  *
  * 100 TB shape: per batch one batch-sized aggregate whose output is a few
  * KB; the query-side fold reads sketch-sized rows, never data. The
  * quantile answer itself is a window over ≤ ~2k bucket rows.
  */
object QuantileSketch {

  private val D = DecimalType(18, 6)

  /** value → exact integer micros (decimal path — no double rounding). */
  def micros(v: Column): Column = (v.cast(D) * lit(1000000)).cast("long")

  /** The deterministic log-bucket id of a value — also the bucket's
    * toward-zero bound in micros and its numeric sort key.
    */
  def bucketCol(v: Column): Column = {
    val m = micros(v)
    val am = abs(m)
    val blen = length(bin(am)) // exact bit length, both engines
    // 2^shift is a power of two ≤ 2^58: exact as double, exact as long
    val p = pow(lit(2.0), greatest(blen - lit(5), lit(0)).cast("double")).cast("long")
    val sign = when(m < 0, lit(-1L)).when(m > 0, lit(1L)).otherwise(lit(0L))
    sign * (am - pmod(am, p))
  }

  /** The batch's sketch DELTA: (bucket, n) — sketch-sized by construction. */
  def delta(batch: DataFrame, valueCol: String): DataFrame =
    batch.select(bucketCol(col(valueCol)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** Ingest one micro-batch: replay-idempotent `_batch` partition write of
    * the delta (at-least-once safe: a replay rewrites its own partition, a
    * folded batch no-ops at the feed frontier).
    * Stream it through `IndexTables(feeds = Seq(feedDir)).sink(n)` to fold
    * the feed every n batches.
    */
  def ingestBatch(batch: DataFrame, valueCol: String, feedDir: String,
      batchId: Long): Unit =
    graft.streaming.Loader.writeBatchIdempotent(
      delta(batch, valueCol), feedDir, batchId)

  /** The cumulative sketch: fold the delta feed (one sketch-sized GROUP BY). */
  def fold(spark: SparkSession, feedDir: String): DataFrame =
    graft.streaming.Loader.readTable(spark, feedDir)
      .groupBy(col("bucket")).agg(sum(col("n")).as("n"))

  /** Quantile estimates at the given ppm ranks: for each q the smallest
    * bucket whose cumulative count reaches rank = ceil(total·q/10⁶)
    * (integer arithmetic — DIV, not double division, so the rank is exact
    * at any corpus size). The single-partition window is sanctioned: the
    * sketch is ≤ ~2k rows by construction, never data-sized.
    */
  def quantiles(sketch: DataFrame, qPpm: Seq[Long]): DataFrame = {
    import sketch.sparkSession.implicits._
    val cum = sketch.withColumn("c", sum(col("n")).over(Window.orderBy(col("bucket"))))
    val qs = qPpm.toDF("q_ppm")
      .crossJoin(sketch.agg(sum(col("n")).as("total")))
      .withColumn("rank", expr("(total * q_ppm + 999999) DIV 1000000"))
    qs.join(cum, cum("c") >= qs("rank"))
      .groupBy(col("q_ppm"), col("rank"))
      .agg(min(col("bucket")).as("est_micros"))
  }

  /** Exclusive upper bound of a non-negative bucket id's value range:
    * the next bucket boundary, `b + 2^max(bitlen(b)−5, 0)` (1 for the zero
    * bucket). With [[bucketCol]]'s construction every member m of bucket b
    * satisfies b ≤ m < upperBound(b) — the interval the q285 audit checks
    * the true rank against (negative buckets mirror to (b−width, b] and
    * are outside the audit helper's scope).
    */
  def upperBoundCol(b: Column): Column =
    b + pow(lit(2.0), greatest(length(bin(b)) - lit(5), lit(0)).cast("double"))
      .cast("long")
}
