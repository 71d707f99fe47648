package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.hexLong

/** COUNT-MIN SKETCH as MAINTAINED STREAMING STATE (Cormode &
  * Muthukrishnan 2005). CMS is a LINEAR sketch — sketch(A ∪ B) =
  * sketch(A) + sketch(B) cell-wise — so the maintained form is just a
  * per-batch DELTA feed: each micro-batch contributes its own d×w
  * bucket-sum rows (≤ d·w rows per batch, a few KB — never key-cardinality
  * state), written replay-idempotently, and a query folds the feed with
  * one (row, bucket) aggregate before the per-key min. The fold equals the
  * one-shot batch sketch BY LINEARITY, which is exactly what the q273 gate
  * pins (byte-identical to q271's batch oracle).
  *
  * Hashes are md5-derived (derandomized — both engines and every batch
  * split build the identical sketch). 100 TB shape: per-batch work is the
  * batch's own key-count aggregate + a d·w-row write; query cost is the
  * feed fold (d·w·batches rows, prunable with `Loader.compactBatches`)
  * plus d broadcast-sized lookups per audited key.
  */
object CountMinSketch {

  /** Row-j bucket of a key (j derandomizes the hash family). */
  def bucket(key: Column, j: Int, w: Int): Column =
    hexLong(md5(concat(lit(s"cms$j#"), key)), 1, 8) % w

  /** The d×w sketch DELTA of one batch of raw key occurrences:
    * (j, b, s) rows, s = occurrences of keys hashing to bucket b in row j.
    */
  def delta(batch: DataFrame, keyCol: String, d: Int = 4, w: Int = 1024): DataFrame = {
    val counts = batch.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    counts.select(explode(array((0 until d).map(j =>
        struct(lit(j).as("j"), bucket(col(keyCol), j, w).as("b"))): _*)).as("jb"),
        col("c"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(sum(col("c")).as("s"))
  }

  /** Ingest one micro-batch: write its sketch delta as a replay-idempotent
    * `_batch` partition (at-least-once safe — a replay rewrites its own
    * partition, a folded batch no-ops at the feed frontier). Stream it
    * through `IndexTables(feeds = Seq(feedDir)).sink(n)` to fold the feed
    * every n batches (content-preserving: the fold is a sum either way).
    */
  def ingestBatch(batch: DataFrame, keyCol: String, feedDir: String,
      batchId: Long, d: Int = 4, w: Int = 1024): Unit =
    graft.streaming.Loader.writeBatchIdempotent(
      delta(batch, keyCol, d, w), feedDir, batchId)

  /** SKETCH-THEN-VERIFY heavy-hitter ingest — the standard production
    * composition of the maintained sketch (q273) and exact verification
    * (q162's discipline): after folding the batch's delta into the feed,
    * estimate ONLY the batch's own distinct keys (batch-sized work — the
    * corpus key space is never enumerated) and append those whose estimate
    * crosses `threshold` to a CANDIDATES feed.
    *
    * The SUPERSET guarantee (CmsSketchSpec pins it): CMS never
    * undercounts, and a key's estimate after its LAST containing batch is
    * at least its full exact count — so every true heavy hitter lands in
    * the candidates feed by the time its last occurrence arrives. The
    * candidate set may carry false positives (collisions, keys that
    * crossed on estimate only); the EXACT verify pass — a count over the
    * candidate keys alone, semi-joined before the aggregate — kills them.
    * A replayed batch may even record MORE candidates than the original
    * run (its estimate now sees later batches): still a superset, still
    * killed by verify, so the final answer is replay-invariant without any
    * coordination between the two feeds.
    *
    * 100 TB shape: per batch, one delta write + one batch-keys estimate
    * (d broadcast lookups); the expensive exact confirm runs on demand
    * over candidates only — at a sane (threshold, w) the candidate set is
    * heavy-hitter-sized, so the verify aggregate's map side drops almost
    * every row at the semi-join.
    */
  def ingestHeavyHitters(batch: DataFrame, keyCol: String, feedDir: String,
      candDir: String, threshold: Long, batchId: Long,
      d: Int = 4, w: Int = 1024): Unit = {
    val spark = batch.sparkSession
    ingestBatch(batch, keyCol, feedDir, batchId, d, w)
    val cands = estimates(spark, feedDir,
        batch.select(col(keyCol)).distinct(), keyCol, d, w)
      .filter(col("est") >= threshold)
    graft.streaming.Loader.writeBatchIdempotent(cands, candDir, batchId)
  }

  /** The EXACT heavy hitters: count only the candidate keys the sketch
    * surfaced (semi-join before the aggregate — the scan's map side drops
    * non-candidates), keep those truly at/above `threshold`. Equals the
    * plain GROUP BY … HAVING truth by the superset guarantee.
    */
  def verifiedHeavyHitters(spark: SparkSession, raw: DataFrame, keyCol: String,
      candDir: String, threshold: Long): DataFrame = {
    // a feed whose every batch was empty (nothing ever crossed the
    // threshold) never materializes files — by the superset guarantee the
    // true hitter set is then empty too
    val cands = graft.streaming.Loader.readTableIfAny(spark, candDir)
      .map(_.select(col(keyCol)).distinct())
      .getOrElse(raw.select(col(keyCol)).limit(0))
    raw.join(broadcast(cands), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol)).agg(count(lit(1)).as("exact"))
      .filter(col("exact") >= threshold)
  }

  /** CMS estimates for a frame of keys against the maintained feed:
    * fold the deltas to the current d×w sketch, look every key up in its
    * d buckets, min across rows. Returns `keys` + an `est` column.
    *
    * The sketch is stored SPARSE (only touched buckets have rows), so the
    * lookup is a LEFT join with an empty-bucket value of 0: an un-ingested
    * key whose buckets are all empty gets the correct CMS estimate 0 —
    * an inner join would silently drop it (or, with a partial collision,
    * min over only its colliding buckets and over-report).
    */
  def estimates(spark: SparkSession, feedDir: String, keys: DataFrame,
      keyCol: String, d: Int = 4, w: Int = 1024): DataFrame = {
    val sketch = graft.streaming.Loader.readTable(spark, feedDir)
      .groupBy(col("j"), col("b")).agg(sum(col("s")).as("sum"))
    keys.select(col("*"), explode(array((0 until d).map(j =>
        struct(lit(j).as("j"), bucket(col(keyCol), j, w).as("b"))): _*)).as("jb"))
      .select(col("*"), col("jb.j").as("j"), col("jb.b").as("b")).drop("jb")
      .join(broadcast(sketch), Seq("j", "b"), "left_outer")
      .groupBy(keys.columns.map(col): _*)
      .agg(min(coalesce(col("sum"), lit(0L))).as("est"))
  }
}
