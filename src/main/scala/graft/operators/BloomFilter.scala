package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.hexLong

/** BLOOM FILTER as MAINTAINED STREAMING STATE (Bloom 1970) — the
  * MEMBERSHIP member of the mergeable-sketch family (frequency = CMS
  * q271/q273/q278, cardinality = HLL q39, heavy hitters = MG q162,
  * quantiles = DDSketch q285/q286): "might this key have been ingested?"
  * with NO false negatives and a bounded false-positive rate.
  *
  * A Bloom filter is linear under UNION — bloom(A ∪ B) = bloom(A) OR
  * bloom(B) bit-wise — so the maintained form is the CMS delta-feed
  * discipline verbatim: each micro-batch contributes the DISTINCT bit
  * positions its own keys touch (≤ min(k·|batch keys|, m) rows, capped at
  * the filter width — never key-cardinality state), written
  * replay-idempotently; a query folds the feed with one DISTINCT (the
  * set-union fold, idempotent, so replays and compactions are free), and a
  * key is POSITIVE iff all k of its positions are occupied.
  *
  * Positions are md5-derived (derandomized — both engines and every batch
  * split build the identical filter; the DuckDB oracle replays bit-for-bit).
  *
  * The production composition is the CROSS-CORPUS DEDUP GATE (the
  * "have we already crawled this?" check an LLM-ingest pipeline runs on
  * every arriving document): the no-false-negative law means a
  * bloom-NEGATIVE key is *definitely novel* and skips the expensive exact
  * check entirely; only bloom-POSITIVE keys (true dups + the FP tail) reach
  * the exact membership join. At 100 TB the join's probe side shrinks from
  * |new batch| to |dups| + fp·|new batch| — with 10 bits/key that is a
  * ~99% prune of the exact-check traffic for a mostly-novel crawl.
  *
  * Sizing (the scale knob): fp ≈ (1 − e^(−k·n/m))^k, so m grows linearly
  * with the ingested key count at constant bits-per-key (k=4, m=10n →
  * fp ≈ 1.2%). The sparse delta representation keeps per-batch cost
  * batch-sized regardless of m; only the FOLDED occupied-set (≤ m rows,
  * broadcast at lookup) is width-sized. Reference scope: the reference
  * pipeline re-crawls klines continuously (main.py loop) with no dedup
  * guard; this is the [EXT] guard a data-lake deployment of it would add.
  */
object BloomFilter {

  /** Position of `key` under hash j (j derandomizes the family). */
  def position(key: Column, j: Int, m: Int): Column =
    hexLong(md5(concat(lit(s"bloom$j#"), key)), 1, 8) % m

  /** The filter DELTA of one batch: the distinct positions (p) rows its
    * keys occupy. ≤ min(k·distinct-keys, m) rows — a saturated batch costs
    * m rows, never more.
    */
  def delta(batch: DataFrame, keyCol: String, k: Int = 4, m: Int = 2048): DataFrame =
    batch.select(explode(array((0 until k).map(j =>
        position(col(keyCol), j, m)): _*)).as("p"))
      .distinct()

  /** Ingest one micro-batch: its delta as a replay-idempotent `_batch`
    * partition (the CMS feed discipline — a replay rewrites its own
    * partition, a folded batch no-ops at the feed frontier). Stream it
    * through `IndexTables(feeds = Seq(feedDir)).sink(n)` to fold the feed
    * every n batches (content-preserving: the fold is a set union either
    * way, and union is idempotent).
    */
  def ingestBatch(batch: DataFrame, keyCol: String, feedDir: String,
      batchId: Long, k: Int = 4, m: Int = 2048): Unit =
    graft.streaming.Loader.writeBatchIdempotent(
      delta(batch, keyCol, k, m), feedDir, batchId)

  /** Membership probes for a frame of keys against the maintained feed:
    * fold the deltas to the occupied-position set (≤ m rows, broadcast),
    * check each key's k positions, AND across them. Returns `keys` + a
    * `maybe` column (1 = possibly ingested, 0 = DEFINITELY not — the
    * no-false-negative law, BloomSketchSpec).
    *
    * The occupied set is stored SPARSE, so the probe is a LEFT join with
    * an absent-position value of "empty": a key probing only untouched
    * buckets gets maybe = 0 (an inner join would drop it instead).
    */
  def mightContain(spark: SparkSession, feedDir: String, keys: DataFrame,
      keyCol: String, k: Int = 4, m: Int = 2048): DataFrame = {
    val occupied = graft.streaming.Loader.readTable(spark, feedDir)
      .select(col("p")).distinct().withColumn("hit", lit(1))
    keys.select(col("*"), explode(array((0 until k).map(j =>
        position(col(keyCol), j, m)): _*)).as("p"))
      .join(broadcast(occupied), Seq("p"), "left_outer")
      .groupBy(keys.columns.map(col): _*)
      .agg(min(coalesce(col("hit"), lit(0))).as("maybe"))
  }
}
