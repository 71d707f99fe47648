package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Distributed BPE tokenizer TRAINING — the merge-learning loop on top of
  * q81's pair statistics (which only OBSERVES one round's counts): for R
  * rounds, count adjacent symbol pairs across the corpus, pick the most
  * frequent pair (ties lexicographic, so the model is a pure function of
  * the corpus), and greedily merge its occurrences left-to-right in every
  * document. The learned merge table IS the tokenizer model — the
  * word-level analogue of the byte-pair vocabularies LLM pipelines train.
  *
  * Greedy semantics (the standard ones): pair counts include overlapping
  * occurrences; application is a single left-to-right pass per document,
  * so a run like `x x x x` under merge (x,x) becomes `xx xx` (positions
  * 1 and 3 — odd ranks within a contiguous match run). [[applyMerge]]
  * implements exactly that rule on MATCH POSITIONS over the round's
  * original symbols (keep a match unless its left neighbour was just
  * kept), so a freshly-merged symbol can never feed a further merge
  * within the same round — chain-merging is impossible by construction.
  *
  * Scale shape: each round is one corpus-wide pair aggregate (map-side
  * partial counts, TakeOrdered(1) — never a global sort) plus one in-row
  * rewrite (codegen'd HOF, no explode of the rewritten corpus). Driver
  * traffic is the MODEL: one (left, right, count) row per round — the
  * AnnIvf-centroids pattern. Round frames persist and the previous round
  * unpersists once its successor materializes, so lineage stays one round
  * deep. R full corpus passes are the algorithm's intrinsic cost; nothing
  * here adds a term that grows with vocabulary or history.
  */
object BpeTrainer {

  /** One learned merge: round number (1-based), the pair, its count. */
  final case class Merge(merge_round: Int, left: String, right: String,
      pair_count: Long)

  /** Train `rounds` merges over (doc_id, text). Returns the merge table in
    * learning order; stops early if no adjacent pair remains.
    */
  def train(spark: SparkSession, docs: DataFrame, rounds: Int): Seq[Merge] = {
    require(rounds >= 1, "need at least one merge round")
    var seqs = docs
      .select(col("doc_id"), tokens(col("text")).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    seqs.count()
    val merges = Seq.newBuilder[Merge]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        // adjacent pairs as STRUCTS (never joined strings: merged symbols
        // contain spaces, so string-splitting a pair would be ambiguous)
        val top = seqs
          .select(explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
            slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
          .select(col("p.l"), col("p.r"))
          .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += Merge(r, a, b, c)
          val next = applyMerge(seqs, a, b)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          seqs.unpersist()
          seqs = next
          r += 1
        }
      }
      merges.result()
    } finally seqs.unpersist()
  }

  /** The merge table as a DataFrame. Columns `lhs`/`rhs` (not LEFT/RIGHT —
    * reserved words in every SQL dialect the oracle runs in).
    */
  def trainDF(spark: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import spark.implicits._
    train(spark, docs, rounds)
      .toDF("merge_round", "lhs", "rhs", "pair_count")
      .select(col("merge_round").cast("long"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** How many ranked candidates a batched round scans: the SELECTION WINDOW
    * is part of the model definition (both the trainer and any replaying
    * oracle must scan the same bounded prefix of the count-ranked pair list,
    * or a deep conflict chain would make them diverge), and it bounds the
    * per-round driver traffic to `8·beam` model-sized rows.
    */
  def selectionWindow(beam: Int): Int = 8 * beam

  /** Greedy SYMBOL-DISJOINT selection over a count-ranked candidate window —
    * the rule that makes batched learning well-defined: scanning candidates
    * in (count DESC, lhs, rhs) order, accept a pair unless any of its THREE
    * strings — lhs, rhs, and the joined symbol `lhs + " " + rhs` it would
    * mint — collides with any of the three strings of an already-accepted
    * pair, stopping after `beam` acceptances.
    *
    * Why three strings and not two: pair counts are measured ONCE at round
    * start, and a merge (a, b) leaves every pair disjoint from it untouched
    * (adjacency of symbols other than a/b cannot change), so disjoint
    * accepted merges apply with their counted occurrences intact and in any
    * order. But the minted symbol "a b" may ALREADY be a vocabulary symbol
    * (a previous round's merge), and a same-round candidate ("a b", x)
    * would then match occurrences the (a, b) merge creates mid-round —
    * breaking both the count contract and order-independence. Including the
    * joined string in the used-set closes that hole from both directions.
    */
  private[graft] def selectDisjoint(cands: Seq[(String, String, Long)],
      beam: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var taken = 0
    val it = cands.iterator
    while (taken < beam && it.hasNext) {
      val cand @ (a, b, _) = it.next()
      val trio = Seq(a, b, a + " " + b)
      if (!trio.exists(used)) {
        out += cand
        used ++= trio
        taken += 1
      }
    }
    out.result()
  }

  /** BATCHED training — the fix for sequential [[train]]'s merges × corpus
    * coupling (one corpus-wide pair aggregate PER MERGE means a real
    * tokenizer's ~32k merges cost ~32k corpus scans): each of `outerRounds`
    * rounds runs ONE pair aggregate, collects the top-[[selectionWindow]]
    * candidates (model-sized driver traffic), greedily accepts up to `beam`
    * SYMBOL-DISJOINT pairs per [[selectDisjoint]], and applies them as a
    * chained in-row fold — so up to `outerRounds · beam` merges cost
    * `outerRounds` corpus aggregates (BpeTrainerSpec pins the law).
    *
    * Semantics vs sequential BPE (documented, deliberate): within a round,
    * every accepted pair's count is its round-START count — exact, because
    * disjointness means earlier same-round merges cannot touch it — but a
    * symbol minted mid-round cannot win again until the NEXT round, where
    * sequential BPE would let it compete immediately. `beam = 1` degenerates
    * to exactly [[train]] (the spec pins bit-parity). Merge numbering is the
    * global learning order, so the model table is drop-in for [[encode]].
    *
    * Returns (merge table, number of corpus pair-aggregates performed) —
    * the scan count is the law the caller buys this variant for.
    */
  def trainBatched(spark: SparkSession, docs: DataFrame, outerRounds: Int,
      beam: Int): (Seq[Merge], Int) = {
    require(outerRounds >= 1, "need at least one round")
    require(beam >= 1, "beam must be positive")
    var seqs = docs
      .select(col("doc_id"), tokens(col("text")).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    seqs.count()
    val merges = Seq.newBuilder[Merge]
    var scans = 0
    var learned = 0
    try {
      var n = 1
      var exhausted = false
      while (n <= outerRounds && !exhausted) {
        val cands = seqs
          .select(explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
            slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
          .select(col("p.l"), col("p.r"))
          .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(selectionWindow(beam)).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        scans += 1
        if (cands.isEmpty) exhausted = true
        else {
          val accepted = selectDisjoint(cands, beam)
          val next = accepted.foldLeft(seqs) { (df, m) =>
            learned += 1
            merges += Merge(learned, m._1, m._2, m._3)
            applyMerge(df, m._1, m._2)
          }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          seqs.unpersist()
          seqs = next
          n += 1
        }
      }
      (merges.result(), scans)
    } finally seqs.unpersist()
  }

  /** [[trainBatched]]'s merge table as a DataFrame (same shape as
    * [[trainDF]] — the batched model is drop-in for [[encode]]).
    */
  def trainBatchedDF(spark: SparkSession, docs: DataFrame, outerRounds: Int,
      beam: Int): DataFrame = {
    import spark.implicits._
    trainBatched(spark, docs, outerRounds, beam)._1
      .toDF("merge_round", "lhs", "rhs", "pair_count")
      .select(col("merge_round").cast("long"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** ENCODE: tokenize (doc_id, text) with an already-trained merge table —
    * the apply side of the model train() learns. Each merge is the same
    * left-to-right greedy pass training used, applied in learning order, so
    * encode(corpus, train(corpus, R)) reproduces training's final state by
    * construction (the spec pins it). The scale story is the point: the
    * whole encoder is R nested in-row folds inside ONE projection — a
    * single shuffle-free corpus pass, embarrassingly parallel, no joins, no
    * aggregates; the model rides into every task as R string literals
    * (broadcast-by-plan, the way a real tokenizer ships its merge table).
    *
    * Returns (doc_id, syms) — the tokenized sequence per document.
    */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.foldLeft(
      docs.select(col("doc_id"), tokens(col("text")).as("syms"))) {
      (df, m) => applyMerge(df, m.left, m.right)
    }

  /** ENCODE AT INGEST — the apply-at-ingest leg of the tokenizer story
    * (train offline with [[train]], ship the merge table, tokenize every
    * micro-batch the moment it arrives): a foreachBatch sink running
    * [[encode]] on the batch and writing (doc_id, syms) idempotently via
    * `Loader.writeBatchIdempotent` (an at-least-once replay rewrites its
    * own `_batch` partition). Because [[encode]] is per-row (one
    * shuffle-free projection, model inlined as literals), the union of
    * per-batch outputs is byte-identical to encoding the whole corpus in
    * one batch — which is exactly what the q269 gate pins against q261's
    * oracle.
    */
  def encodeSink(merges: Seq[Merge], outDir: String): (DataFrame, Long) => Unit =
    (batch, id) => graft.streaming.Loader.writeBatchIdempotent(
      encode(batch.select(col("doc_id"), col("text")), merges), outDir, id)

  /** A Spark SQL string literal for a DATA-DERIVED symbol: backslashes must
    * be doubled BEFORE quote-doubling — Spark's parser processes backslash
    * escapes inside literals by default (`escapedStringLiterals=false`), so
    * a learned merge symbol containing `\` would otherwise parse as an
    * escape sequence and the expr-built merge would match the wrong bytes
    * (or fail to parse). BpeTrainerSpec pins a backslash-bearing corpus.
    */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** Left-to-right greedy single-pass merge of (a, b) over `syms`, in-row,
    * staged so the per-document cost is O(len·matches) worst-case —
    * O(len + matches²) for the fold itself plus the rebuild's
    * array_contains(kept, j) probe per position — instead of the naive
    * fold's O(len²) ALLOCATIONS (the term that actually hurt: copying the
    * whole token array per element):
    *
    *   1. `kept` — match positions (a cheap filter over pair indices)
    *      folded down to the GREEDY subset: drop a match whose left
    *      neighbour was just kept (the odd-rank-within-run rule; the fold
    *      copies only the match array, which is empty for almost every
    *      (doc, pair) — the original formulation folded the WHOLE token
    *      array with a copy per element, and its allocation bill was the
    *      dominant term of the sf10 decade run: 1,785 task-s / 143 s GC,
    *      16× the sf1 cost, against ~6× for every data-sized stage);
    *   2. one rebuild pass — emit the merged symbol at kept positions,
    *      skip their right halves, copy everything else. Its per-position
    *      array_contains probe is a linear scan of `kept`, so the rebuild
    *      is len·matches comparisons of ints — no allocation; matches per
    *      (doc, pair) are near-zero in practice, and the decade runs bound
    *      the real cost (6.5×/decade after this staging).
    *
    * Semantics are pinned byte-identical to the old fold by BpeTrainerSpec
    * (overlap runs, chain-merge impossibility) and the q259/q261 oracles.
    */
  private def applyMerge(df: DataFrame, a: String, b: String): DataFrame = {
    val kept = expr(
      s"""CASE WHEN size(syms) < 2 THEN cast(array() as array<int>) ELSE
         |  aggregate(
         |    filter(sequence(1, size(syms) - 1),
         |      i -> element_at(syms, i) = ${sqlLit(a)}
         |           AND element_at(syms, i + 1) = ${sqlLit(b)}),
         |    cast(array() as array<int>),
         |    (acc, i) -> IF(size(acc) > 0 AND element_at(acc, -1) = i - 1,
         |                   acc, concat(acc, array(i))))
         |END""".stripMargin)
    val rebuilt = expr(
      s"""CASE WHEN size(kept) = 0 THEN syms ELSE
         |  filter(transform(sequence(1, size(syms)), j ->
         |    CASE WHEN array_contains(kept, j) THEN ${sqlLit(a + " " + b)}
         |         WHEN array_contains(kept, j - 1) THEN cast(null as string)
         |         ELSE element_at(syms, j) END),
         |    x -> x IS NOT NULL)
         |END""".stripMargin)
    df.select(col("doc_id"), col("syms"), kept.as("kept"))
      .select(col("doc_id"), rebuilt.as("syms"))
  }
}
