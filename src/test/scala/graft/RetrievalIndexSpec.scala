package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BucketedStore, RetrievalIndex}

/** Pins the streaming inverted index (q258's operator): batch-split
  * invariance against the batch BM25 scorer, first-arrival-wins
  * re-arrivals, replay idempotency, flat per-batch ingest work, and
  * bounded files under the compaction policy.
  */
class RetrievalIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def scores(dir: String, terms: Seq[String]) =
    RetrievalIndex.bm25(spark, dir, terms, 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Batch oracle: the same shared scorer fed directly (no index). */
  private def batchScores(d: org.apache.spark.sql.DataFrame, terms: Seq[String]) = {
    val withDl = d.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("dl"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val tc = withDl.select(col("doc_id"), col("dl"), explode(col("tk")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t")).agg(count(lit(1)).as("c"))
    RetrievalIndex.bm25FromPostings(tc, stats)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val corpus = docs(
    (1L, "spark join stream spark"),
    (2L, "stream of data with a join inside"),
    (3L, "nothing relevant here at all"),
    (4L, "spark spark spark join"),
    (5L, "one more stream document about spark"))

  test("streamed ingest equals the batch scorer under any batch split; replay no-op") {
    val terms = Seq("spark", "join", "stream")
    val want = batchScores(corpus, terms)
    for (split <- Seq(Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)),
                      Seq(Seq(5L, 3L, 1L), Seq(4L, 2L)))) {
      val dir = tmpDir("ri-split") + "/idx"
      split.zipWithIndex.foreach { case (ids, b) =>
        RetrievalIndex.ingestBatch(
          corpus.filter(col("doc_id").isin(ids: _*)), dir, b.toLong)
      }
      assert(scores(dir, terms) == want, s"split $split diverged from batch")
      // at-least-once replay of the last batch
      RetrievalIndex.ingestBatch(
        corpus.filter(col("doc_id").isin(split.last: _*)), dir,
        (split.length - 1).toLong)
      assert(scores(dir, terms) == want, s"replay after split $split diverged")
    }
  }

  test("re-arrival in a later batch is a no-op (first arrival wins, stats stay consistent)") {
    val dir = tmpDir("ri-rearrive") + "/idx"
    RetrievalIndex.ingestBatch(corpus.filter(col("doc_id") <= 3L), dir, 0L)
    val want = scores(dir, Seq("spark", "stream"))
    // doc 2 re-arrives with CHANGED text: discarded, index unchanged
    RetrievalIndex.ingestBatch(
      docs((2L, "completely different spark spark spark spark text")), dir, 1L)
    assert(scores(dir, Seq("spark", "stream")) == want)
    assert(spark.read.parquet(dir.stripSuffix("/") + "_stats")
      .agg(sum(col("n_docs"))).collect()(0).getLong(0) == 3L)
  }

  test("per-batch ingest work stays flat as the index grows (the store growth law)") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 11).map(i =>
          concat(lit(s"w$i"), (col("id") * 31 + i) % 9973)): _*).as("text"))
    val dir = tmpDir("ri-flat") + "/idx"
    RetrievalIndex.ingestBatch(mkDocs(0L, 600L), dir, 0L)
    val rSmall = shuffleRecordsDuring {
      RetrievalIndex.ingestBatch(mkDocs(10000L, 10005L), dir, 1L)
    }
    RetrievalIndex.ingestBatch(mkDocs(600L, 1200L), dir, 2L)
    val rBig = shuffleRecordsDuring {
      RetrievalIndex.ingestBatch(mkDocs(20000L, 20005L), dir, 3L)
    }
    info(s"tiny-batch ingest shuffle records: index@600 -> $rSmall, index@1200 -> $rBig")
    assert(rSmall > 0 && rBig > 0)
    assert(rBig <= rSmall + 400,
      s"ingest work grew with the index: $rSmall -> $rBig — store re-shuffle?")
  }

  test("query reads only matched buckets with an exchange-free df window") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat(lit("filler"), col("id"), lit(" common "),
          when(col("id") % 100 === 0, "needle").otherwise("hay")).as("text"))
    val dir = tmpDir("ri-query") + "/idx"
    RetrievalIndex.ingestBatch(mkDocs(0L, 800L), dir, 0L)
    val qSmall = shuffleRecordsDuring { scores(dir, Seq("needle")) }
    RetrievalIndex.ingestBatch(mkDocs(800L, 1600L), dir, 1L)
    val qBig = shuffleRecordsDuring { scores(dir, Seq("needle")) }
    info(s"query shuffle records: corpus@800 -> $qSmall, corpus@1600 -> $qBig")
    // matched postings double (8 -> 16 needle docs) but the corpus-sized
    // store must contribute NOTHING to the shuffle: the df window's
    // partitioning is satisfied by the bucketed scan, so query shuffle is
    // matched-rows + stats + top-k merge only
    assert(qBig <= qSmall + 100,
      s"query work grew with the corpus: $qSmall -> $qBig — store-side exchange?")
  }

  test("compactEvery keeps files bounded; answers unchanged across compaction") {
    import spark.implicits._
    def mkDocs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 5).map(i =>
          concat(lit(s"w$i"), (col("id") * 13 + i) % 997)): _*).as("text"))
    val dir = tmpDir("ri-compact") + "/idx"
    val sink = RetrievalIndex.tables(dir).sink(2)(RetrievalIndex.ingestBatch(_, dir, _))
    for (b <- 0L until 6L) sink(mkDocs(b * 50, b * 50 + 50), b)
    val files = BucketedStore.parquetFiles(spark, dir).size +
      BucketedStore.parquetFiles(spark, dir.stripSuffix("/") + "_ids").size
    info(s"files after 6 batches with compactEvery=2: $files")
    assert(files <= 16, s"auto-compaction left $files files")
    // the stats FEED folds too (round 11): one file per batch would make
    // query cost creep with history even though each file is 2 BIGINTs
    val statsFiles = BucketedStore.parquetFiles(spark,
      dir.stripSuffix("/") + "_stats").size
    info(s"stats-feed files after 6 batches: $statsFiles")
    assert(statsFiles < 6, s"stats feed kept its per-batch file pile ($statsFiles)")
    // the compacted index still answers == the batch scorer
    val all = mkDocs(0L, 300L)
    assert(scores(dir, Seq("w0101", "w1202")) == batchScores(all, Seq("w0101", "w1202")))
  }
}
