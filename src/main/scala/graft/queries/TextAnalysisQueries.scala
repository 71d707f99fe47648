package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.{idiv, ppm}
import graft.functions.TextFunctions._
import graft.model.Tables
import Protocol._

/** Text-analysis operators over `documents` (SURVEY §2.2 [EXT]): language
  * identification, quality scoring, token counting, document fingerprinting.
  * All narrow, codegen'd per-row work — at 100 TB these run as a single scan
  * with no shuffle except the final (tiny) aggregation.
  */
object TextAnalysisQueries extends QueryModule {

  /** Marker-token lists for the n-gram/stopword language heuristic. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "de", "que", "y", "una"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** One greedy left-to-right merge APPLICATION as DuckDB CTEs: rewrite the
    * sequences of `in` under the (zero-or-one-row) merge relation `mrel`
    * (columns l, r), producing `r$tag`, via the islands form — a merge
    * position is a pair-match at ODD rank within its contiguous run of
    * matches. An EMPTY `mrel` rebuilds the input unchanged (h/k are empty),
    * which is what lets the batched oracle unroll a fixed number of
    * application slots per round regardless of how many pairs a round's
    * disjointness scan actually accepted. Shared by the sequential and
    * batched training oracles AND the encode oracles so the greedy rule can
    * never drift between any of them.
    */
  private def bpeApply(tag: String, in: String, mrel: String): String =
    s"""h$tag AS (SELECT s.doc_id, t.i,
       |    ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY t.i) AS rn
       |  FROM $in s, $mrel m, UNNEST(range(1, len(s.syms))) AS t(i)
       |  WHERE s.syms[t.i] = m.l AND s.syms[t.i+1] = m.r),
       |k$tag AS (SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id, i - rn ORDER BY i) AS rk
       |    FROM h$tag) WHERE rk % 2 = 1),
       |e$tag AS (SELECT s.doc_id, t.i, s.syms[t.i] AS cur, s.syms[t.i+1] AS nxt
       |  FROM $in s, UNNEST(range(1, len(s.syms) + 1)) AS t(i)),
       |r$tag AS (SELECT x.doc_id, list(x.sym ORDER BY x.i) AS syms FROM (
       |    SELECT e.doc_id, e.i,
       |      CASE WHEN k.i IS NOT NULL THEN e.cur || ' ' || e.nxt
       |           ELSE e.cur END AS sym
       |    FROM e$tag e
       |    LEFT JOIN k$tag k ON k.doc_id = e.doc_id AND k.i = e.i
       |    LEFT JOIN k$tag k2 ON k2.doc_id = e.doc_id AND k2.i = e.i - 1
       |    WHERE k2.i IS NULL) x
       |  GROUP BY x.doc_id)""".stripMargin

  /** One unrolled SEQUENTIAL BPE training round (shared by q259's model
    * oracle and q261's encode oracle): count pairs in `in` → pick max (m$n,
    * ties lexicographic) → one greedy application ([[bpeApply]]) → r$n.
    */
  private def bpeRound(n: Int, in: String): String =
    s"""p$n AS (SELECT s.syms[t.i] AS l, s.syms[t.i+1] AS r
       |  FROM $in s, UNNEST(range(1, len(s.syms))) AS t(i)),
       |m$n AS (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS c FROM p$n
       |  GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1),
       |${bpeApply(n.toString, in, s"m$n")}""".stripMargin

  /** One unrolled BATCHED BPE training round (q274's oracle — replays
    * `BpeTrainer.trainBatched` exactly): ONE pair count over `in`, the top
    * [[graft.operators.BpeTrainer.selectionWindow]] candidates ranked
    * (count DESC, l, r), a RECURSIVE greedy scan accepting symbol-disjoint
    * pairs (the used-set carries each accepted pair's lhs, rhs AND minted
    * joined symbol — [[graft.operators.BpeTrainer.selectDisjoint]]'s trio
    * rule) up to `beam`, then `beam` chained application slots. Slots past
    * the round's acceptance count have an empty merge relation and rebuild
    * unchanged. Ends at `rb${n}_$beam`. Callers must put RECURSIVE on the
    * enclosing WITH.
    */
  private def bpeBatchedRound(n: Int, in: String, beam: Int): String = {
    val window = graft.operators.BpeTrainer.selectionWindow(beam)
    val ok = s"(s.taken < $beam AND NOT list_has_any(s.used, " +
      "[c.l, c.r, c.l || ' ' || c.r]))"
    val head =
      s"""pb$n AS (SELECT s.syms[t.i] AS l, s.syms[t.i+1] AS r
         |  FROM $in s, UNNEST(range(1, len(s.syms))) AS t(i)),
         |cb$n AS (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS c,
         |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l, r) AS rk
         |  FROM pb$n GROUP BY l, r
         |  QUALIFY rk <= $window),
         |sb$n(rk, l, r, c, took, taken, used) AS (
         |  SELECT rk, l, r, c, TRUE, 1, [l, r, l || ' ' || r]
         |  FROM cb$n WHERE rk = 1
         |  UNION ALL
         |  SELECT c.rk, c.l, c.r, c.c, $ok,
         |    s.taken + CASE WHEN $ok THEN 1 ELSE 0 END,
         |    CASE WHEN $ok THEN s.used || [c.l, c.r, c.l || ' ' || c.r]
         |         ELSE s.used END
         |  FROM sb$n s JOIN cb$n c ON c.rk = s.rk + 1),
         |ab$n AS (SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY rk) AS k
         |  FROM sb$n WHERE took)""".stripMargin
    val applies = (1 to beam).map { k =>
      val src = if (k == 1) in else s"rb${n}_${k - 1}"
      s"""mb${n}_$k AS (SELECT l, r FROM ab$n WHERE k = $k),
         |${bpeApply(s"b${n}_$k", src, s"mb${n}_$k")}""".stripMargin
    }
    (head +: applies).mkString(",\n")
  }

  /** The three unrolled training rounds over `documents`, ending at r3. */
  private val bpeThreeRounds =
    s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS syms FROM documents),
       |${bpeRound(1, "d0")},
       |${bpeRound(2, "r1")},
       |${bpeRound(3, "r2")}""".stripMargin

  override val declared: Seq[Declared] = Seq(

    // q28 — language-ID heuristic vs labeled lang: confusion-matrix counts.
    // Score per language = |distinct tokens ∩ markers|; argmax with a fixed
    // priority order, 'und' when every score is zero.
    Declared("q28_lang_id",
      (s, dir) => {
        val toks = array_distinct(split(col("text"), " "))
        val scored = Tables.load(s, dir, "documents")
          .select(col("lang") +: markers.map { case (l, ms) =>
            size(array_intersect(toks, array(ms.map(lit): _*))).as(s"s_$l")
          }: _*)
        val pred = markers.foldRight(lit("und")) { case ((l, _), els) =>
          val sc = col(s"s_$l")
          val beats = markers.map(m => sc >= col(s"s_${m._1}")).reduce(_ && _)
          when(sc > 0 && beats, lit(l)).otherwise(els)
        }
        scored.select(col("lang"), pred.as("pred"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      },
      Some {
        val scores = markers.map { case (l, ms) =>
          s"len(list_intersect(list_distinct(string_split(text, ' ')), ${sqlList(ms)})) AS s_$l"
        }.mkString(",\n    ")
        val pred = markers.map { case (l, _) =>
          val beats = markers.map(m => s"s_$l >= s_${m._1}").mkString(" AND ")
          s"WHEN s_$l > 0 AND $beats THEN '$l'"
        }.mkString("\n      ", "\n      ", "\n      ELSE 'und' END")
        s"""SELECT lang, pred, COUNT(*) AS n FROM (
           |  SELECT lang, CASE $pred AS pred FROM (
           |    SELECT lang,
           |    $scores
           |    FROM documents))
           |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
      }),

    // q29 — per-document quality scoring: type-token ratio, stopword ratio,
    // average token length, combined score.
    Declared("q29_text_quality",
      (s, dir) => {
        val stop = markers.flatMap(_._2)
        val toks = split(col("text"), " ")
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_types"),
            size(filter(toks, t => array_contains(array(stop.map(lit): _*), t))).cast("long").as("n_stop"),
            length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            out6(dec(col("n_types")) / col("n_tokens")).as("ttr"),
            out6(dec(col("n_stop")) / col("n_tokens")).as("stop_ratio"),
            out6(dec(col("n_letters")) / col("n_tokens")).as("avg_tok_len"))
        // dec() re-casts on ttr/stop_ratio/avg_tok_len: the out6 outputs are
        // DOut = (38,6) (terminal headroom), but FURTHER decimal arithmetic
        // must run at the (18,6) leaf — (18,6)×(18,6) → (37,12) is exact,
        // while (18,6)×(38,6) overflows precision 38 and Spark truncates the
        // scale (a measured 1-ULP drift vs the oracle). The values are 6-dp
        // and well under (18,6)'s range, so the narrowing cast is lossless.
        base.select(col("doc_id"), col("n_tokens"), col("n_types"), col("ttr"),
          col("stop_ratio"), col("avg_tok_len"),
          out6(dec(lit(0.5)) * dec(col("ttr")) + dec(lit(0.3)) * dec(col("stop_ratio"))
            + dec(lit(0.2)) * least(lit(1).cast(D), dec(out6(dec(col("avg_tok_len")) * dec(lit(0.1)))))).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = sqlList(markers.flatMap(_._2))
        s"""SELECT doc_id, n_tokens, n_types, ttr, stop_ratio, avg_tok_len,
           |  CAST(ROUND(CAST(CAST(0.5 AS DECIMAL(18,6)) * ttr AS DECIMAL(30,12)) + CAST(CAST(0.3 AS DECIMAL(18,6)) * stop_ratio AS DECIMAL(30,12))
           |    + CAST(CAST(0.2 AS DECIMAL(18,6)) * LEAST(CAST(1 AS DECIMAL(18,6)), CAST(ROUND(avg_tok_len * CAST(0.1 AS DECIMAL(18,6)), 6) AS DECIMAL(18,6))) AS DECIMAL(30,12)), 6) AS DECIMAL(18,6)) AS quality
           |FROM (
           |  SELECT doc_id, n_tokens, n_types,
           |    CAST(ROUND(CAST(n_types AS DECIMAL(18,6)) / n_tokens, 6) AS DECIMAL(18,6)) AS ttr,
           |    CAST(ROUND(CAST(n_stop AS DECIMAL(18,6)) / n_tokens, 6) AS DECIMAL(18,6)) AS stop_ratio,
           |    CAST(ROUND(CAST(n_letters AS DECIMAL(18,6)) / n_tokens, 6) AS DECIMAL(18,6)) AS avg_tok_len
           |  FROM (
           |    SELECT doc_id,
           |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
           |      CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stop, t))) AS BIGINT) AS n_stop,
           |      CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
           |    FROM documents))
           |ORDER BY doc_id""".stripMargin
      }),

    // q30 — token counting per source: whitespace tokens, BPE-ish word
    // pieces, corpus vocabulary size (requires an explode + distinct — the
    // only shuffle in this module).
    Declared("q30_token_count",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("source"), split(col("text"), " ").as("toks"), col("text"))
        val tot = base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("total_tokens"),
          sum(wordpieceCount(col("text"))).cast("long").as("total_wordpieces"))
        val voc = base.select(col("source"), explode(col("toks")).as("t"))
          .groupBy(col("source")).agg(countDistinct(col("t")).as("n_vocab"))
        tot.join(voc, "source").orderBy(col("source"))
      },
      Some("""WITH base AS (SELECT source, string_split(text, ' ') AS toks, text FROM documents)
             |SELECT b.source, b.n_docs, b.total_tokens, b.total_wordpieces, v.n_vocab FROM
             |  (SELECT source, COUNT(*) AS n_docs,
             |     CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
             |     CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_wordpieces
             |   FROM base GROUP BY source) b
             |JOIN (SELECT source, COUNT(DISTINCT t) AS n_vocab
             |      FROM (SELECT source, unnest(toks) AS t FROM base) GROUP BY source) v
             |USING (source)
             |ORDER BY source""".stripMargin)),

    // q31 — order-sensitive rolling-hash document fingerprint; groups with
    // the same fingerprint are re-serialization duplicates.
    Declared("q31_fingerprint",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), rollingFingerprint("text").as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_concat([CAST(0 AS BIGINT)],
             |      list_transform(string_split(text, ' '),
             |        t -> CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT))),
             |    (h, t) -> (h * 31 + t) % 1000000007) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q72 — per-document top TF-IDF term: the doc-level relevance/keyword
    // extraction step (q65's vocabulary DF is the corpus-level half). IDF is
    // the RATIONAL variant N/df rather than ln(N/df): ln is a pointwise
    // monotone map of it, so the per-document argmax term is IDENTICAL for
    // any df tie-free pair — and the whole score stays in INTEGER arithmetic:
    //   score_micro = floor(c·N·10⁶ / (n_tokens·df))
    // A decimal or double division here is a latent gate breaker — Spark
    // divides decimals exactly (HALF_UP at the result scale) while DuckDB
    // degrades decimal/int to DOUBLE, so a quotient landing exactly on a
    // 6-dp halfway (e.g. 3/640 = 0.0046875) rounds UP in Spark and DOWN in
    // DuckDB whenever the nearest double sits below the true value. Integer
    // floor division is bit-identical in both engines. Width bound:
    // c·N·10⁶ < 2⁶³ ⇔ c·N < 9.2e12 — holds to ~10¹⁰ docs; past that, lift
    // the numerator to DECIMAL(38,0)/HUGEINT on both sides.
    //
    // Shape at 100 TB: (doc,term) counts are one explode + map-side partial
    // hash agg; doc length (Σc) and document frequency derive from those
    // counts via unordered windows, NOT join-backs (a join back would
    // re-derive the explode per consumer — three full text scans); N is a
    // 1-row broadcast; the per-doc argmax is one atomic min_by(struct) —
    // best term and score always come from the same row, no second window.
    Declared("q72_tfidf",
      (s, dir) => {
        import graft.functions.ColumnOps.idiv
        val docs = Tables.load(s, dir, "documents")
        val tc = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tc.withColumn("n_tokens", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
          .crossJoin(broadcast(n))
          .withColumn("score_micro",
            idiv(col("c") * col("n_docs") * lit(1000000L), col("n_tokens") * col("df")))
          .groupBy(col("doc_id"))
          .agg(min_by(struct(col("t").as("term"), col("score_micro").as("sc")),
            struct((-col("score_micro")).as("ns"), col("t"))).as("best"))
          .select(col("doc_id"), col("best.term").as("term"),
            big(col("best.sc")).as("score_micro"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |tc AS (SELECT doc_id, t, COUNT(*) AS c
             |  FROM (SELECT doc_id, unnest(tk) AS t FROM d) GROUP BY doc_id, t),
             |dl AS (SELECT doc_id, len(tk) AS n_tokens FROM d),
             |dft AS (SELECT t, COUNT(*) AS df FROM tc GROUP BY t),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |sc AS (SELECT tc.doc_id, tc.t,
             |  (tc.c * n.n_docs * 1000000) // (dl.n_tokens * dft.df) AS score_micro
             |  FROM tc JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN n),
             |rk AS (SELECT doc_id, t, score_micro,
             |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, t) AS rn FROM sc)
             |SELECT doc_id, t AS term, CAST(score_micro AS BIGINT) AS score_micro
             |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // q78 — per-source document-LENGTH histogram (16-token bins with
    // per-bin doc count, token mass, min/max): the distribution diagnostic
    // a curation pipeline reads before setting length filters and packing
    // capacities. One scan, one two-key hash agg (map-side partial) — at
    // 100 TB the shuffle carries only (source, bin) counter rows.
    Declared("q78_length_histogram",
      (s, dir) => {
        import graft.functions.ColumnOps.idiv
        Tables.load(s, dir, "documents")
          .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
          .withColumn("bin", idiv(col("n"), lit(16L)))
          .groupBy(col("source"), col("bin"))
          .agg(big(count(lit(1))).as("n_docs"), big(sum(col("n"))).as("bin_tokens"),
            big(min(col("n"))).as("min_tokens"), big(max(col("n"))).as("max_tokens"))
          .select(col("source"), big(col("bin")).as("bin"), col("n_docs"),
            col("bin_tokens"), col("min_tokens"), col("max_tokens"))
          .orderBy(col("source"), col("bin"))
      },
      Some("""SELECT source, CAST(n // 16 AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n) AS BIGINT) AS bin_tokens,
             |  CAST(MIN(n) AS BIGINT) AS min_tokens,
             |  CAST(MAX(n) AS BIGINT) AS max_tokens
             |FROM (SELECT source, len(string_split(text, ' ')) AS n FROM documents)
             |GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // q81 — adjacent-pair frequencies (the BPE merge statistic): count
    // every token bigram OCCURRENCE across the corpus, keep the top 50 —
    // the per-iteration step of byte-pair-encoding tokenizer training
    // (count pairs → merge the argmax → repeat). One codegen'd ShingleArray
    // (width 2, non-distinct) explode → map-side-partial hash agg →
    // TakeOrdered(50): the shuffle carries (pair, count) rows, never text,
    // and the top-k never materializes the full pair vocabulary anywhere.
    Declared("q81_bpe_pairs",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(explode(shingles(col("text"), 2)).as("pair"))
          .groupBy(col("pair"))
          .agg(big(count(lit(1))).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(50)
      },
      Some("""WITH d AS (SELECT text, string_split(text, ' ') AS tk FROM documents),
             |p AS (SELECT unnest(CASE WHEN len(tk) >= 2
             |    THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
             |    ELSE [text] END) AS pair
             |  FROM d)
             |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
             |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // q259 — BPE TOKENIZER TRAINING (operators.BpeTrainer): the merge-
    // learning LOOP on top of q81's one-round pair statistics — 3 rounds
    // of count-adjacent-pairs → pick max (ties lexicographic) → greedy
    // left-to-right merge across every document; the output merge table IS
    // the trained tokenizer model. Spark applies merges with an in-row
    // fold (codegen'd HOF, no explode of the rewritten corpus); the oracle
    // replays the same three rounds in DuckDB with the islands form of the
    // greedy rule (a merge position is a pair-match at ODD rank within its
    // contiguous run of matches — equivalent to the left-to-right pass,
    // window-expressible). Model-sized driver traffic only (1 row/round).
    Declared("q259_bpe_train",
      (s, dir) => {
        graft.operators.BpeTrainer
          .trainDF(s, Tables.load(s, dir, "documents").select("doc_id", "text"), 3)
          .orderBy(col("merge_round"))
      },
      Some(bpeThreeRounds +
        """
          |SELECT merge_round, lhs, rhs, pair_count FROM (
          |  SELECT CAST(1 AS BIGINT) AS merge_round, l AS lhs, r AS rhs, c AS pair_count FROM m1
          |  UNION ALL SELECT 2, l, r, c FROM m2
          |  UNION ALL SELECT 3, l, r, c FROM m3)
          |ORDER BY merge_round""".stripMargin)),

    // q261 — BPE ENCODE (operators.BpeTrainer.encode): the APPLY side of
    // the model q259 trains — tokenize the corpus with the learned merge
    // table and report per-document tokenizer output (token count and
    // merged-symbol count after the R merges). The encoder
    // is the scale story: R nested in-row greedy folds inside ONE
    // projection — a single shuffle-free corpus pass with the model riding
    // into every task as literals (how a real tokenizer ships its merges);
    // the only shuffle anywhere is the training prefix it shares with
    // q259. Oracle replays the same three unrolled rounds (shared CTE
    // generator — the greedy rule literally cannot drift between the two
    // queries) and reads the FINAL sequences instead of the model, which
    // also pins encode(corpus, model) == training's end state.
    Declared("q261_bpe_encode",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val model = graft.operators.BpeTrainer.train(s, docs, 3)
        graft.operators.BpeTrainer.encode(docs, model)
          .select(col("doc_id"),
            big(size(col("syms"))).as("n_tokens"),
            big(size(filter(col("syms"), _.contains(" ")))).as("n_merged"))
          .orderBy(col("doc_id"))
      },
      Some(bpeThreeRounds +
        """
          |SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_tokens,
          |  CAST(len(list_filter(syms, s -> contains(s, ' '))) AS BIGINT) AS n_merged
          |FROM r3 ORDER BY doc_id""".stripMargin)),

    // q269 — STREAMING BPE ENCODE AT INGEST (BpeTrainer.encodeSink): the
    // apply-at-ingest leg that completes the tokenizer's maintained-store
    // story — q259 trains the model offline, and every arriving micro-batch
    // is tokenized immediately, its (doc_id, syms) sequences written as a
    // replay-idempotent `_batch` partition (the shape every real pipeline
    // runs: train once, apply at ingest, persist tokenized sequences).
    // Because encode is per-row and shuffle-free, the 4-batch union must be
    // byte-identical to the one-shot batch encode — the same oracle as
    // q261, which is the gate's whole point. Per-batch cost: the batch's
    // own projection + one partition write; nothing reads or grows with
    // the accumulated output.
    Declared("q269_stream_bpe_encode",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val model = graft.operators.BpeTrainer.train(s, docs, 3)
        val base = SharedStages.scratchDir("q269")
        val sink = graft.operators.BpeTrainer.encodeSink(model, s"$base/toks")
        for (b <- 0L until 4L)
          sink(docs.filter(pmod(col("doc_id"), lit(4L)) === b), b)
        graft.streaming.Loader.readTable(s, s"$base/toks")
          .select(col("doc_id"),
            big(size(col("syms"))).as("n_tokens"),
            big(size(filter(col("syms"), _.contains(" ")))).as("n_merged"))
          .orderBy(col("doc_id"))
      },
      Some(bpeThreeRounds +
        """
          |SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_tokens,
          |  CAST(len(list_filter(syms, s -> contains(s, ' '))) AS BIGINT) AS n_merged
          |FROM r3 ORDER BY doc_id""".stripMargin)),

    // q274 — BATCHED BPE TRAINING (BpeTrainer.trainBatched): the fix for
    // sequential training's merges × corpus coupling — a real tokenizer's
    // ~32k merges would mean ~32k corpus scans under q259's
    // one-aggregate-per-merge loop. Each round here runs ONE corpus pair
    // aggregate and accepts up to `beam` SYMBOL-DISJOINT pairs from the
    // top-8·beam ranked window (disjointness over lhs, rhs AND the minted
    // joined symbol, so same-round merges provably cannot interact and
    // round-start counts stay exact at application time): 2 rounds × beam 2
    // ⇒ up to 4 merges for 2 scans. The oracle replays the EXACT variant —
    // ranked window, recursive greedy disjoint scan, chained application
    // slots — so the documented batched semantics (a mid-round minted
    // symbol competes only from the next round) are pinned, not approximated.
    // BpeTrainerSpec pins the scan-count law and beam=1 ≡ sequential parity.
    Declared("q274_bpe_train_batched",
      (s, dir) => {
        graft.operators.BpeTrainer
          .trainBatchedDF(s,
            Tables.load(s, dir, "documents").select("doc_id", "text"),
            outerRounds = 2, beam = 2)
          .orderBy(col("merge_round"))
      },
      Some(
        s"""WITH RECURSIVE d0 AS (SELECT doc_id, string_split(text, ' ') AS syms FROM documents),
           |${bpeBatchedRound(1, "d0", 2)},
           |${bpeBatchedRound(2, "rb1_2", 2)}
           |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, k) AS BIGINT) AS merge_round,
           |  l AS lhs, r AS rhs, c AS pair_count
           |FROM (SELECT 1 AS rnd, k, l, r, c FROM ab1
           |      UNION ALL SELECT 2 AS rnd, k, l, r, c FROM ab2)
           |ORDER BY merge_round""".stripMargin)),

    // q265 — BIGRAM-LM FAMILIARITY SCORE (the perplexity-filter analog of
    // real pretraining pipelines — fit a cheap LM on the corpus, score
    // every document, and the low-familiarity tail is the noise/outlier
    // cut): per-document mean of p(b|a) over its token bigrams, where
    // p(b|a) = c(a,b)/c(a·) from the corpus's own bigram counts — kept in
    // EXACT integer micro space (ppm + integer div) because ln/exp would
    // fork the engines at the last ulp; the micro-mean is order-isomorphic
    // to the standard per-token log-score for ranking/thresholding
    // purposes, which is all the filter consumes. Scale: the model is two
    // vocabulary-sized aggregates (map-side partials); scoring joins each
    // bigram OCCURRENCE to its two model rows by key, with the model
    // tables EXPLICITLY broadcast — vocabulary is Heaps'-law bounded, and
    // leaving the choice to the auto-threshold is a measured cliff: at
    // sf100 the pair table (554k rows ≈ 22 MB) crossed the 10 MB default,
    // AQE flipped both joins to SMJ, and the engine sorted 265M occurrence
    // rows by string key twice — 4,410 task-s where the broadcast plan
    // needs none of it (BASELINE.md round-10 part 3).
    Declared("q265_bigram_familiarity",
      (s, dir) => {
        val pairs = Tables.load(s, dir, "documents")
          .where(size(tokens(col("text"))) >= 2)
          .select(col("doc_id"), explode(shingles(col("text"), 2)).as("pair"))
        val cPair = pairs.groupBy(col("pair")).agg(count(lit(1)).as("c_pair"))
        val cLeft = cPair
          .groupBy(substring_index(col("pair"), " ", 1).as("l"))
          .agg(sum(col("c_pair")).as("c_left"))
        pairs.join(broadcast(cPair), "pair")
          .withColumn("l", substring_index(col("pair"), " ", 1))
          .join(broadcast(cLeft), "l")
          .withColumn("p_micro", ppm(col("c_pair"), col("c_left")))
          .groupBy(col("doc_id"))
          .agg(big(count(lit(1))).as("n_bigrams"),
            big(idiv(sum(col("p_micro")), count(lit(1)))).as("score_micro"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |p AS (SELECT doc_id, tk[t.i] || ' ' || tk[t.i+1] AS pair, tk[t.i] AS l
             |  FROM d, UNNEST(range(1, len(tk))) AS t(i) WHERE len(tk) >= 2),
             |cp AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_pair FROM p GROUP BY pair),
             |cl AS (SELECT l, CAST(SUM(c_pair) AS BIGINT) AS c_left
             |  FROM (SELECT split_part(pair, ' ', 1) AS l, c_pair FROM cp) GROUP BY l),
             |sc AS (SELECT p.doc_id, (1000000 * cp.c_pair) // cl.c_left AS p_micro
             |  FROM p JOIN cp USING (pair) JOIN cl ON cl.l = p.l)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS score_micro
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q96 — INVERTED-INDEX (posting-list) CONSTRUCTION: term → document
    // frequency + the head of the sorted posting list, for index-worthy
    // terms (df ≥ 2, and df ≤ 78% of the corpus — terms above that are
    // boilerplate/stopwords a lexical index skips) — the retrieval-index
    // build step of a search/RAG pipeline over the corpus. Order of
    // operations is the scale-critical part: df is aggregated FIRST
    // ((term, count) rows — no text, no lists), the band filter kills
    // stopword terms, and only then does the equi-join + collect_list build
    // postings — so a hot term's posting list (unbounded at 100 TB) is
    // never materialized anywhere. Both shuffles key on `term` (exchange
    // reuse); the posting head is capped at 20 doc ids (a full-scale index
    // would shard the tail by (term, doc_id range) instead of capping).
    Declared("q96_inverted_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = docs
          .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
        val dfCounts = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val totals = docs.agg(count(lit(1)).as("n_docs"))
        val band = dfCounts.crossJoin(broadcast(totals))
          .filter(col("df") >= 2 &&
            col("df") <= idiv(col("n_docs") * lit(78L), lit(100L)))
          .select(col("term"), col("df"))
        pairs.join(band, Seq("term"))
          .groupBy(col("term"), col("df"))
          .agg(concat_ws(",",
            transform(slice(sort_array(collect_list(col("doc_id"))), 1, 20),
              x => x.cast("string"))).as("posting_head"))
          .select(col("term"), big(col("df")).as("df"), col("posting_head"))
          .orderBy(col("term"))
      },
      Some("""WITH p AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
             |  FROM documents),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
             |b AS (SELECT term, df FROM d, n WHERE df >= 2 AND df <= (n_docs * 78) // 100)
             |SELECT b.term, CAST(b.df AS BIGINT) AS df,
             |  array_to_string(list_transform(list_sort(list(p.doc_id))[1:20], x -> CAST(x AS VARCHAR)), ',') AS posting_head
             |FROM p JOIN b USING (term)
             |GROUP BY b.term, b.df ORDER BY b.term""".stripMargin)),

    // q107 — context-window chunking with overlap: every document exploded
    // into token windows of width W=50 at stride S=40 (10-token overlap),
    // the standard prep for fixed-context training/embedding. Chunks whose
    // tokens are fully covered by the previous window (trailing slivers
    // shorter than W−S) are dropped — they add no new content. Narrow
    // per-row generate (explode of an in-row sequence): at 100 TB this is a
    // single scan with no shuffle except the gate's final ORDER BY; chunk
    // identity travels as md5 so downstream chunk-level dedup is an
    // equi-join, never a text comparison.
    Declared("q107_chunk_overlap",
      (s, dir) => {
        val W = 50
        val S = 40
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(0), size(col("t")) - 1, lit(S))).as("start"))
          .withColumn("chunk", slice(col("t"), col("start") + 1, lit(W)))
          .filter(col("start") === 0 || size(col("chunk")) > W - S)
          .select(col("doc_id"),
            big(idiv(col("start"), lit(S))).as("chunk_idx"),
            big(size(col("chunk"))).as("n_tok"),
            md5(array_join(col("chunk"), " ")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |starts AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 40)) AS start FROM toks),
             |chunks AS (SELECT doc_id, start, list_slice(t, start + 1, start + 50) AS chunk FROM starts)
             |SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_idx,
             |  CAST(len(chunk) AS BIGINT) AS n_tok,
             |  md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM chunks WHERE start = 0 OR len(chunk) > 10
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // q139 — TOKEN-RARITY scoring (unigram-LM surprisal proxy): per-doc
    // mean corpus rarity, rarity(w) = 10⁹ div c_w. The cheap "is this doc
    // full of rare junk or common prose" curation signal — the integer
    // stand-in for mean unigram log-prob (ln is monotone in 1/c_w, and the
    // MEAN of per-token scores ranks near-identically for filtering).
    //
    // ONE corpus scan total: (doc,term) counts once; corpus frequency c_w
    // is an unordered window over the counts (q72's df idiom — never a
    // join-back, which would duplicate the scan subplan); doc length is
    // Σc per doc on the same rows. Floor-div per token class, then the
    // per-doc mean as one final integer division — order-insensitive.
    Declared("q139_rarity_score",
      (s, dir) => {
        val tc = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        tc.withColumn("cw", sum(col("c")).over(Window.partitionBy(col("t"))))
          .groupBy(col("doc_id"))
          .agg(sum(col("c") * idiv(lit(1000000000L), col("cw"))).as("contrib"),
            sum(col("c")).as("dl"))
          .select(col("doc_id"), idiv(col("contrib"), col("dl")).as("rarity_micro"))
          .orderBy(col("rarity_micro").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), big(col("rarity_micro")).as("rarity_micro"))
      },
      Some("""WITH tc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)
             |  GROUP BY 1,2),
             |uni AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cw FROM tc GROUP BY t),
             |sc AS (SELECT tc.doc_id, tc.c * (1000000000 // uni.cw) AS contrib, tc.c
             |       FROM tc JOIN uni USING (t))
             |SELECT doc_id, CAST(SUM(contrib) // SUM(c) AS BIGINT) AS rarity_micro
             |FROM sc GROUP BY doc_id ORDER BY rarity_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // q162 — HEAVY HITTERS via MISRA-GRIES candidates + exact verification:
    // tokens with true frequency > n/50, computed WITHOUT shuffling the full
    // distinct-token set. Stage 1: the mergeable MG sketch (Udafs.MisraGries,
    // k=50) reduces map-side to a ≤49-entry candidate buffer per partition —
    // guaranteed to contain every >n/50 token at ANY merge order. Stage 2:
    // a broadcast semi-filter on the candidates, then exact counts of ONLY
    // those tokens (≤49 keys × partitions cross the exchange), kept when
    // 50·cnt > n (integer cross-multiply, no division). The MG candidate
    // set is merge-order-dependent; the verified OUTPUT is deterministic —
    // which is why the oracle (plain GROUP BY … HAVING) can hash-match it.
    //
    // Shape at 100 TB: a vocabulary-scale groupBy shuffles |V| keys; this
    // shuffles ≤(k-1)·P partial counts. THE pattern for "top tokens of a
    // web-scale corpus" where |V| is hundreds of millions.
    Declared("q162_heavy_hitters",
      (s, dir) => {
        val mg = udaf(new graft.functions.Udafs.MisraGries(50))
        val tk = Tables.load(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("t"))
        // ONE first pass computes the sketch AND the token total (fused
        // aggregates — not two scans); the second pass counts candidates.
        val pass1 = tk.agg(mg(col("t")).as("buf"), count(lit(1)).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cand = pass1.select(explode(col("buf.keys")).as("t"))
        val total = pass1.select(col("n"))
        tk.join(broadcast(cand), Seq("t"), "left_semi")
          .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .where(lit(50L) * col("cnt") > col("n"))
          .select(col("t"), big(col("cnt")).as("cnt"), big(col("n")).as("n_tokens"))
          .orderBy(col("t"))
      },
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |n AS (SELECT COUNT(*) AS n FROM tk)
             |SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(MIN(n.n) AS BIGINT) AS n_tokens
             |FROM tk, n GROUP BY t HAVING 50 * COUNT(*) > MIN(n.n)
             |ORDER BY t""".stripMargin)),

    // q174 — LEXICAL DIVERSITY via GINI IMPURITY: 1 − Σ(cᵢ/n)² per document
    // = (n² − Σcᵢ²)·10⁶ div n² in ppm — the RATIONAL diversity metric
    // (entropy needs logs; impurity ranks repetitive text the same way with
    // zero floats — the q62 repetition family's principled cousin). Low
    // impurity ⇒ dominated by few tokens ⇒ boilerplate/spam signal for the
    // curation gate. Output: 10 most + 10 least diverse docs, labeled.
    //
    // Shape at 100 TB: one explode → (doc, token) partial agg → doc-keyed
    // moments; both extremes come from TakeOrderedAndProject, no global
    // sort.
    Declared("q174_token_diversity",
      (s, dir) => {
        val tc = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        val m = tc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ssq"))
          .withColumn("imp_ppm",
            idiv((col("n") * col("n") - col("ssq")) * lit(1000000L),
              col("n") * col("n")))
        val hi = m.orderBy(col("imp_ppm").desc, col("doc_id")).limit(10)
          .withColumn("side", lit("most_diverse"))
        val lo = m.orderBy(col("imp_ppm").asc, col("doc_id")).limit(10)
          .withColumn("side", lit("least_diverse"))
        hi.unionByName(lo)
          .select(col("side"), col("doc_id"), big(col("n")).as("n_tokens"),
            col("imp_ppm"))
          .orderBy(col("side"), col("imp_ppm").desc, col("doc_id"))
      },
      Some("""WITH tc AS (SELECT doc_id, t, COUNT(*) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
             |  GROUP BY doc_id, t),
             |m AS (SELECT doc_id, SUM(c) AS n, SUM(c*c) AS ssq FROM tc GROUP BY doc_id),
             |i AS (SELECT doc_id, n, (n*n - ssq) * 1000000 // (n*n) AS imp_ppm FROM m),
             |hi AS (SELECT 'most_diverse' AS side, doc_id, CAST(n AS BIGINT) AS n_tokens, imp_ppm
             |       FROM i ORDER BY imp_ppm DESC, doc_id LIMIT 10),
             |lo AS (SELECT 'least_diverse' AS side, doc_id, CAST(n AS BIGINT) AS n_tokens, imp_ppm
             |       FROM i ORDER BY imp_ppm ASC, doc_id LIMIT 10)
             |SELECT * FROM hi UNION ALL SELECT * FROM lo
             |ORDER BY side, imp_ppm DESC, doc_id""".stripMargin)),

    // q230 — VOCABULARY GROWTH CURVE (Heaps'-law audit): per 50-doc bucket
    // of corpus order, how many NEVER-BEFORE-SEEN token types appear, and
    // the running type/token totals. The tokenizer-sizing diagnostic a
    // pipeline reads before fixing a vocab budget: a healthy natural corpus
    // grows types sublinearly in tokens; a flattening curve means the
    // corpus has gone repetitive.
    //
    // Shape at 100 TB: "first seen in bucket b" is MIN(doc_id) per type —
    // one explode + map-side-partial hash agg, never a cumulative distinct
    // (which would need state proportional to the vocabulary per window
    // step). The curve table is bucket-sized; its running totals go through
    // GlobalCumSum (range-partition + per-partition prefix pass), keeping
    // the engine-wide no-partitionless-window invariant.
    Declared("q230_vocab_growth",
      (s, dir) => {
        import graft.operators.GlobalCumSum
        val tk = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        val firstSeen = tk.groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
        val newTypes = firstSeen.groupBy(idiv(col("fd"), lit(50L)).as("bucket"))
          .agg(count(lit(1)).as("new_types"))
        val tokMass = tk.groupBy(idiv(col("doc_id"), lit(50L)).as("bucket"))
          .agg(count(lit(1)).as("bucket_tokens"))
        // every doc has tokens, so the token-mass table is the full bucket
        // spine; buckets introducing no new types coalesce to 0
        val curve = tokMass.join(newTypes, Seq("bucket"), "left")
          .na.fill(0L, Seq("new_types"))
        val c1 = GlobalCumSum.withCumSum(curve, Seq(col("bucket")),
          col("new_types"), "cum_types")
        GlobalCumSum.withCumSum(c1, Seq(col("bucket")),
          col("bucket_tokens"), "cum_tokens")
          .select(col("bucket"), big(col("bucket_tokens")).as("bucket_tokens"),
            big(col("new_types")).as("new_types"), big(col("cum_types")).as("cum_types"),
            big(col("cum_tokens")).as("cum_tokens"))
          .orderBy(col("bucket"))
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
             |fs AS (SELECT t, MIN(doc_id) AS fd FROM tk GROUP BY t),
             |nb AS (SELECT fd // 50 AS bucket, COUNT(*) AS new_types FROM fs GROUP BY 1),
             |tb AS (SELECT doc_id // 50 AS bucket, COUNT(*) AS bucket_tokens FROM tk GROUP BY 1),
             |c AS (SELECT tb.bucket, tb.bucket_tokens, COALESCE(nb.new_types, 0) AS new_types
             |      FROM tb LEFT JOIN nb USING (bucket))
             |SELECT bucket, CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
             |  CAST(new_types AS BIGINT) AS new_types,
             |  CAST(SUM(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
             |  CAST(SUM(bucket_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |FROM c ORDER BY bucket""".stripMargin))
  )
}
