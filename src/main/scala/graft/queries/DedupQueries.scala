package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosine
import graft.model.Tables
import graft.obs.Sessions
import Protocol._

/** Near-duplicate detection suite (SURVEY §2.2 [EXT]): MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine — the dedup family a training-data
  * pipeline runs before anything else.
  *
  * Scale design: every variant is blocked (LSH bands / metadata buckets /
  * labels) so candidate generation is an equi-join, never an O(n²) cross
  * join. The only all-pairs work is *within* a block, and block sizes are
  * bounded by construction. All hashes are md5-derived so the DuckDB oracle
  * reproduces them bit-for-bit.
  */
object DedupQueries extends QueryModule {

  private[graft] val K = 16      // minhash signature length
  private[graft] val BANDS = 4   // LSH bands
  private[graft] val ROWS = 4    // rows per band (K = BANDS * ROWS)

  /** Shared DuckDB CTEs: shingles, minhash signatures, LSH band keys and
    * candidate pairs — defined ONCE so q32 and q47 can never drift apart on
    * what "LSH candidate" means.
    *
    * Lane construction mirrors TextFunctions.minhashLaneHashes exactly: ONE
    * md5 per shingle, split into two 60-bit halves, lane j =
    * (a_j·x1 + b_j·x2 + j) mod (2^31−1) with a_j = (j·2654435761) mod P,
    * b_j = (j·2246822519) mod P. All intermediates < 2^63 (DuckDB errors on
    * BIGINT overflow, so this is load-bearing, not cosmetic).
    */
  private[queries] val duckSig =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(tk) >= 3
      |    THEN list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))
      |    ELSE [text] END AS sh FROM d),
      |sig AS (SELECT doc_id,
      |  list_transform(range(1, 17),
      |    j -> list_aggregate(list_transform(sh, x ->
      |      (((j * 2654435761) % 2147483647) * (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 2147483647)
      |       + ((j * 2246822519) % 2147483647) * (CAST(('0x' || substr(md5(x), 17, 15)) AS BIGINT) % 2147483647)
      |       + j) % 2147483647), 'min')) AS sig
      |  FROM sh),
      |bands AS (SELECT doc_id, sig, b,
      |  md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS band
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** The MinHash-LSH near-duplicate pair stage, shared by q32 (which emits
    * the pairs), q47 (which drops the higher id of each pair), q57 (which
    * verifies the pairs) and q60 (which clusters them) so the four can never
    * diverge and the expensive signature stage is COMPUTED ONCE per
    * (session, dir) — SharedStages materializes shingles → signatures →
    * pairs to parquet and every consumer reads the written stage. Returns
    * (id_a, id_b, est_jaccard ≥ 0.5), unordered. Shape rationale lives on
    * SharedStages.minhashSigs / lshPairs.
    */
  def lshNearPairs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    SharedStages.lshPairs(s, dir)

  /** The DuckDB twin of lshNearPairs' OUTPUT (pairs surviving est ≥ 0.5),
    * shared verbatim by the q32 oracle and the q57 verification oracle.
    */
  private[queries] val duckPairsSelect =
    """SELECT id_a, id_b, est_jaccard FROM (
      |  SELECT c.id_a, c.id_b,
      |    CAST(ROUND(CAST(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DECIMAL(18,6)) / 16, 6) AS DECIMAL(18,6)) AS est_jaccard
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b)
      |WHERE est_jaccard >= 0.5""".stripMargin

  /** The q215 cascade body (see the Declared below for the tier docs).
    *
    * Tier-removal frames are MATERIALIZED EAGERLY with their lineage
    * TRUNCATED: every later tier's lineage contains every earlier tier
    * (survivors = anti-join against the removals), and the closing union
    * aggregates each tier — so without pinning, the containment join
    * re-executes ~3× and the LSH semi-join ~2× inside the ONE action (the
    * sf1 rehearsal measured 77× task-time at 10× data from exactly this).
    * Round 13 found the second half of the trap: persist() pins EXECUTION
    * but not PLANNING — the logical plan of tier n still embeds every
    * earlier tier's full tree, so each added tier DOUBLES the tree
    * Catalyst re-optimizes per reference (9.2 MB of explain text by tier
    * 5, measured 116 s of zero-task driver gaps out of 137 s wall at
    * sf0.1). Truncation is the spark_optimization_guide §3.3/§7.3 remedy;
    * the pinned frames are doc_id lists — bytes per surviving doc, safe at
    * any corpus size.
    *
    * Each tier pins through [[graft.operators.Materialize.pin]], so
    * `spark.graft.materialize=durable` makes a lost executor cost one
    * tier's rebuild, not the cascade.
    */
  private[graft] def dedupCascade(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    def pin(df: org.apache.spark.sql.DataFrame, tier: String) =
      graft.operators.Materialize.pin(df, s"q215_$tier").df
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exactD = pin(docs.withColumn("rn", row_number().over(wEx))
      .filter(col("rn") > 1).select(col("doc_id")), "exact")
    val s1 = docs.join(exactD, Seq("doc_id"), "left_anti")
    val bowToks = array_sort(array_distinct(filter(
      split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))))
    val wBow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val bowD = pin(s1.withColumn("fp", md5(array_join(bowToks, " ")))
      .withColumn("rn", row_number().over(wBow))
      .filter(col("rn") > 1).select(col("doc_id")), "bow")
    val s2 = s1.join(bowD, Seq("doc_id"), "left_anti")
    val recs2 = s2.select(col("doc_id"),
      graft.functions.TextFunctions.shingles3(col("text")).as("tk"))
    val containD = pin(graft.operators.SetSimJoin
      .containmentJoin(recs2, "doc_id", "tk", 9, 10)
      .where(col("sb") > col("sa") ||
        (col("sb") === col("sa") && col("id_b") < col("id_a")))
      .select(col("id_a").as("doc_id")).distinct(), "contain")
    val s3 = s2.join(containD, Seq("doc_id"), "left_anti")
    val s3ids = pin(s3.select(col("doc_id")), "s3")
    val nearD = pin(lshNearPairs(s, dir)
      .join(s3ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(s3ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      .select(col("id_b").as("doc_id")).distinct(), "near")
    val s4 = s3.join(nearD, Seq("doc_id"), "left_anti")
    // tier 5 (round 13): SEMANTIC dedup over the lexical survivors —
    // SemDeDup's embed → argmax-cluster → domination pass (q287's
    // machinery verbatim) catches the near-dups whose token overlap is
    // too low for tiers a-d to fire.
    val semAssigned = pin(graft.operators.SemDeDup
      .assignArgmax(graft.operators.SemDeDup.embedBow(s4,
        graft.operators.SemDeDup.clusterCount(s4, 16)))
      .join(s4.select(col("doc_id"), col("n_chars")), Seq("doc_id")), "sem_assigned")
    val semD = pin(graft.operators.SemDeDup
      .markDropped(semAssigned, 990000L, "n_chars")
      .filter(col("dropped")).select(col("doc_id")), "sem")
    val kept = s4.join(semD, Seq("doc_id"), "left_anti")
    def tier(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(big(count(lit(1))).as("n")).select(lit(name).as("tier"), col("n"))
    tier("a_exact", exactD)
      .unionByName(tier("b_bow", bowD))
      .unionByName(tier("c_contain", containD))
      .unionByName(tier("d_near", nearD))
      .unionByName(tier("e_sem", semD))
      .unionByName(tier("f_kept", kept))
      .orderBy(col("tier"))
  }

  override val declared: Seq[Declared] = Seq(

    // q32 — MinHash + LSH near-dup candidate pairs with estimated Jaccard.
    // The whole pipeline lives in lshNearPairs (shared with q47/q57).
    Declared("q32_minhash_pairs",
      (s, dir) => lshNearPairs(s, dir).orderBy(col("id_a"), col("id_b")),
      Some(duckSig + "\n" + duckPairsSelect + "\nORDER BY id_a, id_b")),

    // q33 — 32-bit SimHash fingerprint per document (distinct-token lanes).
    // Shaped as explode → hash-aggregate with 32 codegen'd bit-count sums
    // (majority lane b set iff 2·ones ≥ n) rather than the nested-HOF
    // one-liner (TextFunctions.simhash32, kept for row-local use): HOF
    // lambdas evaluate interpreted, measured ~10× slower; the explode/agg
    // shape is also the one that scales — partial aggregation pushes the
    // 32 counters map-side, shuffling 33 longs per document.
    Declared("q33_simhash",
      (s, dir) => {
        val lanes = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
          .withColumn("h", conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
        val counts = (0 until 32).map(b =>
          sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"c$b"))
        val fp = (0 until 32).map(b =>
          when(col(s"c$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
        lanes.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"), counts: _*)
          .select(col("doc_id"), fp.as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(list_sum(list_transform(range(0, 32),
             |    b -> CASE WHEN list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)) >= 0
             |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
             |FROM (SELECT doc_id,
             |  list_transform(list_distinct(string_split(text, ' ')),
             |    t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // q34 — exact n-gram Jaccard inside (lang, source) blocks: the
    // blocked-verification step that confirms LSH candidates.
    Declared("q34_ngram_jaccard",
      (s, dir) => {
        // Scalable shape: join on the shingle itself (inverted-index style)
        // and count matches per pair, instead of materializing doc-pair rows
        // carrying whole shingle arrays and intersecting per pair. Only
        // pairs that SHARE a shingle ever exist; |A∪B| = |A|+|B|−common.
        // `flat` is the materialized shared shingle stage (parquet-backed,
        // no executor cache to leak); `sizes` joins UNHINTED — it is one row
        // per document, i.e. corpus-sized, and a forced broadcast of it
        // would OOM every executor at 100 TB. AQE still broadcasts it at
        // runtime when it measures small; at scale it shuffle-joins on the
        // pair side's id key, which is cheap (`common` is already hashed).
        //
        // Scale note (sf1 rehearsal): pair generation is Σ df(sh)² — the
        // popular-shingle term grows quadratically with corpus size (47×
        // task at 10× data here). The prefix-filter alternative
        // (SetSimJoin.selfJoin on block-tagged shingles) was MEASURED WORSE
        // at both SFs: at this θ = 0.5 the pigeonhole prefix is ~51% of
        // every document (prefix filtering only bites at high θ), and the
        // per-candidate array verification ships whole shingle arrays the
        // count-join never materializes. Exact all-pairs Jaccard at
        // moderate θ is inherently df²; the CASCADE's scale paths for
        // near-dup remain LSH (q32, linear banding) and the high-θ prefix
        // join (q158) — q34 is the family's exact-verification member.
        val flat = SharedStages.docShingles(s, dir)
        val sizes = flat.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val a = flat.select(col("lang"), col("source"), col("sh"), col("doc_id").as("id_a"))
        val b = flat.select(col("lang"), col("source"), col("sh"), col("doc_id").as("id_b"))
        val common = a.join(b, Seq("lang", "source", "sh"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
          .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
          .withColumn("jaccard",
            out6(dec(col("common")) / (col("sz_a") + col("sz_b") - col("common"))))
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id, lang, source,
             |  CASE WHEN len(tk) >= 3
             |    THEN list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))
             |    ELSE [text] END AS sh FROM d)
             |SELECT id_a, id_b, jaccard FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DECIMAL(18,6))
             |      / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS DECIMAL(18,6)) AS jaccard
             |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
             |WHERE jaccard >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // q47 — the dedup pipeline's actual OUTPUT: the kept corpus after
    // dropping exact duplicates (md5) and MinHash-LSH near-duplicates
    // (est jaccard ≥ 0.5), keep-first-occurrence (min doc_id survives its
    // duplicate pair). Composes q25 + q32; counts per drop reason.
    Declared("q47_dedup_corpus",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // exact: any doc whose md5 appeared on a lower doc_id
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        val exactDropped = docs
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") > 1)
          .select(col("doc_id"))
        // near: the higher id of every LSH candidate pair at est >= 0.5
        // (same lshNearPairs stage q32 runs — shared code, shared persist)
        val nearDropped = lshNearPairs(s, dir)
          .select(col("id_b").as("doc_id")).distinct()
        val dropped = exactDropped.withColumn("reason", lit("exact"))
          .unionByName(
            nearDropped.join(exactDropped, Seq("doc_id"), "left_anti")
              .withColumn("reason", lit("near")))
        val kept = docs.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
        kept.agg(count(lit(1)).as("n")).select(lit("kept").as("bucket"), col("n"))
          .unionByName(dropped.groupBy(col("reason").as("bucket")).agg(count(lit(1)).as("n")))
          .orderBy(col("bucket"))
      },
      Some(duckSig +
        """,
          |near_pairs AS (
          |  SELECT c.id_a, c.id_b FROM cand c
          |  JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
          |  WHERE CAST(ROUND(CAST(list_sum(list_transform(range(1, 17),
          |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DECIMAL(18,6)) / 16, 6) AS DECIMAL(18,6)) >= 0.5),
          |exact_dropped AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM documents) WHERE rn > 1),
          |near_dropped AS (
          |  SELECT DISTINCT id_b AS doc_id FROM near_pairs
          |  WHERE id_b NOT IN (SELECT doc_id FROM exact_dropped)),
          |dropped AS (
          |  SELECT doc_id, 'exact' AS reason FROM exact_dropped
          |  UNION ALL SELECT doc_id, 'near' AS reason FROM near_dropped)
          |SELECT 'kept' AS bucket, COUNT(*) AS n FROM documents
          |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          |UNION ALL SELECT reason AS bucket, COUNT(*) AS n FROM dropped GROUP BY reason
          |ORDER BY bucket""".stripMargin)),

    // q35 — embedding-cosine near-dup pairs, blocked by label.
    Declared("q35_embedding_neardup",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"), col("label"))
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("e").as("e_a"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("e").as("e_b"))
        a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", cosine(col("e_a"), col("e_b")))
          .filter(col("cos") > 0.45)
          .select(col("label"), col("id_a"), col("id_b"), out6(col("cos")).as("cos"))
          .orderBy(col("label"), col("id_a"), col("id_b"))
      },
      Some("""SELECT label, id_a, id_b, CAST(ROUND(cos, 6) AS DECIMAL(18,6)) AS cos FROM (
             |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
             |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
             |WHERE cos > 0.45
             |ORDER BY label, id_a, id_b""".stripMargin)),

    // q57 — fuzzy VERIFICATION of the LSH candidates: exact edit distance on
    // 200-char prefixes of each surviving pair. The real pipeline
    // composition — cheap sketch (MinHash bands) proposes, expensive exact
    // metric (levenshtein, O(n·m) per pair) verifies — and the expensive
    // step runs ONLY on candidate pairs, never all-pairs, so its cost is
    // bounded by the sketch's selectivity at any scale.
    Declared("q57_edit_verify",
      (s, dir) => {
        val prefix = Tables.load(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 200).as("p"))
        lshNearPairs(s, dir).select(col("id_a"), col("id_b"))
          .join(prefix.select(col("doc_id").as("id_a"), col("p").as("pa")), "id_a")
          .join(prefix.select(col("doc_id").as("id_b"), col("p").as("pb")), "id_b")
          .withColumn("edit_dist", big(levenshtein(col("pa"), col("pb"))))
          .withColumn("edit_sim",
            out6(lit(1) - dec(col("edit_dist")) / greatest(length(col("pa")), length(col("pb")))))
          .select(col("id_a"), col("id_b"), col("edit_dist"), col("edit_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckSig +
        s""",
          |pairs AS ($duckPairsSelect),
          |p AS (SELECT doc_id, substr(text, 1, 200) AS p FROM documents)
          |SELECT id_a, id_b, edit_dist,
          |  CAST(ROUND(1 - CAST(edit_dist AS DECIMAL(18,6)) / GREATEST(len_a, len_b), 6) AS DECIMAL(18,6)) AS edit_sim
          |FROM (
          |  SELECT pr.id_a, pr.id_b,
          |    CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_dist,
          |    length(pa.p) AS len_a, length(pb.p) AS len_b
          |  FROM pairs pr JOIN p pa ON pa.doc_id = pr.id_a JOIN p pb ON pb.doc_id = pr.id_b)
          |ORDER BY id_a, id_b""".stripMargin)),

    // q118 — Jaro-Winkler verification of the same LSH candidates: the
    // prefix-weighted O(len·window) fuzzy metric (vs q57's O(len²)
    // levenshtein) on 200-char prefixes. The codegen'd JaroWinklerSimilarity
    // expression is semantics-pinned to DuckDB's jaro_winkler_similarity
    // (0.7 boost threshold, empty → 0), so the oracle checks the custom
    // expression itself bit-for-bit. Like q57, the expensive step runs ONLY
    // on sketch-proposed pairs — never all-pairs.
    Declared("q118_jaro_winkler_verify",
      (s, dir) => {
        val prefix = Tables.load(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 200).as("p"))
        lshNearPairs(s, dir).select(col("id_a"), col("id_b"))
          .join(prefix.select(col("doc_id").as("id_a"), col("p").as("pa")), "id_a")
          .join(prefix.select(col("doc_id").as("id_b"), col("p").as("pb")), "id_b")
          .withColumn("jw_sim", out6(jaroWinkler(col("pa"), col("pb"))))
          .select(col("id_a"), col("id_b"), col("jw_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckSig +
        s""",
          |pairs AS ($duckPairsSelect),
          |p AS (SELECT doc_id, substr(text, 1, 200) AS p FROM documents)
          |SELECT pr.id_a, pr.id_b,
          |  CAST(ROUND(jaro_winkler_similarity(pa.p, pb.p), 6) AS DECIMAL(18,6)) AS jw_sim
          |FROM pairs pr JOIN p pa ON pa.doc_id = pr.id_a JOIN p pb ON pb.doc_id = pr.id_b
          |ORDER BY id_a, id_b""".stripMargin)),

    // q158 — PREFIX-FILTERED EXACT SET-SIMILARITY JOIN (SSJoin/PPJoin
    // family): the deterministic alternative to LSH for token-set Jaccard —
    // zero false negatives by the pigeonhole prefix bound, so the output IS
    // the complete Jaccard ≥ 19/20 pair set. The oracle is brute force
    // (list_intersect over all id1<id2 pairs — 125 k pairs at sf0.01), which
    // makes the gate a PROOF that prefix filtering dropped nothing; the
    // Spark side only ever equi-joins on prefix tokens. See
    // operators.SetSimJoin for the 100 TB shape.
    Declared("q158_setsim_join",
      (s, dir) => {
        val recs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        graft.operators.SetSimJoin.selfJoin(recs, "doc_id", "tk", 19, 20)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents),
             |p AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2,
             |    len(list_intersect(a.tk, b.tk)) AS inter, len(a.tk) AS s1, len(b.tk) AS s2
             |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
             |SELECT id1, id2, CAST(inter AS BIGINT) AS inter,
             |  CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
             |  CAST(inter AS BIGINT) * 1000000 // (s1 + s2 - inter) AS jac_ppm
             |FROM p WHERE 20 * inter >= 19 * (s1 + s2 - inter)
             |ORDER BY id1, id2""".stripMargin)),

    // q213 — BAG-OF-WORDS FINGERPRINT DEDUP: md5 of the SORTED DISTINCT
    // token set. Catches word-order shuffles and repetition paddings that
    // exact-text dedup (q25) misses, at exact-dedup cost — one md5 per
    // doc + one hash aggregate, no signatures, no banding, no pairs. The
    // fixture corpus has zero exact-text duplicates but 21 shuffled
    // clusters at sf0.01 — precisely the gap this fingerprint closes.
    // Token rule is symmetric on both engines: lowercase, split on
    // non-alphanumeric runs, drop empties.
    //
    // Shape at 100 TB: fingerprint is row-local codegen; ONE exchange on
    // the 16-byte fingerprint (not the document text); the cluster
    // report is count-filtered, so the shuffle output is cluster-sized.
    Declared("q213_bow_fingerprint",
      (s, dir) => {
        val toks = array_sort(array_distinct(filter(
          split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(array_join(toks, " ")).as("fp"))
          .groupBy(col("fp"))
          .agg(big(count(lit(1))).as("n_docs"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .where(col("n_docs") >= 2)
          .orderBy(col("fp"))
      },
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    md5(list_aggregate(list_sort(list_distinct(
             |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                  t -> t <> ''))), 'string_agg', ' ')) AS fp
             |  FROM documents)
             |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
             |  MAX(doc_id) AS max_doc
             |FROM fp GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY fp""".stripMargin)),

    // q214 — EXACT CONTAINMENT JOIN (directed, θ = 9/10): every doc whose
    // token set is ≥90% contained in ANOTHER doc's — the quote/subset
    // duplicates that Jaccard stages (q32/q158) are structurally blind to
    // (a short doc inside a long one has low Jaccard but full
    // containment). Zero false negatives by the asymmetric pigeonhole
    // prefix bound (operators.SetSimJoin.containmentJoin); the oracle is
    // the all-pairs brute force, so the gate PROVES the prefix probe
    // dropped nothing.
    //
    // Shape at 100 TB: probe side explodes only the s−⌈θs⌉+1 prefix;
    // build side is the ordinary postings list; candidates come from an
    // EQUI token join; arrays ride the exchange once per candidate.
    Declared("q214_containment_join",
      (s, dir) => {
        import graft.functions.TextFunctions.shingles3
        val recs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), shingles3(col("text")).as("tk"))
        graft.operators.SetSimJoin.containmentJoin(recs, "doc_id", "tk", 9, 10)
          .orderBy(col("id_a"), col("id_b"))
      },
      // shingle sets, not unigram tokens: the synthetic corpus draws words
      // from a small vocabulary, so unigram SETS are ~36% pairwise
      // contained (89k pairs at sf0.001 — meaningless); 3-gram shingles
      // are discriminative (55 real pairs). The oracle counts exact
      // intersections through the inverted list (equi join on the
      // shingle), which is still assumption-free: a pair with zero shared
      // shingles cannot pass any θ > 0.
      Some("""WITH d AS (
             |  SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id,
             |  CASE WHEN len(tk) >= 3
             |    THEN list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))
             |    ELSE [text] END AS sh FROM d),
             |sz AS (SELECT doc_id, len(sh) AS s FROM sh),
             |ex AS (SELECT doc_id, UNNEST(sh) AS tok FROM sh),
             |iv AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id <> b.doc_id
             |  GROUP BY a.doc_id, b.doc_id)
             |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
             |  CAST(sa.s AS BIGINT) AS sa, CAST(sb.s AS BIGINT) AS sb,
             |  CAST(inter AS BIGINT) * 1000000 // sa.s AS cont_ppm
             |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
             |WHERE 10 * inter >= 9 * sa.s
             |ORDER BY id_a, id_b""".stripMargin)),

    // q215 — THE DEDUP CASCADE, composed end to end as one query: each
    // tier runs on the previous tier's survivors, cheapest first —
    //   a) exact text (md5 partition, min id survives)
    //   b) bag-of-words fingerprint (q213's tier: word-order shuffles)
    //   c) directed 9/10 shingle containment (q214's tier: subset/quote
    //      dups; drop the SMALLER set — the bigger doc carries the
    //      content — ties to the higher id)
    //   d) MinHash-LSH est-Jaccard ≥ 0.5 (q32/q47's tier; drop id_b),
    //      REUSING the full-corpus shared stage: band keys are per-doc,
    //      so restricting pairs to surviving endpoints equals re-banding
    //      the survivor subset — no recompute
    // Output: removal attribution per tier + the kept count (always 5
    // rows — 1-row aggregates, so a tier that removes nothing still
    // reports 0). This is the production ordering: each tier's cost is
    // amortized by the volume the cheaper tiers already removed.
    Declared("q215_dedup_cascade",
      (s, dir) => dedupCascade(s, dir),
      Some(duckSig +
        """,
          |exact_d AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM documents) WHERE rn > 1),
          |s1 AS (SELECT doc_id, text FROM documents
          |       WHERE doc_id NOT IN (SELECT doc_id FROM exact_d)),
          |bow_d AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY
          |      md5(list_aggregate(list_sort(list_distinct(
          |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |                    t -> t <> ''))), 'string_agg', ' '))
          |      ORDER BY doc_id) AS rn
          |    FROM s1) WHERE rn > 1),
          |s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM bow_d)),
          |sz AS (SELECT sh.doc_id, len(sh.sh) AS s FROM sh JOIN s2 USING (doc_id)),
          |ex2 AS (SELECT sh.doc_id, UNNEST(sh.sh) AS tok FROM sh JOIN s2 USING (doc_id)),
          |iv2 AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          |  FROM ex2 a JOIN ex2 b ON a.tok = b.tok AND a.doc_id <> b.doc_id
          |  GROUP BY a.doc_id, b.doc_id),
          |contain_d AS (
          |  SELECT DISTINCT id_a AS doc_id
          |  FROM iv2 JOIN sz sa ON iv2.id_a = sa.doc_id JOIN sz sb ON iv2.id_b = sb.doc_id
          |  WHERE 10 * inter >= 9 * sa.s
          |    AND (sb.s > sa.s OR (sb.s = sa.s AND id_b < id_a))),
          |s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contain_d)),
          |near_d AS (
          |  SELECT DISTINCT c.id_b AS doc_id FROM cand c
          |  JOIN sig sa2 ON sa2.doc_id = c.id_a JOIN sig sb2 ON sb2.doc_id = c.id_b
          |  WHERE c.id_a IN (SELECT doc_id FROM s3) AND c.id_b IN (SELECT doc_id FROM s3)
          |    AND CAST(ROUND(CAST(list_sum(list_transform(range(1, 17),
          |      i -> CASE WHEN sa2.sig[i] = sb2.sig[i] THEN 1 ELSE 0 END)) AS DECIMAL(18,6)) / 16, 6) AS DECIMAL(18,6)) >= 0.5),
          |s4 AS (SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM near_d)),
          |sem_toks AS (SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS t
          |  FROM documents d JOIN s4 USING (doc_id)),
          |sem_contrib AS (SELECT doc_id,
          |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 16 AS dim,
          |    CASE WHEN CAST(('0x' || substr(md5(t), 9, 1)) AS BIGINT) % 2 = 0
          |      THEN 1 ELSE -1 END AS sgn
          |  FROM sem_toks),
          |sem_sums AS (SELECT doc_id, dim, SUM(sgn) AS sv FROM sem_contrib GROUP BY 1, 2),
          |sem_dense AS (SELECT d.doc_id, g.dim, COALESCE(ss.sv, 0) AS sv
          |  FROM (SELECT DISTINCT doc_id FROM sem_sums) d
          |  CROSS JOIN (SELECT unnest(range(0, 16)) AS dim) g
          |  LEFT JOIN sem_sums ss ON ss.doc_id = d.doc_id AND ss.dim = g.dim),
          |sem_emb AS (SELECT doc_id, list(CAST(sv AS DOUBLE) ORDER BY dim) AS v
          |  FROM sem_dense GROUP BY 1),
          |sem_a AS (SELECT e.doc_id, e.v, doc.n_chars,
          |    list_position(e.v, list_max(e.v)) - 1 AS cluster
          |  FROM sem_emb e JOIN documents doc USING (doc_id)
          |  WHERE list_dot_product(e.v, e.v) > 0),
          |sem_d AS (SELECT DISTINCT x.doc_id FROM sem_a x JOIN sem_a y
          |  ON x.cluster = y.cluster AND x.doc_id <> y.doc_id
          |  WHERE CAST(CAST(ROUND(list_cosine_similarity(x.v, y.v), 6) AS DECIMAL(18,6))
          |        * 1000000 AS BIGINT) >= 990000
          |    AND (y.n_chars > x.n_chars
          |         OR (y.n_chars = x.n_chars AND y.doc_id < x.doc_id)))
          |SELECT 'a_exact' AS tier, COUNT(*) AS n FROM exact_d
          |UNION ALL SELECT 'b_bow', COUNT(*) FROM bow_d
          |UNION ALL SELECT 'c_contain', COUNT(*) FROM contain_d
          |UNION ALL SELECT 'd_near', COUNT(*) FROM near_d
          |UNION ALL SELECT 'e_sem', COUNT(*) FROM sem_d
          |UNION ALL SELECT 'f_kept', COUNT(*) FROM s4
          |  WHERE doc_id NOT IN (SELECT doc_id FROM sem_d)
          |ORDER BY tier""".stripMargin)),

    // q226 — EXPLAINABLE NEAR-DUP EVIDENCE: every q32 LSH pair annotated
    // with WHY — the exact shared-shingle count and a deterministic
    // witness (the lexicographically smallest shared shingle). The audit
    // surface a curation pipeline owes its operators: "these two docs
    // were merged because they share 41 shingles, e.g. '...'". LEFT join
    // keeps any (theoretically possible) zero-overlap band collision
    // visible as n_shared = 0 rather than silently dropped.
    //
    // Shape at 100 TB: pairs and exploded shingles come from the
    // materialized shared stages (no recompute); evidence is an equi
    // join on (doc, shingle) — pair-bounded, never corpus².
    Declared("q226_neardup_evidence",
      (s, dir) => {
        val pairs = lshNearPairs(s, dir).select(col("id_a"), col("id_b"))
        val sh = SharedStages.docShingles(s, dir).select(col("doc_id"), col("sh"))
        val ev = pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(big(count(lit(1))).as("n_shared"), min(col("sh")).as("witness"))
        pairs.join(ev, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"), col("witness"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckSig +
        s""",
           |np AS ($duckPairsSelect),
           |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
           |ev AS (
           |  SELECT np.id_a, np.id_b, COUNT(*) AS n_shared, MIN(a.s) AS witness
           |  FROM np JOIN ex a ON a.doc_id = np.id_a
           |          JOIN ex b ON b.doc_id = np.id_b AND b.s = a.s
           |  GROUP BY np.id_a, np.id_b)
           |SELECT np.id_a, np.id_b, COALESCE(n_shared, 0) AS n_shared, witness
           |FROM np LEFT JOIN ev ON np.id_a = ev.id_a AND np.id_b = ev.id_b
           |ORDER BY np.id_a, np.id_b""".stripMargin)),

    // q232 — CROSS-SOURCE CONTENT-OVERLAP MATRIX: per source pair, how many
    // distinct 3-gram shingles both sources contain, with the Jaccard in
    // ppm — the corpus-mixing diagnostic read before weighting sources (two
    // sources with high shingle Jaccard are near-redundant; sampling both
    // at full weight double-counts their content).
    //
    // Shape at 100 TB: the pair generator is the POSTINGS self-join on the
    // shingle — fan-out per shingle is (sources containing it)², bounded by
    // the SOURCE ALPHABET (20 here; domains/buckets in production), never
    // by corpus size. Per-source distinct totals are a broadcastable
    // source-sized table.
    Declared("q232_source_overlap",
      (s, dir) => {
        import graft.functions.ColumnOps.idiv
        val sh = SharedStages.docShingles(s, dir)
          .select(col("source"), col("sh")).distinct()
        val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val pairs = sh.as("a")
          .join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("shared"))
        pairs
          .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
          .select(col("src_a"), col("src_b"), big(col("shared")).as("shared"),
            idiv(col("shared") * lit(1000000L), col("na") + col("nb") - col("shared"))
              .as("jaccard_ppm"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(duckSig +
        s""",
           |sp AS (SELECT DISTINCT source, g FROM (
           |         SELECT d2.source, UNNEST(sh.sh) AS g
           |         FROM sh JOIN documents d2 ON d2.doc_id = sh.doc_id)),
           |sz AS (SELECT source, COUNT(*) AS n FROM sp GROUP BY source),
           |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
           |      FROM sp a JOIN sp b ON a.g = b.g AND a.source < b.source
           |      GROUP BY 1, 2)
           |SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           |  CAST(shared * 1000000 // (za.n + zb.n - shared) AS BIGINT) AS jaccard_ppm
           |FROM p JOIN sz za ON za.source = p.src_a JOIN sz zb ON zb.source = p.src_b
           |ORDER BY src_a, src_b""".stripMargin)),

    // q233 — SKETCH-ACCURACY AUDIT (MinHash estimate vs exact Jaccard): for
    // every LSH candidate pair, the 16-lane MinHash estimate and the TRUE
    // shingle-set Jaccard, both in ppm, with the absolute error. The
    // calibration readout that justifies (or indicts) the sketch
    // parameters K/BANDS/ROWS before anyone trusts the dedup cascade's
    // near-dup tier.
    //
    // Shape at 100 TB: reuses the materialized signature and shingle stages
    // (zero recompute); the exact intersection is the (doc, shingle)
    // equi-join restricted to candidate ids — pair-bounded, never corpus².
    Declared("q233_sketch_accuracy",
      (s, dir) => {
        import graft.functions.ColumnOps.idiv
        val pairs = lshNearPairs(s, dir).select(col("id_a"), col("id_b"))
        val sigs = SharedStages.minhashSigs(s, dir)
        val sh = SharedStages.docShingles(s, dir).select(col("doc_id"), col("sh"))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
        val withEst = pairs
          .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
          .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
          .withColumn("est_ppm",
            idiv(sigMatchCount(col("sig_a"), col("sig_b"), K) * lit(1000000L), lit(K.toLong)))
          .select(col("id_a"), col("id_b"), col("est_ppm"))
        val inter = pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ninter"))
        withEst
          .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("ninter"))
          .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
          .withColumn("exact_ppm",
            idiv(col("ninter") * lit(1000000L), col("na") + col("nb") - col("ninter")))
          .select(col("id_a"), col("id_b"), col("est_ppm"), col("exact_ppm"),
            abs(col("est_ppm") - col("exact_ppm")).as("abs_err_ppm"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckSig +
        s""",
           |m AS (SELECT c.id_a, c.id_b,
           |    CAST(list_sum(list_transform(range(1, 17),
           |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS matches
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
           |              JOIN sig sb ON sb.doc_id = c.id_b),
           |x AS (SELECT m.id_a, m.id_b, m.matches,
           |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) AS ninter,
           |    CAST(len(ha.sh) AS BIGINT) AS na, CAST(len(hb.sh) AS BIGINT) AS nb
           |  FROM m JOIN sh ha ON ha.doc_id = m.id_a
           |         JOIN sh hb ON hb.doc_id = m.id_b
           |  WHERE m.matches >= 8)
           |SELECT id_a, id_b,
           |  CAST(matches * 1000000 // 16 AS BIGINT) AS est_ppm,
           |  CAST(ninter * 1000000 // (na + nb - ninter) AS BIGINT) AS exact_ppm,
           |  CAST(ABS(matches * 1000000 // 16 - ninter * 1000000 // (na + nb - ninter)) AS BIGINT) AS abs_err_ppm
           |FROM x ORDER BY id_a, id_b""".stripMargin)),

    // q236 — STREAMING MinHash-LSH near-dup index under the gate: the
    // documents table replayed as 4 micro-batches through
    // LshIndex.nearDupSink (sign → band → probe store → emit pairs →
    // idempotent sig append). A pair is emitted by the batch that COMPLETES
    // it (batch×batch or batch×store), so the union over batches must equal
    // the batch lshPairs output bit-for-bit — the same oracle as q32. This
    // is the incremental path curateStream's scaladoc deferred to a batch
    // compaction pass; scale shape on graft.streaming.LshIndex.
    Declared("q236_stream_lsh_dedup",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val base = SharedStages.scratchDir("q236")
        val (src, store, pairs, ck) =
          (s"$base/src", s"$base/store", s"$base/pairs", s"$base/ck")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        // no partition-width wrap (round 11): the store builds at the
        // session's width per the bucket-width law — the gate's 8-cpu
        // harness still lands on 8, and the decade runs get 32/320
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck)
          .foreachBatch(graft.streaming.LshIndex.nearDupSink(
            store, pairs, s"$ck/graft_commits"))
          .start()
        q.awaitTermination()
        graft.streaming.Loader.readTable(s, pairs)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckSig + "\n" + duckPairsSelect + "\nORDER BY id_a, id_b")),

    // q253 — STREAMING DECONTAMINATION AT INGEST: the corpus (doc_id % 97
    // ≠ 0) replayed as 4 micro-batches, each probed against a STATIC
    // benchmark LSH index (doc_id % 97 = 0; LshIndex.buildStaticIndex —
    // the bucketed banded layout, so the index side of every probe join
    // plans exchange-free). A hit (doc_id, bench_id, est ≥ 0.5) is
    // emitted by the batch that carries the corpus doc — ingest-time
    // decontamination, the streaming twin of q61's batch operator — and
    // the union over batches must equal the batch LSH pairs restricted to
    // corpus×bench, same signatures, same banding, same estimate (the
    // oracle recomputes exactly that in DuckDB).
    Declared("q253_stream_decontaminate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val bench = docs.filter(col("doc_id") % 97 === 0)
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        val base = SharedStages.scratchDir("q253")
        val (src, idx, hits, ck) =
          (s"$base/src", s"$base/idx", s"$base/hits", s"$base/ck")
        graft.streaming.LshIndex.buildStaticIndex(bench, idx)
        corpus.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(graft.streaming.LshIndex.decontaminateSink(
              idx, hits, s"$ck/graft_commits"))
            .start()
          q.awaitTermination()
        }
        graft.streaming.Loader.readTable(s, hits)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some(duckSig +
        """,
          |cand_cb AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS bid
          |  FROM bands a JOIN bands b ON a.b = b.b AND a.band = b.band
          |  WHERE a.doc_id % 97 <> 0 AND b.doc_id % 97 = 0)
          |SELECT did AS doc_id, bid AS bench_id, est_jaccard FROM (
          |  SELECT c.did, c.bid,
          |    CAST(ROUND(CAST(list_sum(list_transform(range(1, 17),
          |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DECIMAL(18,6)) / 16, 6) AS DECIMAL(18,6)) AS est_jaccard
          |  FROM cand_cb c JOIN sig sa ON sa.doc_id = c.did JOIN sig sb ON sb.doc_id = c.bid)
          |WHERE est_jaccard >= 0.5
          |ORDER BY doc_id, bench_id""".stripMargin)),

    // q254 — BENCHMARK-REVISION BACKFILL (LshIndex.backfillDecontaminate):
    // the complement q253 leaves open. History ingests first — 4 corpus
    // micro-batches through the near-dup sink, which is what builds the
    // persistent banded signature STORE — and only then a benchmark
    // REVISION arrives (the %97 set widened by %89). One operator composes
    // rebuild-index → re-probe-history → publish: the re-probe joins the
    // signature store (bucketed on the band keys) against the rebuilt
    // index (same bucketing) — BOTH probe sides exchange-free, no re-sign,
    // no corpus shuffle — and the full hit set under the new revision
    // publishes as one idempotent revision partition. Oracle: batch LSH
    // pairs restricted to corpus×bench₂, recomputed independently in
    // DuckDB. Docs ingested long before the revision are flagged — the
    // case ingest-time decontamination alone can never catch.
    Declared("q254_decontaminate_backfill",
      (s, dir) => {
        val base = SharedStages.scratchDir("q254")
        val (store, pairs, idx, hits) =
          (s"$base/store", s"$base/pairs", s"$base/idx2", s"$base/hits")
        // the batches and the backfill size their stores from the session
        // they run in, so their inputs are built from the scoped one
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val docs = Tables.load(c, dir, "documents").select("doc_id", "text")
          val corpus = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0)
          val bench2 = docs.filter(col("doc_id") % 97 === 0 || col("doc_id") % 89 === 0)
          for (b <- 0L until 4L)
            graft.streaming.LshIndex.processBatch(
              corpus.filter(pmod(col("doc_id"), lit(4L)) === b), store, pairs, b)
          graft.streaming.LshIndex.backfillDecontaminate(
            c, store, bench2, idx, hits, revisionId = 0L)
            .orderBy(col("doc_id"), col("bench_id"))
        }
      },
      Some(duckSig +
        """,
          |cand_cb AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS bid
          |  FROM bands a JOIN bands b ON a.b = b.b AND a.band = b.band
          |  WHERE a.doc_id % 97 <> 0 AND a.doc_id % 89 <> 0
          |    AND (b.doc_id % 97 = 0 OR b.doc_id % 89 = 0))
          |SELECT did AS doc_id, bid AS bench_id, est_jaccard FROM (
          |  SELECT c.did, c.bid,
          |    CAST(ROUND(CAST(list_sum(list_transform(range(1, 17),
          |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DECIMAL(18,6)) / 16, 6) AS DECIMAL(18,6)) AS est_jaccard
          |  FROM cand_cb c JOIN sig sa ON sa.doc_id = c.did JOIN sig sb ON sb.doc_id = c.bid)
          |WHERE est_jaccard >= 0.5
          |ORDER BY doc_id, bench_id""".stripMargin)),

    // q262 — EXACT DUPLICATED-SPAN DETECTION (operators.DupSpans): the
    // suffix-array-style substring dedup of Lee et al. 2021
    // (arXiv:2107.06499) — every MAXIMAL token span (width W=8) appearing
    // at least twice anywhere in the corpus, found via the run-of-
    // duplicated-W-grams equivalence. See the operator scaladoc for the
    // full dataflow; unlike the MinHash family this is EXACT, and it is
    // the one dedup variant that finds PARTIAL overlap (a copied paragraph
    // inside an otherwise-unique document), which whole-document hashing
    // and near-dup signatures both miss. DupSpanSpec pins maximality,
    // internal repeats, the edit-splits-span law, and the no-cross-join
    // plan shape.
    Declared("q262_dup_spans",
      (s, dir) =>
        graft.operators.DupSpans
          .spans(Tables.load(s, dir, "documents"), 8)
          .orderBy(col("doc_id"), col("span_start")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, t.i AS pos, md5(array_to_string(tk[t.i:t.i+7], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8),
             |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |h AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
             |isl AS (SELECT doc_id, pos,
             |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM h)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
             |  CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens
             |FROM isl GROUP BY doc_id, grp
             |ORDER BY doc_id, span_start""".stripMargin)),

    // q263 — DUPLICATED-SPAN SCRUB with the keep-first policy
    // (operators.DupSpans.scrubCounts): the REMOVAL side of q262, the way
    // Lee et al. actually apply it — for every duplicated W-gram, the
    // globally FIRST occurrence (MIN over the (doc_id, pos) STRUCT on the
    // engine side — exact at any document length; the oracle packs the
    // pair into one BIGINT, doc_id*2^20+pos, which orders identically for
    // every fixture SF since fixture docs are << 2^20 tokens and doc_ids
    // << 2^30) stays; every other occurrence is
    // redundant, and a token is removed iff some redundant occurrence
    // covers it. Reported per affected document: total/removed/kept token
    // counts. Scale: the only expansion anywhere is W offsets per
    // REDUNDANT occurrence (not per token, not per gram); first-occurrence
    // selection is an aggregate MIN per gram hash — no window over the
    // (possibly hot) gram partition, so a boilerplate gram repeated 10^6
    // times costs one (hash, min-key) row, and coverage distinct +
    // per-doc counts key on doc_id.
    Declared("q263_dup_span_scrub",
      (s, dir) =>
        graft.operators.DupSpans
          .scrubCounts(Tables.load(s, dir, "documents"), 8)
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, t.i AS pos, md5(array_to_string(tk[t.i:t.i+7], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8),
             |c AS (SELECT gh, MIN(doc_id * 1048576 + pos) AS first_key
             |  FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |r AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gh)
             |  WHERE g.doc_id * 1048576 + g.pos <> c.first_key),
             |cov AS (SELECT DISTINCT doc_id, pos + o.o AS tpos
             |  FROM r, UNNEST(range(0, 8)) AS o(o))
             |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS total_tokens,
             |  CAST(COUNT(*) AS BIGINT) AS removed_tokens,
             |  CAST(len(d.tk) - COUNT(*) AS BIGINT) AS kept_tokens
             |FROM d JOIN cov ON cov.doc_id = d.doc_id
             |GROUP BY d.doc_id, len(d.tk)
             |ORDER BY d.doc_id""".stripMargin)),

    // q264 — STREAMING duplicated-span detection at ingest
    // (streaming.DupSpanIndex): the maintained-index twin of q262/q263 and
    // the FOURTH accumulated-state operator on the BucketedStore
    // discipline. Corpus arrives as 4 deterministic micro-batches (doc_id
    // mod 4, in order — the q254 harness convention); each batch flags
    // every W-gram occurrence that repeats anything ALREADY INGESTED (an
    // earlier batch, via the gh-bucketed gram store probe — store side
    // exchange-free — or an earlier position in the same batch, via a
    // batch-sized MIN per gram), appends its grams to the store, and
    // writes the flags as a replay-idempotent partition. Flagged = not the
    // globally FIRST occurrence in (batch, doc_id, pos) order — q263's
    // keep-first rule with batch as the major key, which is what lets
    // DuckDB replay the whole prefix semantics with one MIN per gram over
    // an encoded BIGINT. Output: the flagged positions coalesced into
    // maximal spans with the SAME islands pass as batch q262.
    Declared("q264_stream_dup_spans",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val base = SharedStages.scratchDir("q264")
        val (store, hits) = (s"$base/grams", s"$base/hits")
        // bucket width = session partition width — the operator default
        // since round 11 (the round-10 bucket-width law: a store built at
        // a fixed 8 funnels corpus-sized scans through 8 fat tasks at
        // 100x the data)
        for (b <- 0L until 4L)
          graft.streaming.DupSpanIndex.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(4L)) === b), store, hits, b)
        graft.streaming.DupSpanIndex.spans(s, hits)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, t.i AS pos, md5(array_to_string(tk[t.i:t.i+7], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8),
             |o AS (SELECT doc_id, pos, gh,
             |    (doc_id % 4) * 1125899906842624 + doc_id * 1048576 + pos AS okey FROM g),
             |c AS (SELECT gh, MIN(okey) AS first_key FROM o GROUP BY gh),
             |f AS (SELECT o.doc_id, o.pos FROM o JOIN c USING (gh) WHERE o.okey <> c.first_key),
             |isl AS (SELECT doc_id, pos,
             |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM f)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
             |  CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens
             |FROM isl GROUP BY doc_id, grp
             |ORDER BY doc_id, span_start""".stripMargin)),

    // q266 — DUPLICATED-SPAN SCRUB REWRITE (DupSpans.scrubbedText): the
    // third leg of the family — q262 detects, q263 accounts, q266 emits
    // the CLEANED TEXT a curation pipeline writes back out: covered
    // positions collapse to one per-doc cut set and one in-row index
    // filter rebuilds the document; output is the kept-token count plus
    // the md5 of the scrubbed text (md5 is bit-identical cross-engine, so
    // the oracle checks the rewritten BYTES, not just counts). Only
    // affected documents appear — past q263's stages this adds doc-sized
    // work on those docs alone.
    Declared("q266_dup_span_rewrite",
      (s, dir) =>
        graft.operators.DupSpans
          .scrubbedText(Tables.load(s, dir, "documents"), 8)
          .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, t.i AS pos, md5(array_to_string(tk[t.i:t.i+7], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8),
             |c AS (SELECT gh, MIN(doc_id * 1048576 + pos) AS first_key
             |  FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |r AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gh)
             |  WHERE g.doc_id * 1048576 + g.pos <> c.first_key),
             |cuts AS (SELECT doc_id, list(DISTINCT pos + o.o) AS cuts
             |  FROM r, UNNEST(range(0, 8)) AS o(o) GROUP BY doc_id),
             |sc AS (SELECT d.doc_id,
             |    list_transform(list_filter(range(1, len(d.tk) + 1),
             |      j -> NOT list_contains(c.cuts, j)), j -> d.tk[j]) AS kept
             |  FROM d JOIN cuts c USING (doc_id))
             |SELECT doc_id, CAST(len(kept) AS BIGINT) AS kept_tokens,
             |  md5(COALESCE(array_to_string(kept, ' '), '')) AS scrubbed_md5
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // q267 — STREAMING SCRUB REWRITE (DupSpanIndex.scrubbedText): the
    // artifact leg of the streaming family — q264's ingest-order flags
    // drive the SAME shared rebuild stage as batch q266, so the streamed
    // pipeline now produces the cleaned corpus itself, not just the flag
    // set. Under arrival-order semantics the removal is strictly stronger
    // for late arrivals (a doc arriving after its duplicate partner loses
    // the whole shared span; the first arrival keeps it), which is
    // exactly what an at-ingest curation pipe wants: history is immutable,
    // only the newcomer is cut. Oracle = q264's arrival-order flagged set
    // composed with q266's rewrite CTEs, rewritten bytes checked via
    // cross-engine md5.
    Declared("q267_stream_dup_scrub",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        val base = SharedStages.scratchDir("q267")
        val (store, hits) = (s"$base/grams", s"$base/hits")
        for (b <- 0L until 4L)
          graft.streaming.DupSpanIndex.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(4L)) === b), store, hits, b)
        graft.streaming.DupSpanIndex.scrubbedText(s, docs, hits)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |g AS (SELECT doc_id, t.i AS pos, md5(array_to_string(tk[t.i:t.i+7], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8),
             |o AS (SELECT doc_id, pos, gh,
             |    (doc_id % 4) * 1125899906842624 + doc_id * 1048576 + pos AS okey FROM g),
             |c AS (SELECT gh, MIN(okey) AS first_key FROM o GROUP BY gh),
             |f AS (SELECT o.doc_id, o.pos FROM o JOIN c USING (gh) WHERE o.okey <> c.first_key),
             |cuts AS (SELECT doc_id, list(DISTINCT pos + x.o) AS cuts
             |  FROM f, UNNEST(range(0, 8)) AS x(o) GROUP BY doc_id),
             |sc AS (SELECT d.doc_id,
             |    list_transform(list_filter(range(1, len(d.tk) + 1),
             |      j -> NOT list_contains(c.cuts, j)), j -> d.tk[j]) AS kept
             |  FROM d JOIN cuts c USING (doc_id))
             |SELECT doc_id, CAST(len(kept) AS BIGINT) AS kept_tokens,
             |  md5(COALESCE(array_to_string(kept, ' '), '')) AS scrubbed_md5
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // q268 — DUPLICATED-SPAN WIDTH PROFILE: the tuning artifact behind the
    // W=8 choice everywhere else in the family — duplicated-gram count,
    // flagged occurrences and affected documents at W ∈ {4, 8, 16, 32},
    // the curve a practitioner reads to trade recall (small W flags more)
    // against span precision (large W only catches long verbatim copies).
    // Lee et al. use 50 BPE tokens ≈ this order of magnitude. One
    // gram-count aggregate per width — four INDEPENDENT corpus arms,
    // DELIBERATELY not fused: round 11 implemented and MEASURED the
    // tempting one-scan rewrite (all widths' grams tagged out of a single
    // projection into one per-(w, gram, doc) aggregate) and it lost
    // 1.5×-2.3× at sf10 (persist variant 6,520 task-s, ReusedExchange
    // variant 9,087 vs 3,940 for the arms — BASELINE round-11): corpus
    // TEXT I/O is a rounding error next to the intrinsic gram explode +
    // md5 + aggregate work, which both shapes pay, while fusing trades
    // the arms' tight per-gram aggregation (gh keys, massive map-side
    // reduction) for a near-reductionless (w, gh, doc_id) aggregate plus
    // a multi-distinct Expand. Each arm's gram subtree feeds both its
    // dup-count and its join-back through AQE's ReusedExchange, so an arm
    // costs ONE gram shuffle. The lesson is recorded where the next
    // optimizer will look: measure before fusing scans.
    Declared("q268_dup_width_profile",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
        Seq(4, 8, 16, 32).map { w =>
          val g = graft.operators.DupSpans.grams(docs, w)
          val dup = g.groupBy(col("gh"))
            .agg(count(lit(1)).as("n")).where(col("n") >= 2)
          val flagged = g.join(dup.select("gh"), "gh")
          dup.agg(big(count(lit(1))).as("dup_grams")).crossJoin(
            flagged.agg(big(count(lit(1))).as("flagged_occ"),
              big(countDistinct(col("doc_id"))).as("affected_docs")))
            .select(lit(w.toLong).as("w"), col("dup_grams"),
              col("flagged_occ"), col("affected_docs"))
        }.reduce(_ unionAll _).orderBy(col("w"))
      },
      Some {
        def arm(w: Int) =
          s"""g$w AS (SELECT doc_id, md5(array_to_string(tk[t.i:t.i+${w - 1}], ' ')) AS gh
             |  FROM d, UNNEST(range(1, len(tk) - ${w - 2})) AS t(i) WHERE len(tk) >= $w),
             |c$w AS (SELECT gh FROM g$w GROUP BY gh HAVING COUNT(*) >= 2),
             |m$w AS (SELECT CAST($w AS BIGINT) AS w,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$w) AS dup_grams,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g$w JOIN c$w USING (gh)) AS flagged_occ,
             |  (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM g$w JOIN c$w USING (gh)) AS affected_docs)""".stripMargin
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |${Seq(4, 8, 16, 32).map(arm).mkString(",\n")}
           |SELECT * FROM m4 UNION ALL SELECT * FROM m8
           |UNION ALL SELECT * FROM m16 UNION ALL SELECT * FROM m32
           |ORDER BY w""".stripMargin
      }),

    // q287 — SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023 — operators.
    // SemDeDup): the embedding-space near-dup pass beside the lexical
    // pipeline (MinHash q32/q236, dup-spans q262, set-sim q158). EMBED:
    // deterministic hashed-BoW projection (md5 → dim, md5 nibble → ±1,
    // integer-exact both engines; model embeddings slot in unchanged).
    // CLUSTER: argmax component — the boundedness lever: pairs form
    // within a cluster only, NEVER across the corpus (SemDeDupSpec pins
    // it; at 100 TB cluster count scales with corpus so candidate sets
    // stay machine-sized). DROP BY DOMINATION: a doc is dropped iff an
    // in-cluster ≥θ-cosine neighbor is strictly better by (n_chars desc,
    // doc_id asc) — the paper's keep-one-per-ε-ball made order-
    // deterministic, replayable as one SQL EXISTS. θ anchored on 6-dp
    // cosine in exact integer micros. Output: per-cluster corpus/drop
    // accounting.
    Declared("q287_semdedup",
      (s, dir) => {
        import graft.operators.SemDeDup
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
        // cluster count: gate-pinned 16 by default; k ∝ corpus behind
        // spark.graft.semdedup.docsPerCluster (SemDeDup.clusterCount — the
        // r14 scale law; the conf is never set on the gate, so the oracle
        // hash is stable)
        val assigned = SemDeDup.assignArgmax(
            SemDeDup.embedBow(docs, SemDeDup.clusterCount(docs, 16)))
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val marked = SemDeDup.markDropped(assigned, 990000L, "n_chars")
        marked.groupBy(col("cluster"))
          .agg(big(count(lit(1))).as("n_docs"),
            big(sum(when(col("dropped"), 1L).otherwise(0L))).as("n_dropped"))
          .select(big(col("cluster")).as("cluster"), col("n_docs"), col("n_dropped"))
          .orderBy(col("cluster"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
             |contrib AS (SELECT doc_id,
             |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 16 AS dim,
             |    CASE WHEN CAST(('0x' || substr(md5(t), 9, 1)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END AS sgn
             |  FROM toks),
             |sums AS (SELECT doc_id, dim, SUM(sgn) AS sv FROM contrib GROUP BY 1, 2),
             |dense AS (SELECT d.doc_id, g.dim, COALESCE(s.sv, 0) AS sv
             |  FROM (SELECT DISTINCT doc_id FROM sums) d
             |  CROSS JOIN (SELECT unnest(range(0, 16)) AS dim) g
             |  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.dim = g.dim),
             |emb AS (SELECT doc_id, list(CAST(sv AS DOUBLE) ORDER BY dim) AS v
             |  FROM dense GROUP BY 1),
             |nz AS (SELECT e.doc_id, e.v, doc.n_chars
             |  FROM emb e JOIN documents doc USING (doc_id)
             |  WHERE list_dot_product(e.v, e.v) > 0),
             |a AS (SELECT doc_id, v, n_chars,
             |    list_position(v, list_max(v)) - 1 AS cluster FROM nz),
             |dr AS (SELECT DISTINCT x.doc_id FROM a x JOIN a y
             |  ON x.cluster = y.cluster AND x.doc_id <> y.doc_id
             |  WHERE CAST(CAST(ROUND(list_cosine_similarity(x.v, y.v), 6) AS DECIMAL(18,6))
             |        * 1000000 AS BIGINT) >= 990000
             |    AND (y.n_chars > x.n_chars
             |         OR (y.n_chars = x.n_chars AND y.doc_id < x.doc_id)))
             |SELECT CAST(a.cluster AS BIGINT) AS cluster,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
             |FROM a LEFT JOIN dr ON dr.doc_id = a.doc_id
             |GROUP BY 1 ORDER BY cluster""".stripMargin)),

    // q289 — BLOOM-GATED CROSS-CORPUS DEDUP (operators.BloomFilter): the
    // MEMBERSHIP sketch completing the mergeable family (frequency CMS,
    // cardinality HLL, heavy hitters MG, quantiles DDSketch) in its
    // production composition — the "have we already crawled this?" gate.
    // An archive corpus (2/3 of documents, content-keyed by md5(text)) is
    // ingested into a maintained Bloom feed in 4 batches (linear under
    // union ⇒ the CMS delta-feed discipline verbatim); a new crawl (1/2 of
    // documents, overlapping the archive) probes it. NO FALSE NEGATIVES
    // (BloomSketchSpec pins the law): bloom-negative docs are DEFINITELY
    // novel and skip the exact check entirely — only bloom-positives
    // (true re-crawls + the fp tail) reach the exact membership join,
    // whose probe side is broadcast-sized by construction. The archive
    // scan is read ONCE map-side against that broadcast: at 100 TB the
    // exact-check traffic prunes from |crawl| to |dups| + fp·|crawl|.
    // Output: per-disposition accounting (novel_fast / dup / fp_pruned);
    // the oracle replays filter bits, probes and exact membership.
    Declared("q289_bloom_dedup_gate",
      (s, dir) => {
        import graft.operators.BloomFilter
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("key"))
        val archive = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        val feed = SharedStages.scratchDir("q289") + "/bloom"
        for (b <- 0L until 4L)
          BloomFilter.ingestBatch(
            archive.filter(pmod(col("doc_id"), lit(4L)) === b), "key", feed, b)
        val crawl = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
        // persisted: the probe frame feeds all three disposition branches
        // AND the exact check — without it the crawl scan + broadcast
        // probe re-run four times (PlanAudit round 13)
        val probed = BloomFilter.mightContain(s, feed, crawl, "key")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val positives = probed.filter(col("maybe") === 1)
        // exact membership for POSITIVES only: broadcast the (small by
        // construction) positive keys, scan the archive once map-side
        val confirmed = archive.select(col("key"))
          .join(broadcast(positives.select(col("key"))), Seq("key"), "left_semi")
          .distinct()
        val dup = positives.join(broadcast(confirmed), Seq("key"), "left_semi")
          .withColumn("disposition", lit("dup"))
        val fp = positives.join(broadcast(confirmed), Seq("key"), "left_anti")
          .withColumn("disposition", lit("fp_pruned"))
        val novel = probed.filter(col("maybe") === 0)
          .withColumn("disposition", lit("novel_fast"))
        dup.unionByName(fp).unionByName(novel)
          .groupBy(col("disposition"))
          .agg(big(count(lit(1))).as("n_docs"))
          .orderBy(col("disposition"))
      },
      Some {
        def p(j: Int, of: String) =
          s"CAST(('0x' || substr(md5('bloom$j#' || $of), 1, 8)) AS BIGINT) % 2048"
        s"""WITH a AS (SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 3 <> 0),
           |occ AS (${(0 until 4).map(j => s"SELECT DISTINCT ${p(j, "key")} AS p FROM a")
                        .mkString("\n  UNION\n")}),
           |b AS (SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 2 = 0),
           |probe AS (SELECT doc_id, key,
           |  ${(0 until 4).map(j => s"${p(j, "key")} AS p$j").mkString(",\n  ")} FROM b),
           |pos AS (SELECT doc_id, key,
           |    ${(0 until 4).map(j => s"(p$j IN (SELECT p FROM occ))").mkString(" AND ")} AS maybe
           |  FROM probe)
           |SELECT CASE WHEN NOT maybe THEN 'novel_fast'
           |            WHEN key IN (SELECT key FROM a) THEN 'dup'
           |            ELSE 'fp_pruned' END AS disposition,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs
           |FROM pos GROUP BY 1 ORDER BY disposition""".stripMargin
      })
  )
}
