package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.idiv
import graft.model.Tables
import Protocol._

/** Interval and sequence analytics ([EXT], SURVEY §2.2): the
  * ordered-recurrence family — clamped running balances (the Lindley
  * recursion, rewritten as two windows so it distributes), interval
  * union/coverage, gaps-and-islands streaks, calendar-bucket interval
  * splitting, and largest-remainder budget apportionment. All in the
  * integer-micro determinism protocol (Protocol scaladoc): BIGINT
  * arithmetic end to end, zero floats.
  *
  * The unifying scale story: every query here is per-key window work over
  * ONE hash exchange on the key (user_id), or counter-sized aggregate
  * arithmetic. The Lindley rewrite is the family's showpiece — the naive
  * formulation of a floor-clamped balance is a sequential fold
  * (B_t = max(0, B_{t-1} + δ_t), unexpressible as a window sum), but the
  * closed form B_t = S_t − min(0, min_{τ≤t} S_τ) (Lindley 1952's reflected
  * random walk) turns it into two running windows over the same
  * (user, time) sort — no mapGroups, no state store, codegen end to end.
  */
object IntervalQueries extends QueryModule {

  /** Half-hour activity horizon for the interval-union queries (µs). */
  private val H = 1800000000L
  /** One day in µs. */
  private val Day = 86400000000L

  /** events → (user_id, µs instant, event_id, signed µ-unit cash delta):
    * purchase/signup credit the account, click/view/error debit it.
    */
  private def tape(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "events")
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("event_id"),
        (when(col("event_type").isin("purchase", "signup"), lit(1L))
          .otherwise(lit(-1L)) *
          (dec(col("value")) * lit(1000000)).cast("long")).as("delta"))

  private val tapeSql =
    """SELECT user_id, epoch_us(ts) AS us, event_id,
      |  (CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE -1 END)
      |    * CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS delta
      |FROM events""".stripMargin

  /** Shared oracle for q200 and its streaming twin q207 — the Lindley
    * closed form in SQL, per-user (final, peak, floor-hits).
    */
  private val clampedOracle =
    s"""WITH e AS ($tapeSql),
       |b0 AS (
       |  SELECT user_id, us, event_id,
       |    SUM(delta) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sp
       |  FROM e),
       |b AS (
       |  SELECT user_id, us, event_id,
       |    sp - LEAST(0, MIN(sp) OVER (PARTITION BY user_id ORDER BY us, event_id)) AS b
       |  FROM b0),
       |st AS (
       |  SELECT user_id, b,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn,
       |    MAX(b) OVER (PARTITION BY user_id) AS peak_micro,
       |    SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id) AS n_floor
       |  FROM b)
       |SELECT user_id, b AS final_micro, peak_micro, n_floor
       |FROM st WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Shared oracle for q201 and its streaming twin q222 — the island
    * sweep in SQL, per-user (n_islands, covered, longest).
    */
  private val q201OracleSql: String =
    s"""WITH e AS ($tapeSql),
       |iv AS (
       |  SELECT user_id, us, event_id, us + $H AS e,
       |    MAX(us + $H) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
       |  FROM e),
       |isl AS (
       |  SELECT user_id, us, e,
       |    SUM(CASE WHEN prev_max_e IS NULL OR us > prev_max_e THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS island
       |  FROM iv),
       |cov AS (
       |  SELECT user_id, island, MAX(e) - MIN(us) AS covered
       |  FROM isl GROUP BY user_id, island)
       |SELECT user_id, COUNT(*) AS n_islands, SUM(covered) AS covered_us,
       |  MAX(covered) AS longest_us
       |FROM cov GROUP BY user_id ORDER BY user_id""".stripMargin

  override val declared: Seq[Declared] = Seq(

    // q200 — FLOOR-CLAMPED RUNNING BALANCE (Lindley recursion) per user:
    // a wallet that credits purchases/signups and debits the rest but can
    // never go negative. B_t = max(0, B_{t-1} + δ_t) is a sequential
    // recurrence; its closed form B_t = S_t − min(0, min_{τ≤t} S_τ)
    // (S = prefix sum) is two running windows over one (us, event_id)
    // sort. Per user: closing balance, peak balance, and how many debit
    // events hit the floor (B = 0 — values are strictly positive, so a
    // zero balance can only be a clamped debit).
    //
    // Shape at 100 TB: ONE Exchange hashpartitioning(user_id); both
    // running windows and the full-partition peak share the single
    // per-user sort; everything after is codegen arithmetic. The window
    // formulation is WHY this scales — the fold formulation would be a
    // state-store scan per user.
    Declared("q200_clamped_balance",
      (s, dir) => {
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val wAll = Window.partitionBy(col("user_id"))
        val wLast = Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)
        tape(s, dir)
          .withColumn("sp", sum(col("delta")).over(wRun))
          .withColumn("b", col("sp") - least(lit(0L), min(col("sp")).over(wRun)))
          .withColumn("peak_micro", max(col("b")).over(wAll))
          .withColumn("n_floor",
            sum(when(col("b") === 0L, 1L).otherwise(0L)).over(wAll))
          .withColumn("rn", row_number().over(wLast))
          .where(col("rn") === 1)
          .select(col("user_id"), col("b").as("final_micro"),
            col("peak_micro"), big(col("n_floor")).as("n_floor"))
          .orderBy(col("user_id"))
      },
      Some(clampedOracle)),

    // q201 — INTERVAL UNION (merged activity coverage) per user: each
    // event opens a 30-minute activity window [us, us+H); overlapping or
    // abutting windows merge into islands (new island ⟺ start strictly
    // after the running max of all previous ends — the classic
    // gaps-and-islands sweep). Per user: island count, total covered µs
    // (union measure, double-counting-free), longest island. The island
    // id is a running sum of the new-island flag — same single per-user
    // sort as q200.
    //
    // Shape at 100 TB: ONE Exchange hashpartitioning(user_id) feeds the
    // running-max window, the island-sum window and the two aggregates
    // (same key, Catalyst reuses the partitioning). Never materializes
    // per-pair overlap — the sweep is linear in events.
    Declared("q201_interval_union",
      (s, dir) => {
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val iv = tape(s, dir)
          .select(col("user_id"), col("us"), col("event_id"),
            (col("us") + lit(H)).as("e"))
          .withColumn("prev_max_e",
            max(col("e")).over(wRun.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_e").isNull || col("us") > col("prev_max_e"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wRun))
        iv.groupBy(col("user_id"), col("island"))
          .agg((max(col("e")) - min(col("us"))).as("covered"))
          .groupBy(col("user_id"))
          .agg(big(count(lit(1))).as("n_islands"),
            sum(col("covered")).as("covered_us"),
            max(col("covered")).as("longest_us"))
          .orderBy(col("user_id"))
      },
      Some(q201OracleSql)),

    // q202 — LONGEST CONSECUTIVE-DAY STREAK per user (gaps-and-islands on
    // the distinct active-day set): on consecutive days, day_index −
    // row_number is constant — that difference IS the island key, no
    // iteration needed. Per user: the longest streak length and its start
    // day (earliest start wins ties).
    //
    // Shape at 100 TB: distinct (user, day) first — the tape collapses
    // ~events/day-fold before any window runs; then one per-user sort.
    Declared("q202_longest_streak",
      (s, dir) => {
        val days = tape(s, dir)
          .select(col("user_id"), idiv(col("us"), lit(Day)).as("d"))
          .distinct()
        val wd = Window.partitionBy(col("user_id")).orderBy(col("d"))
        val isl = days
          .withColumn("g", col("d") - row_number().over(wd))
          .groupBy(col("user_id"), col("g"))
          .agg(big(count(lit(1))).as("streak"), min(col("d")).as("start_d"))
        val pick = Window.partitionBy(col("user_id"))
          .orderBy(col("streak").desc, col("start_d"))
        isl.withColumn("rn", row_number().over(pick))
          .where(col("rn") === 1)
          .select(col("user_id"), col("streak"), col("start_d"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS ($tapeSql),
              |days AS (SELECT DISTINCT user_id, us // $Day AS d FROM e),
              |isl AS (
              |  SELECT user_id,
              |    d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS g, d
              |  FROM days),
              |st AS (
              |  SELECT user_id, g, COUNT(*) AS streak, MIN(d) AS start_d
              |  FROM isl GROUP BY user_id, g),
              |pick AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              |    ORDER BY streak DESC, start_d) AS rn
              |  FROM st)
              |SELECT user_id, streak, start_d FROM pick WHERE rn = 1
              |ORDER BY user_id""".stripMargin)),

    // q203 — LARGEST-REMAINDER (Hamilton) BUDGET APPORTIONMENT: allocate
    // an exact 1,000,000-token sampling budget across document sources
    // proportional to corpus characters. base = ⌊N·chars/total⌋ per
    // source; the leftover N − Σbase units (< #sources by construction)
    // go to the largest remainders, ties to the lexicographically first
    // source. Σalloc = N EXACTLY — the invariant that makes this the
    // right tool for training-data mixing (q64's domain mix picks ratios;
    // this turns ratios into an integer sample budget with zero drift).
    //
    // Shape at 100 TB: one counter-sized aggregate (bounded by the
    // source domain), two 1-row broadcast scalars, and a broadcast theta
    // self-join for the remainder rank — on a counter-sized frame that
    // beats a global sort, and no partition-less window appears.
    Declared("q203_apportion_budget",
      (s, dir) => {
        val N = 1000000L
        // persist the counter-sized per-source aggregate: the scalar total,
        // the leftover, and BOTH sides of the remainder-rank self-join all
        // read this 20-row cache instead of re-scanning the corpus (the
        // q182 shared-prep discipline — PlanAudit showed 4 corpus scans
        // before this)
        val per = Tables.load(s, dir, "documents")
          .groupBy(col("source")).agg(sum(col("n_chars")).as("chars_s"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = per.agg(sum(col("chars_s")).as("total"))
        val based = per.crossJoin(broadcast(tot))
          .withColumn("base", idiv(lit(N) * col("chars_s"), col("total")))
          .withColumn("rem", (lit(N) * col("chars_s")) % col("total"))
        val leftover = based.agg((lit(N) - sum(col("base"))).as("leftover"))
        val ranked = based.as("a").join(broadcast(based.as("b")),
            col("b.rem") > col("a.rem") ||
              (col("b.rem") === col("a.rem") && col("b.source") < col("a.source")),
            "left")
          .groupBy(col("a.source").as("source"), col("a.chars_s").as("chars_s"),
            col("a.base").as("base"), col("a.rem").as("rem"))
          .agg((count(col("b.source")) + 1L).as("rank_rem"))
        ranked.crossJoin(broadcast(leftover))
          .select(col("source"), col("chars_s"), big(col("base")).as("base"),
            big(when(col("rank_rem") <= col("leftover"), col("base") + 1L)
              .otherwise(col("base"))).as("alloc"))
          .orderBy(col("source"))
      },
      Some("""WITH per AS (
             |  SELECT source, SUM(n_chars) AS chars_s FROM documents GROUP BY source),
             |tot AS (SELECT SUM(chars_s) AS total FROM per),
             |based AS (
             |  SELECT source, chars_s,
             |    (1000000 * chars_s) // total AS base,
             |    (1000000 * chars_s) % total AS rem
             |  FROM per CROSS JOIN tot),
             |lo AS (SELECT 1000000 - SUM(base) AS leftover FROM based),
             |ranked AS (
             |  SELECT a.source, a.chars_s, a.base, COUNT(b.source) + 1 AS rank_rem
             |  FROM based a LEFT JOIN based b
             |    ON b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)
             |  GROUP BY a.source, a.chars_s, a.base)
             |SELECT source, chars_s, base,
             |  CASE WHEN rank_rem <= leftover THEN base + 1 ELSE base END AS alloc
             |FROM ranked CROSS JOIN lo ORDER BY source""".stripMargin)),

    // q204 — CALENDAR-SPLIT UTILIZATION: the q201 activity islands, split
    // at day boundaries (billing/utilization attribution: a session
    // crossing midnight contributes to BOTH days, each day getting
    // exactly its overlap). Explode each island over its day span
    // (sequence/generate_series — bounded expansion: span/day rows per
    // island), clamp to the day, aggregate per day. Σactive_us over days
    // == Σcovered_us over users (the split is measure-preserving — pinned
    // in IntervalSpec).
    //
    // Shape at 100 TB: islands as in q201 (one user-hash exchange), the
    // explode is map-side (generator, no shuffle), final rollup is a
    // day-keyed counter aggregate.
    Declared("q204_daily_utilization",
      (s, dir) => {
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val isl = tape(s, dir)
          .select(col("user_id"), col("us"), col("event_id"),
            (col("us") + lit(H)).as("e"))
          .withColumn("prev_max_e",
            max(col("e")).over(wRun.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_e").isNull || col("us") > col("prev_max_e"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wRun))
          .groupBy(col("user_id"), col("island"))
          .agg(min(col("us")).as("s0"), max(col("e")).as("e0"))
        isl
          .withColumn("d", explode(sequence(
            idiv(col("s0"), lit(Day)), idiv(col("e0") - 1L, lit(Day)))))
          .withColumn("ov",
            least(col("e0"), (col("d") + 1L) * lit(Day)) -
              greatest(col("s0"), col("d") * lit(Day)))
          .groupBy(col("d"))
          .agg(big(count(lit(1))).as("n_sessions"),
            big(countDistinct(col("user_id"))).as("n_users"),
            sum(col("ov")).as("active_us"))
          .orderBy(col("d"))
      },
      Some(s"""WITH e AS ($tapeSql),
              |iv AS (
              |  SELECT user_id, us, event_id, us + $H AS e,
              |    MAX(us + $H) OVER (PARTITION BY user_id ORDER BY us, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
              |  FROM e),
              |isl0 AS (
              |  SELECT user_id, us, e,
              |    SUM(CASE WHEN prev_max_e IS NULL OR us > prev_max_e THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS island
              |  FROM iv),
              |isl AS (
              |  SELECT user_id, island, MIN(us) AS s0, MAX(e) AS e0
              |  FROM isl0 GROUP BY user_id, island),
              |split AS (
              |  SELECT user_id, s0, e0, UNNEST(generate_series(s0 // $Day, (e0 - 1) // $Day)) AS d
              |  FROM isl)
              |SELECT d, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users,
              |  SUM(LEAST(e0, (d + 1) * $Day) - GREATEST(s0, d * $Day)) AS active_us
              |FROM split GROUP BY d ORDER BY d""".stripMargin)),

    // q206 — RENDEZVOUS (HRW) SHARD MAP of the corpus: every doc scores
    // all 16 shards with md5(doc_id:shard) and lands on the argmax
    // (operators.Rendezvous — scaladoc has the balance/minimal-remap
    // properties and the IntervalSpec pins). Output is the shard
    // manifest: size + doc-id range per shard.
    //
    // Shape at 100 TB: assignment is ONE map-side codegen projection
    // (transform + array_max over a 16-literal array — no explode, no
    // window, no shuffle); the only exchange is the 16-group manifest
    // rollup. The oracle takes the explode+window road to the same
    // argmax — result-identical, deliberately not shape-identical.
    Declared("q206_rendezvous_shards",
      (s, dir) => {
        import graft.operators.Rendezvous
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
        Rendezvous.assign(docs, col("doc_id"), 0 until 16)
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(big(count(lit(1))).as("n_docs"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("shard"))
      },
      Some("""WITH a AS (
             |  SELECT doc_id, UNNEST(generate_series(0, 15)) AS sh FROM documents),
             |k AS (
             |  SELECT doc_id, sh,
             |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(sh AS VARCHAR)) AS k
             |  FROM a),
             |w AS (
             |  SELECT doc_id, sh,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k DESC, sh DESC) AS rn
             |  FROM k)
             |SELECT sh AS shard, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
             |  MAX(doc_id) AS max_doc
             |FROM w WHERE rn = 1 GROUP BY sh ORDER BY sh""".stripMargin)),

    // q207 — STREAMING CLAMPED BALANCE, byte-identical to q200's batch
    // oracle: the same movement tape replayed through
    // `Stateful.clampedFoldStream` — the order-sensitive Lindley fold as
    // watermark-gated per-key state (movements buffer until the watermark
    // passes them, then fold in (ts, id) order and emit that event's
    // finalized balance). Same 4-slice out-of-event-time-order file
    // replay + watermark pusher as q93/q185; per-user rollup
    // (final/peak/floor-hits) happens batch-side over the emitted
    // per-event balances, so the streaming path must reproduce EVERY
    // intermediate balance — a far stronger gate than matching the final
    // aggregate alone.
    Declared("q207_stream_balance",
      (s, dir) => {
        import graft.streaming.Stateful
        val balEv = tape(s, dir)
          .select(col("user_id").cast("string").as("key"),
            timestamp_micros(col("us")).as("ts"), col("event_id").as("id"),
            col("delta"))
        val maxTs = balEv.agg(max(col("ts"))).head().getTimestamp(0)
        val pusher = {
          import s.implicits._
          Seq(("zz~pusher",
            new java.sql.Timestamp(maxTs.getTime + 87601L * 3600 * 1000),
            -1L, 0L)).toDF("key", "ts", "id", "delta")
        }
        val parts = (0 until 4).map(i => balEv.filter(pmod(col("id"), lit(4)) === i)) :+ pusher
        val out = Replay.ordered(s, SharedStages.scratchDir("q207"), parts) { stream =>
          Stateful.clampedFoldStream(
            stream.as[Stateful.BalEv](org.apache.spark.sql.Encoders.product[Stateful.BalEv]),
            delay = "87600 hours").toDF()
        }
        val wLast = Window.partitionBy(col("user_id"))
          .orderBy(col("tsUs").desc, col("id").desc)
        s.read.parquet(out)
          .filter(col("key") =!= "zz~pusher")
          .withColumn("user_id", col("key").cast("long"))
          .withColumn("peak_micro",
            max(col("bal")).over(Window.partitionBy(col("user_id"))))
          .withColumn("n_floor",
            sum(when(col("bal") === 0L, 1L).otherwise(0L))
              .over(Window.partitionBy(col("user_id"))))
          .withColumn("rn", row_number().over(wLast))
          .where(col("rn") === 1)
          .select(col("user_id"), col("bal").as("final_micro"),
            col("peak_micro"), big(col("n_floor")).as("n_floor"))
          .orderBy(col("user_id"))
      },
      Some(clampedOracle)),

    // q208 — INTERVAL-OVERLAP JOIN (operators.IntervalOverlapJoin): the
    // q201 activity islands joined to 2-hour POST-PURCHASE windows of the
    // same user wherever the two intervals intersect — "how much of the
    // post-purchase window was the user actually active". Both sides are
    // intervals, so this is the interval-interval companion of q37's
    // point-in-interval range join: day-bucketed equi join, pair kept
    // only in the overlap-start bucket (map-side predicate instead of a
    // distinct — operator scaladoc). Per user: matched pairs, total and
    // max overlap µs. The oracle takes the naive theta-join road.
    //
    // Shape at 100 TB: explode is bounded (span/day + 1 per interval),
    // the join is EQUI on (user_id, day bucket) — partitionable and
    // AQE-skew-splittable; no distinct, no theta join, no cartesian.
    Declared("q208_overlap_join",
      (s, dir) => {
        import graft.operators.IntervalOverlapJoin
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val t = tape(s, dir)
        val isl = t
          .select(col("user_id"), col("us"), col("event_id"),
            (col("us") + lit(H)).as("e"))
          .withColumn("prev_max_e",
            max(col("e")).over(wRun.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_e").isNull || col("us") > col("prev_max_e"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(wRun))
          .groupBy(col("user_id"), col("island"))
          .agg(min(col("us")).as("s0"), max(col("e")).as("e0"))
        val pw = Tables.load(s, dir, "events")
          .where(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("ps"),
            (unix_micros(col("ts")) + lit(7200000000L)).as("pe"),
            col("event_id").as("pid"))
        IntervalOverlapJoin.join(isl, pw, Seq("user_id"),
            "s0", "e0", "ps", "pe", Day)
          .withColumn("ov", least(col("e0"), col("pe")) - greatest(col("s0"), col("ps")))
          .groupBy(col("user_id"))
          .agg(big(count(lit(1))).as("n_pairs"),
            sum(col("ov")).as("overlap_us"),
            max(col("ov")).as("max_overlap_us"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS ($tapeSql),
              |iv AS (
              |  SELECT user_id, us, event_id, us + $H AS e,
              |    MAX(us + $H) OVER (PARTITION BY user_id ORDER BY us, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
              |  FROM e),
              |isl0 AS (
              |  SELECT user_id, us, e,
              |    SUM(CASE WHEN prev_max_e IS NULL OR us > prev_max_e THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS island
              |  FROM iv),
              |isl AS (
              |  SELECT user_id, island, MIN(us) AS s0, MAX(e) AS e0
              |  FROM isl0 GROUP BY user_id, island),
              |pw AS (
              |  SELECT user_id, epoch_us(ts) AS ps, epoch_us(ts) + 7200000000 AS pe
              |  FROM events WHERE event_type = 'purchase'),
              |pairs AS (
              |  SELECT isl.user_id,
              |    LEAST(e0, pe) - GREATEST(s0, ps) AS ov
              |  FROM isl JOIN pw ON isl.user_id = pw.user_id
              |    AND s0 < pe AND ps < e0)
              |SELECT user_id, COUNT(*) AS n_pairs, SUM(ov) AS overlap_us,
              |  MAX(ov) AS max_overlap_us
              |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q209 — TIME-WEIGHTED AVERAGE BALANCE: integrate the q200 Lindley
    // balance (piecewise constant between movements) over each user's
    // active span and divide by the span — the interest-accrual /
    // average-exposure readout. Products b·gap reach ~10²³ µunit·µs at
    // sf0.1, so the sum runs in DECIMAL(38,0) (HUGEINT oracle-side) —
    // the q154/q176 big-integer discipline. Users with a single movement
    // (zero span) are excluded rather than divided by zero.
    //
    // Shape at 100 TB: the same single user-hash exchange as q200 serves
    // the balance windows, the lead() segment window and the final
    // aggregate; the D38 product is row-local codegen.
    Declared("q209_twa_balance",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val D38 = DecimalType(38, 0)
        val wRun = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        tape(s, dir)
          .withColumn("sp", sum(col("delta")).over(wRun))
          .withColumn("b", col("sp") - least(lit(0L), min(col("sp")).over(wRun)))
          .withColumn("w", lead(col("us"), 1).over(wRun) - col("us"))
          .where(col("w").isNotNull)
          .groupBy(col("user_id"))
          .agg(sum(col("w")).as("span_us"),
            sum(col("b").cast(D38) * col("w").cast(D38)).as("area"))
          .where(col("span_us") > 0)
          .select(col("user_id"), col("span_us"),
            idiv(col("area"), col("span_us").cast(D38)).cast("long").as("twa_micro"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS ($tapeSql),
              |b0 AS (
              |  SELECT user_id, us, event_id,
              |    SUM(delta) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sp
              |  FROM e),
              |b AS (
              |  SELECT user_id, us, event_id,
              |    sp - LEAST(0, MIN(sp) OVER (PARTITION BY user_id ORDER BY us, event_id)) AS b
              |  FROM b0),
              |seg AS (
              |  SELECT user_id, b,
              |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS w
              |  FROM b)
              |SELECT user_id, SUM(w) AS span_us,
              |  CAST(SUM(CAST(b AS HUGEINT) * w) // SUM(w) AS BIGINT) AS twa_micro
              |FROM seg WHERE w IS NOT NULL
              |GROUP BY user_id HAVING SUM(w) > 0 ORDER BY user_id""".stripMargin)),

    // q212 — (s,S) INVENTORY REORDER POLICY per user: start at S = 500 µM;
    // every event consumes its µ-value; whenever stock would fall below
    // s = 100 µM, replenish to S and count a reorder. UNLIKE q200's
    // Lindley clamp this recurrence has NO windowed closed form (the
    // reorder jump is non-linear in the prefix sums), so it runs as an
    // IN-ROW HOF FOLD: per user, array_sort(collect_list(struct)) builds
    // the event tape, `aggregate` folds the (bal, n_reorders) state
    // struct across it — codegen end to end, ONE user-hash exchange,
    // zero driver involvement. The oracle walks the same recurrence as a
    // RECURSIVE CTE (one global iteration per tape step).
    //
    // Shape at 100 TB: the per-key tape lives in one row — bounded by
    // events/key in the analysis period (hundreds here; fine to ~10⁵).
    // Keys with unbounded tapes take the mapPartitions road instead
    // (repartition by key + sortWithinPartitions + streaming fold — the
    // GlobalCumSum sanction); this query deliberately shows the
    // expression-only form.
    Declared("q212_reorder_policy",
      (s, dir) => {
        val S = 500000000L
        val sMin = 100000000L
        val tapeArr = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            (dec(col("value")) * lit(1000000)).cast("long").as("demand"))
          .groupBy(col("user_id"))
          .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
            col("demand")))).as("tape"))
        tapeArr
          .withColumn("st", aggregate(col("tape"),
            struct(lit(S).as("bal"), lit(0L).as("nr")),
            (acc, x) => {
              val next = acc.getField("bal") - x.getField("demand")
              struct(
                when(next < sMin, lit(S)).otherwise(next).as("bal"),
                (acc.getField("nr") + when(next < sMin, 1L).otherwise(0L)).as("nr"))
            }))
          .select(col("user_id"), col("st").getField("bal").as("final_micro"),
            big(col("st").getField("nr")).as("n_reorders"))
          .orderBy(col("user_id"))
      },
      Some(q212OracleSql)),

    // q222 — STREAMING INTERVAL UNION, byte-identical to q201's batch
    // oracle through Spark's BUILT-IN session windows: each event opens a
    // 30-minute activity window, and `session_window` merges exactly the
    // islands q201's batch sweep finds — with ONE boundary repair: q201
    // merges ABUTTING windows (s == prev end) while session windows are
    // half-open (an event at exactly last+gap starts a NEW session), so
    // the streaming gap is H + 1 µs and the read-back subtracts that 1 µs
    // from every session end. Same 4-slice replay as q76; complete-mode
    // session store, per-user rollup batch-side.
    Declared("q222_stream_interval_union",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"))
        val out = Replay(s, SharedStages.scratchDir("q222"), events, "complete") {
          _.groupBy(col("user_id"),
              session_window(col("ts"), "1800000001 microseconds").as("w"))
            .agg(count(lit(1)).as("n_events"))
        }
        s.read.parquet(out)
          .select(col("user_id"),
            (unix_micros(col("w.end")) - 1L - unix_micros(col("w.start")))
              .as("covered"))
          .groupBy(col("user_id"))
          .agg(big(count(lit(1))).as("n_islands"),
            sum(col("covered")).as("covered_us"),
            max(col("covered")).as("longest_us"))
          .orderBy(col("user_id"))
      },
      Some(q201OracleSql)),

    // q224 — APPORTIONED BUDGET SAMPLE: q203's largest-remainder quota,
    // MATERIALIZED — a deterministic 100-doc sample drawn proportionally
    // to source size: per source, the alloc_s docs with the smallest
    // md5(doc_id:'smp') (seedless, engine-portable, the q161 order).
    // Closes the loop from "ratios" (q64) through "integer quotas"
    // (q203) to "the actual sampled rows"; Σ sampled = budget exactly
    // while no source saturates (IntervalSpec law).
    //
    // Shape at 100 TB: quota arithmetic on the counter frame (persisted,
    // broadcast); the sample pick is ONE source-partitioned window over
    // the doc-id/md5 projection — never the payload.
    Declared("q224_budget_sample",
      (s, dir) => {
        val N = 100L
        val per = Tables.load(s, dir, "documents")
          .groupBy(col("source")).agg(sum(col("n_chars")).as("chars_s"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = per.agg(sum(col("chars_s")).as("total"))
        val based = per.crossJoin(broadcast(tot))
          .withColumn("base", idiv(lit(N) * col("chars_s"), col("total")))
          .withColumn("rem", (lit(N) * col("chars_s")) % col("total"))
        val leftover = based.agg((lit(N) - sum(col("base"))).as("leftover"))
        val ranked = based.as("a").join(broadcast(based.as("b")),
            col("b.rem") > col("a.rem") ||
              (col("b.rem") === col("a.rem") && col("b.source") < col("a.source")),
            "left")
          .groupBy(col("a.source").as("source"), col("a.base").as("base"),
            col("a.rem").as("rem"))
          .agg((count(col("b.source")) + 1L).as("rank_rem"))
        val alloc = ranked.crossJoin(broadcast(leftover))
          .select(col("source"),
            when(col("rank_rem") <= col("leftover"), col("base") + 1L)
              .otherwise(col("base")).as("alloc"))
        val wS = Window.partitionBy(col("source"))
          .orderBy(md5(concat_ws(":", col("doc_id"), lit("smp"))), col("doc_id"))
        Tables.load(s, dir, "documents").select(col("source"), col("doc_id"))
          .withColumn("rn", row_number().over(wS))
          .join(broadcast(alloc), "source")
          .where(col("rn") <= col("alloc"))
          .groupBy(col("source"))
          .agg(big(max(col("alloc"))).as("alloc"),
            big(count(lit(1))).as("n_sampled"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("source"))
      },
      Some("""WITH per AS (
             |  SELECT source, SUM(n_chars) AS chars_s FROM documents GROUP BY source),
             |tot AS (SELECT SUM(chars_s) AS total FROM per),
             |based AS (
             |  SELECT source, chars_s,
             |    (100 * chars_s) // total AS base,
             |    (100 * chars_s) % total AS rem
             |  FROM per CROSS JOIN tot),
             |lo AS (SELECT 100 - SUM(base) AS leftover FROM based),
             |ranked AS (
             |  SELECT a.source, a.base, COUNT(b.source) + 1 AS rank_rem
             |  FROM based a LEFT JOIN based b
             |    ON b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)
             |  GROUP BY a.source, a.base),
             |alloc AS (
             |  SELECT source,
             |    CASE WHEN rank_rem <= leftover THEN base + 1 ELSE base END AS alloc
             |  FROM ranked CROSS JOIN lo),
             |rk AS (
             |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
             |    ORDER BY md5(doc_id || ':smp'), doc_id) AS rn
             |  FROM documents)
             |SELECT rk.source, CAST(MAX(alloc) AS BIGINT) AS alloc,
             |  COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM rk JOIN alloc ON rk.source = alloc.source
             |WHERE rn <= alloc
             |GROUP BY rk.source ORDER BY rk.source""".stripMargin))
  )

  private def q212OracleSql: String =
    """WITH RECURSIVE e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS demand,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events),
             |walk(user_id, rn, bal, n_reorders) AS (
             |  SELECT user_id, 0, 500000000, 0 FROM (SELECT DISTINCT user_id FROM e) u
             |  UNION ALL
             |  SELECT w.user_id, w.rn + 1,
             |    CASE WHEN w.bal - e.demand < 100000000 THEN 500000000
             |         ELSE w.bal - e.demand END,
             |    w.n_reorders + CASE WHEN w.bal - e.demand < 100000000 THEN 1 ELSE 0 END
             |  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
             |SELECT w.user_id, bal AS final_micro, CAST(n_reorders AS BIGINT) AS n_reorders
             |FROM walk w
             |WHERE rn = (SELECT MAX(rn) FROM e e2 WHERE e2.user_id = w.user_id)
             |ORDER BY user_id""".stripMargin
}
