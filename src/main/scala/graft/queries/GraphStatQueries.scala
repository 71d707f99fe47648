package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.ColumnOps.{idiv, ppm}
import graft.model.Tables
import graft.obs.Sessions
import graft.operators.Materialize.pin
import Protocol._

/** Graph-traversal and profile statistics ([EXT], SURVEY §2.2): BFS
  * hop-distance over the co-purchase graph, exact box-plot profiling, and
  * hierarchical contribution shares — the remaining classics of an
  * analyst's toolkit, in the integer-exact determinism protocol.
  */
object GraphStatQueries extends QueryModule {

  override val declared: Seq[Declared] = Seq(

    // q189 — BFS HOP DISTANCE from the minimum-id part over the
    // co-purchase graph (parts sharing an order): per-hop reachable-node
    // counts, plus an unreached bucket at hop -1 when non-empty. The
    // frontier loop is the ConnectedComponents/PageRank recipe: each
    // round is an EQUI join frontier⋈edges on the vertex key + an
    // anti-join against the visited set, pinned so round N's
    // plan never embeds rounds 0..N-1. The fixture graph's diameter is
    // ≤3 at every SF; the oracle unrolls four hops and would mismatch
    // loudly (not silently truncate) if data ever grew a longer path,
    // and maxRounds=50 guards the engine loop the same way.
    //
    // Shape at 100 TB: edges persist once (MEMORY_AND_DISK) and every
    // round reuses the same vertex-keyed partitioning; frontier and
    // visited are node-sized, never edge-sized; no all-pairs anywhere.
    Declared("q189_bfs_hops",
      (s, dir) => {
        import s.implicits._
        // r13: the edge set derives from the shared materialized
        // co-purchase stage (both orientations of the undirected pair
        // table) instead of a private lineitem self-join (guide §2.4).
        // pa-partitioned BEFORE the persist: the cached relation then
        // carries hash(pa) into every round's frontier⋈edges join, so the
        // per-round shuffle is the node-sized frontier only — never the
        // edge table (PlanBudgetSpec's runtime budget pins the total at
        // <150k, below the per-round edge re-shuffle regression).
        val p = SharedStages.copurchasePairs(s, dir)
          .select(col("pa"), col("pb"))
        val e = p
          .unionByName(p.select(col("pb").as("pa"), col("pa").as("pb")))
          .repartition(col("pa"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nodes = e.select(col("pa").as("pk")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        // bounded driver scalar: the source vertex id (a model object,
        // same sanction as IVF centroids)
        val src = nodes.agg(min(col("pk"))).head().getLong(0)
        var visited = pin(Seq((src, 0L)).toDF("pk", "hop"), "q189_visited_0").df
        var frontier = pin(visited.select(col("pk")), "q189_frontier_0").df
        var round = 0L
        var n = 1L
        while (n > 0 && round < 50) {
          round += 1
          // the hop's row count rides its pin job — no separate count()
          val nxt = pin(frontier.join(e, frontier("pk") === e("pa"))
            .select(col("pb").as("pk")).distinct()
            .join(visited, Seq("pk"), "left_anti")
            .withColumn("hop", lit(round)), s"q189_hop_$round")
          n = nxt.rows
          if (n > 0) {
            visited = pin(visited.union(nxt.df), s"q189_visited_$round").df
            frontier = nxt.df.select(col("pk"))
          }
        }
        require(n == 0, s"q189: frontier still non-empty after $round rounds")
        val perHop = visited.groupBy(col("hop")).agg(big(count(lit(1))).as("n_nodes"))
        val unreached = nodes.join(visited, Seq("pk"), "left_anti")
          .agg(lit(-1L).as("hop"), big(count(lit(1))).as("n_nodes"))
          .where(col("n_nodes") > 0)
        perHop.unionByName(unreached).orderBy(col("hop"))
      },
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
             |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |      FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
             |nodes AS (SELECT DISTINCT pa AS pk FROM e),
             |h0 AS (SELECT MIN(pk) AS pk FROM nodes),
             |h1 AS (SELECT DISTINCT pb AS pk FROM e JOIN h0 ON e.pa = h0.pk
             |       WHERE pb NOT IN (SELECT pk FROM h0)),
             |h2 AS (SELECT DISTINCT pb AS pk FROM e JOIN h1 ON e.pa = h1.pk
             |       WHERE pb NOT IN (SELECT pk FROM h0 UNION ALL SELECT pk FROM h1)),
             |h3 AS (SELECT DISTINCT pb AS pk FROM e JOIN h2 ON e.pa = h2.pk
             |       WHERE pb NOT IN (SELECT pk FROM h0 UNION ALL SELECT pk FROM h1
             |                        UNION ALL SELECT pk FROM h2)),
             |reach AS (
             |  SELECT 0 AS hop, pk FROM h0 UNION ALL SELECT 1, pk FROM h1
             |  UNION ALL SELECT 2, pk FROM h2 UNION ALL SELECT 3, pk FROM h3),
             |rep AS (
             |  SELECT CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
             |  FROM reach GROUP BY hop
             |  UNION ALL
             |  SELECT -1, CAST(COUNT(*) AS BIGINT) FROM nodes
             |  WHERE pk NOT IN (SELECT pk FROM reach))
             |SELECT hop, n_nodes FROM rep WHERE n_nodes > 0 ORDER BY hop""".stripMargin)),

    // q190 — EXACT BOX-PLOT PROFILE per event_type over daily totals:
    // lower quartile / median / upper quartile by rank-at-⌈p·n⌉ over one
    // (y, d)-ordered window, IQR, and the Tukey outlier count with the
    // 1.5·IQR fences cross-multiplied to integers (2·y vs 2·q1−3·IQR) —
    // the robust five-number profile with zero floats.
    //
    // Shape at 100 TB: one daily rollup (the only fact shuffle), one
    // event_type-partitioned rank window, a 3-way quartile pick joined
    // back on event_type (counter-sized SMJ), one final aggregate.
    Declared("q190_boxplot",
      (s, dir) => {
        val daily = Tables.load(s, dir, "events")
          .select(col("event_type"),
            idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"),
            (dec(col("value")) * lit(1000000)).cast("long").as("v_micro"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("v_micro")).as("y"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val wo = Window.partitionBy(col("event_type")).orderBy(col("y"), col("d"))
        val wa = Window.partitionBy(col("event_type"))
        val ranked = daily
          .withColumn("rn", row_number().over(wo).cast("long"))
          .withColumn("n", count(lit(1)).over(wa))
        def pick(num: Int, den: Int, out: String) = ranked
          .where(col("rn") === idiv(lit(num.toLong) * col("n") + lit(den - 1L), lit(den.toLong)))
          .select(col("event_type"), col("y").as(out))
        val q = pick(1, 4, "q1").join(pick(1, 2, "med"), "event_type")
          .join(pick(3, 4, "q3"), "event_type")
          .withColumn("iqr", col("q3") - col("q1"))
        daily.join(q, "event_type")
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n_days"),
            max(col("q1")).as("q1_micro"), max(col("med")).as("med_micro"),
            max(col("q3")).as("q3_micro"), max(col("iqr")).as("iqr_micro"),
            sum(when(lit(2L) * col("y") < lit(2L) * col("q1") - lit(3L) * col("iqr") ||
              lit(2L) * col("y") > lit(2L) * col("q3") + lit(3L) * col("iqr"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
             |  FROM events),
             |daily AS (SELECT event_type, d, SUM(v_micro) AS y FROM e GROUP BY event_type, d),
             |rk AS (
             |  SELECT event_type, y,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY y, d) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM daily),
             |qs AS (
             |  SELECT a.event_type, a.y AS q1, b.y AS med, c.y AS q3, c.y - a.y AS iqr
             |  FROM (SELECT event_type, y FROM rk WHERE rn = (1 * n + 3) // 4) a
             |  JOIN (SELECT event_type, y FROM rk WHERE rn = (1 * n + 1) // 2) b USING (event_type)
             |  JOIN (SELECT event_type, y FROM rk WHERE rn = (3 * n + 3) // 4) c USING (event_type))
             |SELECT daily.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             |  MAX(q1) AS q1_micro, MAX(med) AS med_micro, MAX(q3) AS q3_micro,
             |  MAX(iqr) AS iqr_micro,
             |  SUM(CASE WHEN 2 * y < 2 * q1 - 3 * iqr OR 2 * y > 2 * q3 + 3 * iqr
             |           THEN 1 ELSE 0 END) AS n_outliers
             |FROM daily JOIN qs ON daily.event_type = qs.event_type
             |GROUP BY daily.event_type ORDER BY daily.event_type""".stripMargin)),

    // q191 — HIERARCHICAL CONTRIBUTION SHARES: order revenue rolled to
    // nations, each nation's exact ppm share of its REGION and each
    // region's share of the TOTAL — the drill-path percent-of-parent
    // readout. Cent-exact sums; region totals ride a region-partitioned
    // window on the nation-sized rollup; the grand total is a 1-row
    // broadcast.
    //
    // Shape at 100 TB: the fact shuffles ONCE (custkey join + nation
    // rollup); dims broadcast; everything after is ≤ nations rows.
    Declared("q191_share_of_parent",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .select(col("o_custkey"), (dec(col("o_totalprice")) * 100).cast("long").as("cent"))
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val n = Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val r = Tables.load(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))
        val perNation = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(sum(col("cent")).as("nat_cent"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        val wr = Window.partitionBy(col("r_name"))
        val tot = perNation.agg(sum(col("nat_cent")).as("total"))
        perNation
          .withColumn("reg_cent", sum(col("nat_cent")).over(wr))
          .crossJoin(broadcast(tot))
          .select(col("r_name"), col("n_name"), col("nat_cent"),
            ppm(col("nat_cent"), col("reg_cent")).as("share_of_region_ppm"),
            ppm(col("reg_cent"), col("total")).as("region_share_ppm"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""WITH o AS (
             |  SELECT o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cent
             |  FROM orders),
             |pn AS (
             |  SELECT c_nationkey, SUM(cent) AS nat_cent
             |  FROM o JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_nationkey),
             |j AS (
             |  SELECT r_name, n_name, nat_cent,
             |    SUM(nat_cent) OVER (PARTITION BY r_name) AS reg_cent
             |  FROM pn JOIN nation ON c_nationkey = n_nationkey
             |          JOIN region ON n_regionkey = r_regionkey),
             |t AS (SELECT SUM(nat_cent) AS total FROM pn)
             |SELECT r_name, n_name, nat_cent,
             |  1000000 * nat_cent // reg_cent AS share_of_region_ppm,
             |  1000000 * reg_cent // total AS region_share_ppm
             |FROM j, t ORDER BY r_name, n_name""".stripMargin)),

    // q192 — DETERMINISTIC POISSON-STYLE BOOTSTRAP CI for the daily-mean
    // statistic: 200 resamples whose per-day multiplicities (0..2, mean 1)
    // derive from md5(type:day:resample) — a reproducible surrogate for
    // Poisson weights that both engines compute bit-identically (the
    // q25/q32 md5→BIGINT idiom). Each resample's mean is the exact floor
    // ratio Σm·y div Σm; the 90 % CI is rank-at-⌈.05n⌉/⌈.95n⌉ selection
    // over the 200 means. Uncertainty quantification with zero RNG state
    // and zero floats — re-runs and retries can't shift the interval.
    //
    // Shape at 100 TB: the fact aggregates once to (type, day); the
    // resample explode is counters ×B (type×day×200), the mean table is
    // type×200, and the rank windows are type-partitioned. B scales the
    // counter stage linearly and the fact stage not at all.
    Declared("q192_bootstrap_ci",
      (s, dir) => {
        val daily = Tables.load(s, dir, "events")
          .select(col("event_type"),
            idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"),
            (dec(col("value")) * lit(1000000)).cast("long").as("v_micro"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("v_micro")).as("y"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val point = daily.groupBy(col("event_type"))
          .agg(idiv(sum(col("y")), count(lit(1))).as("mean_micro"))
        val means = daily
          .select(col("event_type"), col("d"), col("y"),
            explode(sequence(lit(0L), lit(199L))).as("r"))
          .withColumn("m",
            conv(substring(md5(concat_ws(":", col("event_type"), col("d"), col("r"))), 1, 8),
              16, 10).cast("long") % 3)
          .groupBy(col("event_type"), col("r"))
          .agg(sum(col("m") * col("y")).as("t"), sum(col("m")).as("w"))
          .where(col("w") > 0)
          .withColumn("mean_r", idiv(col("t"), col("w")))
        val wo = Window.partitionBy(col("event_type")).orderBy(col("mean_r"), col("r"))
        val wa = Window.partitionBy(col("event_type"))
        val ranked = means
          .withColumn("rn", row_number().over(wo).cast("long"))
          .withColumn("n", count(lit(1)).over(wa))
        val lo = ranked.where(col("rn") === idiv(col("n") + 19L, lit(20L)))
          .select(col("event_type"), col("mean_r").as("lo_micro"), col("n").as("n_res"))
        val hi = ranked.where(col("rn") === idiv(lit(19L) * col("n") + 19L, lit(20L)))
          .select(col("event_type"), col("mean_r").as("hi_micro"))
        point.join(lo, "event_type").join(hi, "event_type")
          .select(col("event_type"), big(col("n_res")).as("n_res"),
            col("mean_micro"), col("lo_micro"), col("hi_micro"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
             |  FROM events),
             |daily AS (SELECT event_type, d, SUM(v_micro) AS y FROM e GROUP BY event_type, d),
             |pt AS (SELECT event_type, SUM(y) // COUNT(*) AS mean_micro FROM daily GROUP BY event_type),
             |rs AS (
             |  SELECT event_type, d, y, UNNEST(RANGE(0, 200)) AS r FROM daily),
             |wt AS (
             |  SELECT event_type, r,
             |    CAST(('0x' || SUBSTR(md5(event_type || ':' || d || ':' || r), 1, 8)) AS BIGINT) % 3 AS m,
             |    y
             |  FROM rs),
             |mn AS (
             |  SELECT event_type, r, SUM(m * y) // SUM(m) AS mean_r
             |  FROM wt GROUP BY event_type, r HAVING SUM(m) > 0),
             |rk AS (
             |  SELECT event_type, r, mean_r,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mean_r, r) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM mn)
             |SELECT pt.event_type, CAST(MAX(n) AS BIGINT) AS n_res, MAX(mean_micro) AS mean_micro,
             |  MAX(CASE WHEN rn = (n + 19) // 20 THEN mean_r END) AS lo_micro,
             |  MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN mean_r END) AS hi_micro
             |FROM rk JOIN pt ON rk.event_type = pt.event_type
             |GROUP BY pt.event_type ORDER BY pt.event_type""".stripMargin)),

    // q193 — SEASONAL-NAIVE FORECAST EVALUATION: predict each day's total
    // by the SAME WEEKDAY a week earlier (an explicit equi self-join on
    // (type, d−7) — not lag(7), which silently misreads gapped
    // calendars), score with exact MAE and weighted-MAPE over the
    // evaluable days. The baseline every real forecaster must beat,
    // gated to the integer protocol.
    //
    // Shape at 100 TB: one fact rollup, one counter-sized self-join on
    // the day key, one 5-row aggregate.
    Declared("q193_seasonal_naive",
      (s, dir) => {
        val daily = Tables.load(s, dir, "events")
          .select(col("event_type"),
            idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"),
            (dec(col("value")) * lit(1000000)).cast("long").as("v_micro"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("v_micro")).as("y"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pred = daily.select(col("event_type"), (col("d") + 7L).as("d"),
          col("y").as("yhat"))
        daily.join(pred, Seq("event_type", "d"))
          .withColumn("err", abs(col("y") - col("yhat")))
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n_eval"),
            idiv(sum(col("err")), count(lit(1))).as("mae_micro"),
            ppm(sum(col("err")), sum(col("y"))).as("wmape_ppm"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
             |  FROM events),
             |daily AS (SELECT event_type, d, SUM(v_micro) AS y FROM e GROUP BY event_type, d),
             |j AS (
             |  SELECT a.event_type, a.d, a.y, b.y AS yhat
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND b.d = a.d - 7)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
             |  SUM(ABS(y - yhat)) // COUNT(*) AS mae_micro,
             |  1000000 * SUM(ABS(y - yhat)) // SUM(y) AS wmape_ppm
             |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q194 — COMPLEX-EVENT-PROCESSING pattern match (the MATCH_RECOGNIZE
    // shape): each user's time-ordered event stream collapses to an
    // initial-letter tape (listagg WITHIN GROUP — q141's surface), and
    // regex patterns count real behavioral motifs in-row: browse-to-buy
    // (`v{2,}p`: 2+ views then an immediate purchase), impulse buy (`cp`),
    // error storm (`e{2,}`). Non-overlapping left-to-right match counts
    // are engine-identical; output per pattern: users matched + total
    // occurrences.
    //
    // Shape at 100 TB: one user_id exchange for the ordered tape, regex
    // per-row in codegen, a 3-row rollup. The tape is bounded by per-user
    // activity — at warehouse scale key by (user, session/day) to bound
    // the string, same rule q141's roster documents.
    Declared("q194_cep_pattern",
      (s, dir) => {
        val tapes = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            substring(col("event_type"), 1, 1).as("ch"), col("event_id"))
          .groupBy(col("user_id"))
          .agg(expr("listagg(ch, '') within group (order by us, event_id)").as("tape"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pats = Seq("v{2,}p" -> "browse_to_buy", "cp" -> "impulse_buy",
          "e{2,}" -> "error_storm")
        pats.map { case (re, name) =>
          tapes.select(
            lit(name).as("pattern"),
            size(regexp_extract_all(col("tape"), lit(re), lit(0))).cast("long").as("k"))
            .groupBy(col("pattern"))
            .agg(big(sum(when(col("k") > 0, 1L).otherwise(0L))).as("n_users"),
              big(sum(col("k"))).as("n_matches"))
        }.reduce(_.unionByName(_)).orderBy(col("pattern"))
      },
      Some("""WITH t AS (
             |  SELECT user_id,
             |    string_agg(SUBSTR(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id) AS tape
             |  FROM events GROUP BY user_id),
             |m AS (
             |  SELECT 'browse_to_buy' AS pattern, LENGTH(regexp_extract_all(tape, 'v{2,}p')) AS k FROM t
             |  UNION ALL SELECT 'impulse_buy', LENGTH(regexp_extract_all(tape, 'cp')) FROM t
             |  UNION ALL SELECT 'error_storm', LENGTH(regexp_extract_all(tape, 'e{2,}')) FROM t)
             |SELECT pattern, CAST(SUM(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
             |  CAST(SUM(k) AS BIGINT) AS n_matches
             |FROM m GROUP BY pattern ORDER BY pattern""".stripMargin)),

    // q195 — RFM FEATURE EXTRACTION + churn label: the training-table
    // builder for a churn model. Per user: recency (days from last event
    // to the corpus end), frequency (events), monetary (exact µ-total),
    // tenure (first→last span), and the label `churned` = no activity in
    // the final 7 days of the timeline. The corpus end rides a 1-row
    // broadcast; every feature folds into ONE user-keyed aggregate.
    //
    // Shape at 100 TB: one shuffle on user_id, a 1-row broadcast — the
    // canonical wide-feature extraction (contrast q82's curation gate,
    // which filters; this one engineers).
    Declared("q195_rfm_features",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"),
            idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"),
            (dec(col("value")) * lit(1000000)).cast("long").as("v_micro"))
        val end = e.agg(max(col("d")).as("d_end"))
        e.groupBy(col("user_id"))
          .agg(max(col("d")).as("last_d"), min(col("d")).as("first_d"),
            big(count(lit(1))).as("frequency"), sum(col("v_micro")).as("monetary_micro"))
          .crossJoin(broadcast(end))
          .select(col("user_id"),
            (col("d_end") - col("last_d")).as("recency_days"),
            col("frequency"), col("monetary_micro"),
            (col("last_d") - col("first_d")).as("tenure_days"),
            when(col("d_end") - col("last_d") >= 7L, 1L).otherwise(0L).as("churned"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
             |  FROM events),
             |t AS (SELECT MAX(d) AS d_end FROM e),
             |u AS (
             |  SELECT user_id, MAX(d) AS last_d, MIN(d) AS first_d,
             |    CAST(COUNT(*) AS BIGINT) AS frequency, SUM(v_micro) AS monetary_micro
             |  FROM e GROUP BY user_id)
             |SELECT user_id, d_end - last_d AS recency_days, frequency, monetary_micro,
             |  last_d - first_d AS tenure_days,
             |  CAST(CASE WHEN d_end - last_d >= 7 THEN 1 ELSE 0 END AS BIGINT) AS churned
             |FROM u, t ORDER BY user_id""".stripMargin)),

    // q196 — GROWTH ACCOUNTING: the canonical product-analytics ledger.
    // Per epoch-week, every active user is exactly one of NEW (first-ever
    // week), RETAINED (also active the prior week) or RESURRECTED (active
    // before, idle last week); CHURNED counts prior-week actives who went
    // idle. Derived from one distinct (user, week) table full-outer
    // self-joined against its week-shifted copy plus a user-keyed
    // first-week table — the identity new+retained+resurrected = WAU
    // holds by construction and the oracle enforces it.
    //
    // Shape at 100 TB: the fact collapses to distinct (user, week) in one
    // shuffle; the self-join and first-week join are user-keyed
    // counter-sized SMJs; output is weeks-sized.
    Declared("q196_growth_accounting",
      (s, dir) => {
        val aw = Tables.load(s, dir, "events")
          .select(col("user_id").as("u"),
            idiv(idiv(unix_micros(col("ts")), lit(86400000000L)), lit(7L)).as("w"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val first = aw.groupBy(col("u")).agg(min(col("w")).as("f"))
        val prev = aw.select(col("u"), (col("w") + 1L).as("w"), lit(1L).as("was_prev"))
        val maxw = aw.agg(max(col("w")).as("mw"))
        aw.withColumn("is_cur", lit(1L))
          .join(prev, Seq("u", "w"), "full_outer")
          .join(first, Seq("u"))
          .crossJoin(broadcast(maxw))
          .where(col("w") <= col("mw"))
          .groupBy(col("w"))
          .agg(
            big(sum(when(col("is_cur").isNotNull && col("f") === col("w"), 1L)
              .otherwise(0L))).as("new_users"),
            big(sum(when(col("is_cur").isNotNull && col("was_prev").isNotNull, 1L)
              .otherwise(0L))).as("retained"),
            big(sum(when(col("is_cur").isNotNull && col("was_prev").isNull &&
              col("f") < col("w"), 1L).otherwise(0L))).as("resurrected"),
            big(sum(when(col("is_cur").isNull && col("was_prev").isNotNull, 1L)
              .otherwise(0L))).as("churned"))
          .orderBy(col("w"))
      },
      Some("""WITH aw AS (
             |  SELECT DISTINCT user_id AS u, (epoch_us(ts) // 86400000000) // 7 AS w
             |  FROM events),
             |f AS (SELECT u, MIN(w) AS f FROM aw GROUP BY u),
             |pv AS (SELECT u, w + 1 AS w, 1 AS was_prev FROM aw),
             |cur AS (SELECT u, w, 1 AS is_cur FROM aw),
             |j AS (
             |  SELECT COALESCE(cur.u, pv.u) AS u, COALESCE(cur.w, pv.w) AS w,
             |    is_cur, was_prev
             |  FROM cur FULL OUTER JOIN pv ON cur.u = pv.u AND cur.w = pv.w),
             |t AS (SELECT MAX(w) AS mw FROM aw)
             |SELECT w,
             |  CAST(SUM(CASE WHEN is_cur IS NOT NULL AND f.f = w THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
             |  CAST(SUM(CASE WHEN is_cur IS NOT NULL AND was_prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained,
             |  CAST(SUM(CASE WHEN is_cur IS NOT NULL AND was_prev IS NULL AND f.f < w THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
             |  CAST(SUM(CASE WHEN is_cur IS NULL AND was_prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned
             |FROM j JOIN f ON j.u = f.u, t
             |WHERE w <= mw
             |GROUP BY w ORDER BY w""".stripMargin)),

    // q197 — ACTIVITY CONCENTRATION CURVE: users ranked by event count
    // into global deciles (GlobalRank's range-partitioned NTILE — no
    // partition-less window), each decile's exact share of all events in
    // ppm. The "top 10 % of users produce X % of traffic" readout that
    // pairs with q166's Gini scalar.
    //
    // Shape at 100 TB: one user-keyed count aggregate, ONE range shuffle
    // for the global tiling, a 10-row rollup + 1-row broadcast total.
    Declared("q197_decile_share",
      (s, dir) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
        val tiled = graft.operators.GlobalRank.withRankColumns(
          perUser, Seq(col("x").desc, col("user_id")), tiles = 10)
        val tot = perUser.agg(sum(col("x")).as("total"))
        tiled.groupBy(col("tile"))
          .agg(big(count(lit(1))).as("n_users"), sum(col("x")).as("events"))
          .crossJoin(broadcast(tot))
          .select(col("tile").as("decile"), col("n_users"), col("events"),
            ppm(col("events"), col("total")).as("share_ppm"))
          .orderBy(col("decile"))
      },
      Some("""WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY user_id),
             |tl AS (
             |  SELECT x, NTILE(10) OVER (ORDER BY x DESC, user_id) AS decile FROM pu),
             |t AS (SELECT SUM(x) AS total FROM pu)
             |SELECT CAST(decile AS BIGINT) AS decile, CAST(COUNT(*) AS BIGINT) AS n_users,
             |  SUM(x) AS events, 1000000 * SUM(x) // MAX(total) AS share_ppm
             |FROM tl, t GROUP BY decile ORDER BY decile""".stripMargin)),

    // q198 — CHI-SQUARE INDEPENDENCE CELLS for event_type × weekday: the
    // contingency table with exact expected counts (10⁶·r·c div N µ-units)
    // and the scaled absolute deviation |10⁶·(o·N − r·c)| div N per cell —
    // the test-of-independence readout ("do error events cluster on
    // specific weekdays?") without a single float. Row/column totals ride
    // type-/dow-partitioned windows on the 35-cell table; N is a 1-row
    // broadcast.
    //
    // Shape at 100 TB: ONE (type, dow) aggregate over the fact; the
    // window/broadcast machinery runs on ≤ types×7 rows.
    Declared("q198_chi2_cells",
      (s, dir) => {
        val cells = Tables.load(s, dir, "events")
          .select(col("event_type"),
            pmod(idiv(unix_micros(col("ts")), lit(86400000000L)), lit(7L)).as("dow"))
          .groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("o"))
        val wr = Window.partitionBy(col("event_type"))
        val wc = Window.partitionBy(col("dow"))
        val tot = cells.agg(sum(col("o")).as("n"))
        cells
          .withColumn("r", sum(col("o")).over(wr))
          .withColumn("c", sum(col("o")).over(wc))
          .crossJoin(broadcast(tot))
          .select(col("event_type"), col("dow"), big(col("o")).as("o"),
            ppm(col("r") * col("c"), col("n")).as("exp_micro"),
            idiv(abs(lit(1000000L) * (col("o") * col("n") - col("r") * col("c"))),
              col("n")).as("dev_micro"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow FROM events),
             |cells AS (
             |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM e GROUP BY event_type, dow),
             |wt AS (
             |  SELECT event_type, dow, o,
             |    SUM(o) OVER (PARTITION BY event_type) AS r,
             |    SUM(o) OVER (PARTITION BY dow) AS c
             |  FROM cells),
             |t AS (SELECT SUM(o) AS n FROM cells)
             |SELECT event_type, dow, o,
             |  1000000 * r * c // n AS exp_micro,
             |  ABS(1000000 * (o * n - r * c)) // n AS dev_micro
             |FROM wt, t ORDER BY event_type, dow""".stripMargin)),

    // q199 — WINSORIZED MEAN per event_type: clamp the value tape at the
    // exact p5/p95 rank-selected cut points, then average — the standard
    // outlier-robust preprocessing before model features (q188 flags
    // outlier DAYS; this tames outlier VALUES). Cuts by rank-at-⌈p·n⌉
    // over one type-partitioned window; the clamp and the final ratio are
    // row-local integer ops.
    //
    // Shape at 100 TB: one type-partitioned rank window over the tape
    // (the only big sort — day-partitioned input makes it partition-
    // local), a counter-sized cut join, one aggregate.
    Declared("q199_winsorized_mean",
      (s, dir) => {
        val vals = Tables.load(s, dir, "events")
          .select(col("event_type"),
            (dec(col("value")) * lit(1000000)).cast("long").as("v"),
            col("event_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val wo = Window.partitionBy(col("event_type")).orderBy(col("v"), col("event_id"))
        val wa = Window.partitionBy(col("event_type"))
        val ranked = vals
          .withColumn("rn", row_number().over(wo).cast("long"))
          .withColumn("n", count(lit(1)).over(wa))
        def cut(num: Int, den: Int, out: String) = ranked
          .where(col("rn") === idiv(lit(num.toLong) * col("n") + lit(den - 1L), lit(den.toLong)))
          .select(col("event_type"), col("v").as(out))
        val cuts = cut(1, 20, "lo").join(cut(19, 20, "hi"), "event_type")
        vals.join(cuts, "event_type")
          .withColumn("w", greatest(least(col("v"), col("hi")), col("lo")))
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n"),
            idiv(sum(col("v")), count(lit(1))).as("raw_mean_micro"),
            idiv(sum(col("w")), count(lit(1))).as("wins_mean_micro"),
            max(col("lo")).as("p5_micro"), max(col("hi")).as("p95_micro"))
          .orderBy(col("event_type"))
      },
      Some("""WITH v AS (
             |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
             |    event_id
             |  FROM events),
             |rk AS (
             |  SELECT event_type, v,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM v),
             |cuts AS (
             |  SELECT a.event_type, a.v AS lo, b.v AS hi
             |  FROM (SELECT event_type, v FROM rk WHERE rn = (1 * n + 19) // 20) a
             |  JOIN (SELECT event_type, v FROM rk WHERE rn = (19 * n + 19) // 20) b USING (event_type))
             |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  SUM(v.v) // COUNT(*) AS raw_mean_micro,
             |  SUM(GREATEST(LEAST(v.v, hi), lo)) // COUNT(*) AS wins_mean_micro,
             |  MAX(lo) AS p5_micro, MAX(hi) AS p95_micro
             |FROM v JOIN cuts ON v.event_type = cuts.event_type
             |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin)),

    // q205 — K-CORE DECOMPOSITION (k = 2) of the REPEATED-co-purchase
    // graph (parts co-ordered in ≥ 2 distinct orders — the ≥2 support
    // threshold keeps the graph sparse enough that peeling actually
    // cascades; the raw co-purchase graph's min degree is ~40 and every
    // k ≤ that is trivially the whole graph). Iteratively strip nodes
    // with in-core degree < k to the fixpoint; output each surviving
    // node with its core degree. The oracle unrolls 16 peel rounds as
    // MATERIALIZED CTEs and carries a CONVERGENCE CANARY column
    // (|r15| = |r16|): if data ever grew a peel chain longer than the
    // unroll, the canary flips false and the gate fails LOUDLY (the
    // q189 maxRounds discipline, applied to the oracle side); the
    // engine loop independently guards rounds < 40.
    //
    // Shape at 100 TB: the support-2 edge build is the q189 equi-join;
    // each peel round is two equi semi-joins frontier⋈edges + a
    // counter aggregate, pinned so round N's plan never
    // embeds rounds 0..N-1; node sets only shrink. Peel rounds for a
    // power-law graph are O(degeneracy) — single digits in practice.
    Declared("q205_kcore",
      (s, dir) => {
        val k = 2
        // r13: co-purchase edges with their support come straight from the
        // shared materialized pair stage — supp is symmetric, so filtering
        // the undirected table then unioning both orientations is the same
        // edge set the private self-join built (guide §2.4).
        val p = SharedStages.copurchasePairs(s, dir)
          .where(col("supp") >= 2)
          .select(col("pa"), col("pb"))
        val e = p
          .unionByName(p.select(col("pb").as("pa"), col("pa").as("pb")))
        // The loop state is the LIVE EDGE SET, not the node set: because
        // cur only ever shrinks, an edge whose endpoints both survive
        // round n+1 also survived round n — so each round filters the
        // (shrinking) live set, never re-touching the full edge table.
        // The previous formulation re-joined full `e` against cur every
        // round: per-round work stayed edge-table-sized at any scale.
        // Edges are symmetric (both directions present), so endpoint
        // filtering is two semi joins and the degree count groups by pa.
        var live = pin(e, "q205_live_0").df
        var n = -1L
        var changed = true
        var rounds = 0
        while (changed && rounds < 40) {
          rounds += 1
          val cur = live
            .groupBy(col("pa")).agg(count(lit(1)).as("d"))
            .where(col("d") >= k)
            .select(col("pa").as("pk"))
          // the live-edge count rides the pin job — no separate count()
          val nxt = pin(live
            .join(cur, live("pa") === cur("pk"), "left_semi")
            .join(cur.withColumnRenamed("pk", "pkb"),
              live("pb") === col("pkb"), "left_semi"), s"q205_live_$rounds")
          changed = nxt.rows != n
          live = nxt.df
          n = nxt.rows
        }
        require(rounds < 40, "q205: k-core peel did not converge in 40 rounds")
        live.groupBy(col("pa").as("pk"))
          .agg(big(count(lit(1))).as("core_deg"))
          .where(col("core_deg") >= k)
          .withColumn("converged", lit(true))
          .orderBy(col("pk"))
      },
      Some(kcoreOracle(k = 2, unroll = 16))),

    // q211 — DEGREE DISTRIBUTION of the co-purchase graph in power-of-two
    // buckets: the first diagnostic anyone runs on a graph before picking
    // join/skew strategy (is it power-law? where's the hub tail?).
    // Bucket = ⌊log₂ deg⌋ + 1 computed EXACTLY as length(bin(deg)) — both
    // engines render BIGINT binary identically, no float log anywhere.
    //
    // Shape at 100 TB: edge build as q189, then one degree aggregate
    // (node-sized) and one ≤64-group histogram rollup — counters after
    // the first aggregate.
    Declared("q211_degree_histogram",
      (s, dir) => {
        // r13: degree = number of pairs containing the vertex — one
        // explode of the shared undirected pair stage (each pair
        // contributes once to each endpoint), no private self-join and no
        // global pair distinct (guide §2.4).
        val deg = SharedStages.copurchasePairs(s, dir)
          .select(explode(array(col("pa"), col("pb"))).as("pa"))
          .groupBy(col("pa")).agg(count(lit(1)).as("deg"))
        deg.groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
          .agg(big(count(lit(1))).as("n_nodes"),
            min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
          .orderBy(col("bucket"))
      },
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
             |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |      FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
             |deg AS (SELECT pa, COUNT(*) AS deg FROM e GROUP BY pa)
             |SELECT CAST(LENGTH(bin(deg)) AS BIGINT) AS bucket,
             |  COUNT(*) AS n_nodes, MIN(deg) AS min_deg, MAX(deg) AS max_deg
             |FROM deg GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // q221 — BEHAVIORAL NEAREST NEIGHBOR: for the 20 most active users,
    // the user whose event TAPE (q194's initial-letter listagg) is
    // closest by edit distance — sequence-aware similarity that bag-of-
    // events measures can't see (order matters: 'vvp' ≠ 'pvv'). Top-20
    // selection is orderBy+limit (TakeOrderedAndProject — the sanctioned
    // global top-k, no window); the pair frame is 20×19 broadcast rows;
    // the nearest pick is a user-partitioned window. Ties break to the
    // smaller neighbor id.
    //
    // Shape at 100 TB: ONE user exchange builds the tapes; distance work
    // is bounded by the top-k choice (k² pairs), never corpus².
    Declared("q221_behavior_nn",
      (s, dir) => {
        val tapes = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            substring(col("event_type"), 1, 1).as("ch"), col("event_id"))
          .groupBy(col("user_id"))
          .agg(expr("listagg(ch, '') within group (order by us, event_id)").as("tape"),
            count(lit(1)).as("cnt"))
        val top = tapes.orderBy(col("cnt").desc, col("user_id")).limit(20)
          .select(col("user_id"), col("tape"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = top.as("a").join(broadcast(top.as("b")),
            col("a.user_id") =!= col("b.user_id"))
          .select(col("a.user_id").as("user_id"), col("b.user_id").as("nn"),
            big(levenshtein(col("a.tape"), col("b.tape"))).as("dist"),
            big(length(col("a.tape"))).as("tape_len"))
        val pick = Window.partitionBy(col("user_id"))
          .orderBy(col("dist"), col("nn"))
        pairs.withColumn("rn", row_number().over(pick))
          .where(col("rn") === 1)
          .select(col("user_id"), col("nn"), col("dist"), col("tape_len"))
          .orderBy(col("user_id"))
      },
      Some("""WITH t AS (
             |  SELECT user_id,
             |    string_agg(SUBSTR(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id) AS tape,
             |    COUNT(*) AS cnt
             |  FROM events GROUP BY user_id),
             |top AS (SELECT user_id, tape FROM t ORDER BY cnt DESC, user_id LIMIT 20),
             |p AS (
             |  SELECT a.user_id, b.user_id AS nn,
             |    CAST(levenshtein(a.tape, b.tape) AS BIGINT) AS dist,
             |    CAST(LENGTH(a.tape) AS BIGINT) AS tape_len
             |  FROM top a JOIN top b ON a.user_id <> b.user_id),
             |r AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dist, nn) AS rn
             |  FROM p)
             |SELECT user_id, nn, dist, tape_len FROM r WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // q250 — INCREMENTAL connected components over STREAMING edge
    // insertions (distributed union-find): the component map maintained
    // batch-by-batch through IncrementalCC.ccSink — contract batch edges
    // through current reps, run pointer-doubling CC on the CONTRACTED
    // graph only (batch + touched components, never the accumulated
    // graph), relabel through the touched-component-sized remap, publish
    // versioned. The maintained rep is the component's min node id under
    // ANY batch split, so the batch CC oracle (the q60 recursive-closure
    // pattern) gates it directly. Edge stream: every 17th event derives a
    // deterministic (u, v) pair on a 997-node id space.
    Declared("q250_stream_incremental_cc",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val edges = Tables.load(s, dir, "events")
          .filter(col("event_id") % 17 === 0)
          .select((col("event_id") % 997).as("u"),
            ((col("event_id") * 31 + 7) % 997).as("v"))
        val base = SharedStages.scratchDir("q250")
        val (src, st, ck) = (s"$base/src", s"$base/state", s"$base/ck")
        edges.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(edges.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(graft.streaming.IncrementalCC.ccSink(st))
            .start()
          q.awaitTermination()
        }
        graft.streaming.VersionedView.read(s, st).get
          .select(col("node"), col("rep"))
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE e0 AS (
             |  SELECT event_id % 997 AS u, (event_id * 31 + 7) % 997 AS v
             |  FROM events WHERE event_id % 17 = 0),
             |e1 AS (SELECT u, v FROM e0 WHERE u <> v),
             |edges AS (SELECT u, v FROM e1 UNION SELECT v, u FROM e1),
             |reach(n, r) AS (
             |  SELECT DISTINCT u, u FROM edges
             |  UNION
             |  SELECT e.u, rch.r FROM edges e JOIN reach rch ON rch.n = e.v)
             |SELECT n AS node, CAST(MIN(r) AS BIGINT) AS rep
             |FROM reach GROUP BY n ORDER BY node""".stripMargin)),

    // q252 — FULLY-DYNAMIC streaming connected components: q250 widened to
    // edge DELETIONS through IncrementalCC.ccDeleteSink. A deletion can
    // SPLIT a component — undoable by no union-find — so the sink keeps a
    // second versioned view, the live edge multiset with NET counts
    // (I=+1, D=−1, no clamp: the final map is a pure function of final
    // counts, identical under ANY batch split), and rebuilds only TOUCHED
    // components (live edges incident to split endpoints, untouched
    // components contracted to their reps). Change stream: every 13th
    // event emits a link of a 997-cycle (u = event_id % 997, v = u+1 mod
    // 997), every 4th change is a DELETE — cycle links die when their net
    // count drains, splitting the ring into arcs; the recursive oracle
    // recomputes CC over exactly the net-live multiset.
    Declared("q252_stream_cc_deletes",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val changes = Tables.load(s, dir, "events")
          .filter(col("event_id") % 13 === 0)
          .select((col("event_id") % 997).as("u"),
            ((col("event_id") % 997) + 1) % 997 as "v",
            when(expr("(event_id div 13) % 4") === 0, lit("D"))
              .otherwise(lit("I")).as("op"))
        val base = SharedStages.scratchDir("q252")
        val (src, st, es, ck) = (s"$base/src", s"$base/state", s"$base/edges", s"$base/ck")
        changes.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(graft.streaming.IncrementalCC.ccDeleteSink(st, es))
            .start()
          q.awaitTermination()
        }
        graft.streaming.VersionedView.read(s, st).get
          .select(col("node"), col("rep"))
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE ch AS (
             |  SELECT event_id % 997 AS p,
             |    CASE WHEN (event_id // 13) % 4 = 0 THEN -1 ELSE 1 END AS d
             |  FROM events WHERE event_id % 13 = 0),
             |e0 AS (
             |  SELECT LEAST(p, (p + 1) % 997) AS a,
             |         GREATEST(p, (p + 1) % 997) AS b, SUM(d) AS cnt
             |  FROM ch GROUP BY 1, 2 HAVING SUM(d) > 0),
             |edges AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |reach(n, r) AS (
             |  SELECT DISTINCT u, u FROM edges
             |  UNION
             |  SELECT e.u, rch.r FROM edges e JOIN reach rch ON rch.n = e.v)
             |SELECT n AS node, CAST(MIN(r) AS BIGINT) AS rep
             |FROM reach GROUP BY n ORDER BY node""".stripMargin))
  )

  /** Programmatically-unrolled k-core oracle: 16 MATERIALIZED peel rounds
    * (DuckDB would otherwise inline each doubly-referenced CTE and the
    * expansion would go exponential) + the convergence canary.
    */
  private def kcoreOracle(k: Int, unroll: Int): String = {
    val head =
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT a.pk AS pa, b.pk AS pb FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk
         |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
         |r0 AS MATERIALIZED (SELECT DISTINCT pa AS pk FROM e)""".stripMargin
    val rounds = (1 to unroll).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT pa AS pk FROM e
         |  WHERE pa IN (SELECT pk FROM r${i - 1}) AND pb IN (SELECT pk FROM r${i - 1})
         |  GROUP BY pa HAVING COUNT(*) >= $k)""".stripMargin
    }
    (Seq(head) ++ rounds).mkString(",\n") +
      s""",
         |deg AS (
         |  SELECT pa AS pk, COUNT(*) AS core_deg FROM e
         |  WHERE pa IN (SELECT pk FROM r$unroll) AND pb IN (SELECT pk FROM r$unroll)
         |  GROUP BY pa)
         |SELECT pk, core_deg,
         |  (SELECT COUNT(*) FROM r${unroll - 1}) = (SELECT COUNT(*) FROM r$unroll) AS converged
         |FROM deg ORDER BY pk""".stripMargin
  }
}
