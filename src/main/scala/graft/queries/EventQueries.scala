package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.idiv
import graft.model.Tables
import graft.obs.Sessions
import Protocol._

/** Declared queries over the `events` table — the batch mirror of the
  * reference's streaming core.
  *
  * Q22 is literally the reference's 1-minute tumbling window
  * (`main.py:36-47`: bucket id `int(T/60000)`, per-bucket file) re-expressed
  * as a grouped aggregate; Q23 is sessionization (gaps-and-islands), the
  * stateful generalization the reference never had.
  */
object EventQueries extends QueryModule {

  /** q244/q245 shared stage: the CDC change stream replayed ONCE per
    * (session, dir) through retractMinMaxSink; both consumers read the
    * materialized live-value index (`<dir>/idx`) — the leaderboard and the
    * min/max are two READS of one maintained state, which is the point of
    * maintaining it.
    */
  private def retractIdx(s: SparkSession, dir: String): String =
    SharedStages.materializePath(s, dir, "retract-idx") { out =>
      import org.apache.spark.sql.streaming.Trigger
      val changes = Tables.load(s, dir, "events")
        .select((col("user_id") % 500).as("k"), col("ts"), col("event_id"),
          col("value"),
          when(col("event_id") % 11 === 0, "D").otherwise("U").as("op"))
      val (src, st, idx, ck) =
        (s"$out/src", s"$out/state", s"$out/idx", s"$out/ck")
      changes.repartition(4).write.mode("overwrite").parquet(src)
      Sessions.withConf(s, SharedStages.ReplayConf) { c =>
        val q = c.readStream.schema(changes.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck)
          .foreachBatch(graft.streaming.VersionedView.retractMinMaxSink(
            st, idx, Seq("k"), Seq("ts", "event_id"), "op",
            groupCol = col("k") % 50,
            valueMicro = (dec(col("value")) * 1000000L).cast("long")))
          .start()
        q.awaitTermination()
      }
    }

  override val declared: Seq[Declared] = Seq(

    // Q22 — reference-mirror tumbling 1-minute window.
    Declared("q22_tumbling_window",
      (s, dir) => {
        Tables.load(s, dir, "events")
          .groupBy(tsec(date_trunc("minute", col("ts"))).as("w"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            out6(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("w"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q23 — sessionization: a new session starts when the gap to the previous
    // event of the same user exceeds 30 minutes. Gap comparison is done in
    // exact epoch-microseconds in both engines.
    Declared("q23_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_sess", when(col("gap_us") > 1800000000L, 1).otherwise(0))
          .groupBy(col("user_id"))
          .agg((lit(1) + sum(col("new_sess"))).cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
             |  CAST(1 + SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  COUNT(*) AS n_events
             |FROM (
             |  SELECT user_id, event_id, ts,
             |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events
             |)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q58 — event-time RANGE frame: per user, count and average of `value`
    // over the events in the PRECEDING 10 minutes (inclusive), ordered by
    // second-truncated epoch. A RANGE frame is a different physical window
    // than q17's ROWS frame: the boundary is a value predicate on the order
    // key (peers at the same second share one frame), not a row offset —
    // deterministic without a tiebreaker. Truncation to whole seconds is
    // explicit on BOTH sides: Spark's unix_seconds floors; DuckDB's
    // epoch(ts) would keep fractional seconds and shift boundaries.
    Declared("q58_time_range_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_seconds(col("ts")))
          .rangeBetween(-600, 0)
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            dec(col("value")).as("v"))
          .select(col("user_id"), col("event_id"),
            big(count(lit(1)).over(w)).as("n_win"),
            out6(sum(col("v")).over(w) / count(lit(1)).over(w)).as("avg_10m"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w / COUNT(*) OVER w, 6) AS DECIMAL(18,6)) AS avg_10m
             |FROM events
             |WINDOW w AS (PARTITION BY user_id
             |  ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
             |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // q66 — the STREAMING half of the engine under the DuckDB gate: q22's
    // tumbling-window semantics executed through the real Structured
    // Streaming path (file micro-batch source → windowed streaming
    // aggregation → foreachBatch parquet sink → read back), hash-matched
    // against the SAME oracle as batch q22. The events table is replayed as
    // 4 parquet files at one file per trigger, so the aggregation genuinely
    // runs incrementally across micro-batches (reference semantic:
    // `main.py:36-47` + `lambda_function.py:26`).
    //
    // Output mode is `complete` + overwrite because this is a bounded
    // REPLAY: at end-of-input the watermark never passes the last window, so
    // `append` would withhold it forever — a liveness property of unbounded
    // streams, not a correctness property of this harness. The production
    // unbounded twin (append + watermark + idempotent batch sink) is
    // Ingest.windowedTsvSink / Loader.writeBatchIdempotent, ScalaTest-
    // covered; foreachBatch-overwrite here is the same idempotent-sink
    // pattern (a Lambda retry = batch replay = same files rewritten).
    Declared("q66_stream_tumbling",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val events = Tables.load(s, dir, "events")
          .select(col("ts"), col("event_type"), col("value"))
        val base = SharedStages.scratchDir("q66")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        events.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
          val agg = stream
            .groupBy(window(col("ts"), "1 minute"), col("event_type"))
            .agg(count(lit(1)).as("n"), out6(sum(dec(col("value")))).as("sum_value"))
            .select(tsec(col("window").getField("start")).as("w"),
              col("event_type"), col("n"), col("sum_value"))
          val q = agg.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out).orderBy(col("w"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q70 — STREAMING STATEFUL DEDUP under the gate: the documents table
    // replayed as 4 micro-batches through `dropDuplicates` (state = seen
    // md5 keys, carried ACROSS batches), first-seen rows appended to the
    // sink. Which member of a duplicate group is kept is not deterministic
    // under parallel replay, so the declared result is the invariant pair
    // the oracle can pin: the sink holds exactly one row per distinct text
    // (n_kept) and no key twice (n_distinct == n_kept). A dropped key or a
    // cross-batch duplicate breaks the hash. Unbounded state is fine for a
    // bounded replay; the watermark-bounded production twin is
    // Stateful.dedupAgainstCorpus / dropDuplicatesWithinWatermark
    // (StatefulSpec).
    Declared("q70_stream_dedup",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("h"))
        val base = SharedStages.scratchDir("q70")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .dropDuplicates("h")
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out)
          .agg(big(count(lit(1))).as("n_kept"),
            big(countDistinct(col("h"))).as("n_distinct"))
      },
      Some("""SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_kept,
             |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
             |FROM documents""".stripMargin)),

    // q71 — STREAM-STATIC JOIN under the gate: events replayed as 4
    // micro-batches, each batch equi-joined (stateless, map-side vs the
    // broadcastable static side) to a BATCH-computed per-user dimension,
    // enriched rows appended to the sink, read back and aggregated. The
    // oracle is the plain batch join — so a dropped batch, a double-join or
    // a dim mismatch breaks the hash. Reference semantic: enriching the
    // tick stream against the warehouse dimension at load time.
    Declared("q71_stream_static_join",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"))
        // The static side of a stream-static join is RE-EXECUTED every
        // micro-batch; left as a lazy aggregate it would re-scan and
        // re-shuffle the full events table once per trigger (4× here,
        // unbounded in production). Persist + materialize BEFORE the stream
        // starts, so each trigger joins against the cached dim — the same
        // discipline a deployment applies by landing the dim to a table.
        val userDim = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("user_events")).persist()
        userDim.count()
        val base = SharedStages.scratchDir("q71")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        ev.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .join(userDim, "user_id")
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        userDim.unpersist() // sink is landed; the read-back below never re-joins
        s.read.parquet(out)
          .groupBy(col("user_id"), col("user_events"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("user_id"))
      },
      Some("""WITH dim AS (SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id)
             |SELECT e.user_id, CAST(dim.user_events AS BIGINT) AS user_events,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events e JOIN dim USING (user_id)
             |GROUP BY e.user_id, dim.user_events ORDER BY e.user_id""".stripMargin)),

    // q75 — sequential conversion FUNNEL (view → click → purchase, strictly
    // later at each step): per user, the first view, the first click after
    // it, the first purchase after that; emitted as per-stage user counts.
    // The classic ordered-event product query a tick/event store serves.
    //
    // Shape at 100 TB: every stage is a conditional min keyed on user_id —
    // the three aggs and both joins share ONE hash partitioning on user_id,
    // so after the first exchange the whole chain is co-partitioned
    // (Exchange reuse + AQE keep it to one shuffle of each filtered leg);
    // stage tables shrink monotonically, and the final counts are 1-row
    // aggregates unioned driver-free.
    Declared("q75_funnel",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        def stage(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(big(count(lit(1))).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        stage(v, "1_view")
          .unionByName(stage(c, "2_click_after_view"))
          .unionByName(stage(p, "3_purchase_after_click"))
          .orderBy(col("stage"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
             |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
             |SELECT stage, n_users FROM (
             |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
             |  UNION ALL SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
             |  UNION ALL SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p)
             |ORDER BY stage""".stripMargin)),

    // q76 — STREAMING SESSION WINDOWS under the gate: events replayed as 4
    // micro-batches through `session_window(ts, '30 minutes')` state (the
    // q66 harness shape), per-user session count + event totals read back
    // from the sink. Boundary semantics: session_window starts a NEW
    // session when gap >= 30 min EXACTLY (the merge test is ts <
    // sessionEnd), so the batch oracle's gaps-and-islands uses >=, one
    // stricter than q23's > (the fixtures contain no exact-30-min gap —
    // verified at all three SFs — but the oracle must encode the operator's
    // true contract, not the fixture's luck).
    Declared("q76_stream_session",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val events = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"))
        val base = SharedStages.scratchDir("q76")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        events.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val agg = c.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"))
          val q = agg.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out)
          .groupBy(col("user_id"))
          .agg(big(count(lit(1))).as("n_sessions"), big(sum(col("n_events"))).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
             |  CAST(1 + SUM(CASE WHEN gap_us >= 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  COUNT(*) AS n_events
             |FROM (
             |  SELECT user_id, ts,
             |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |  FROM events
             |)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q92 — INCREMENTAL MATERIALIZED ROLLUP (streaming upsert view): the
    // q22 tumbling rollup maintained as a keyed TABLE by update-mode
    // micro-batches — each trigger emits ONLY the (w, event_type) groups
    // it changed, and foreachBatch MERGEs them into the view (anti-join
    // out the stale versions, union the new). Unlike q66's complete-mode
    // harness, the streaming side's emit is proportional to the CHANGED
    // groups; the merge rewrite is proportional to the VIEW, which is
    // counter-sized (windows × types), never fact-sized — the shape an
    // always-on rollup view needs. A replayed batch re-merges to the same
    // bytes (idempotent upsert). On a warehouse this foreachBatch body is
    // one MERGE INTO keyed on (w, event_type). Same q22 oracle.
    Declared("q92_stream_rollup_merge",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val events = Tables.load(s, dir, "events")
          .select(col("ts"), col("event_type"), col("value"))
        val base = SharedStages.scratchDir("q92")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        events.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val agg = c.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .groupBy(window(col("ts"), "1 minute"), col("event_type"))
            .agg(count(lit(1)).as("n"), out6(sum(dec(col("value")))).as("sum_value"))
            .select(tsec(col("window").getField("start")).as("w"),
              col("event_type"), col("n"), col("sum_value"))
          val q = agg.writeStream
            .outputMode("update")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(SharedStages.latestRowMergeSink(out, Seq("w", "event_type")))
            .start()
          q.awaitTermination()
        }
        graft.streaming.VersionedView.read(s, out).get
          .select(col("w"), col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("w"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q93 — STREAM-STREAM AS-OF JOIN under the gate: q36's click↔view
    // lookup executed through Stateful.asOfJoinStream (flatMapGroups-
    // WithState: watermark-gated emission, per-key bounded buffers) and
    // hash-matched against the SAME DuckDB ASOF oracle as batch q36.
    // Replay: clicks and views interleave as ONE union stream bucketed by
    // event_id across 4 files (event time and arrival order fully
    // decoupled), one file per trigger; a far-future pusher row written
    // LAST (newer modTime → final trigger) advances the watermark so
    // event-time timers flush every pending probe. The watermark delay
    // spans the whole fixture — nothing is late, so the streaming result
    // must equal the batch oracle row-for-row.
    Declared("q93_stream_asof",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Tables.load(s, dir, "events")
        val asofEv = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id").cast("string").as("key"), col("ts"),
            when(col("event_type") === "click", lit(1)).otherwise(lit(0))
              .cast("byte").as("side"),
            col("event_id").as("id"), col("value").as("v"))
        val base = SharedStages.scratchDir("q93")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        val fs = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(src))
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val tmp = s"$base/tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
            .head.getPath
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
        }
        (0 until 4).foreach(i => writeOne(asofEv.filter(pmod(col("id"), lit(4)) === i), s"data_$i"))
        // the pusher: its own key, event time one delay-unit past the max —
        // modTime must be newest (the source replays oldest-first)
        Thread.sleep(1200)
        val maxTs = asofEv.agg(max(col("ts"))).head().getTimestamp(0)
        val pusher = {
          import s.implicits._
          Seq(("zz~pusher", new java.sql.Timestamp(maxTs.getTime + 87601L * 3600 * 1000),
            0.toByte, 0L, 0.0)).toDF("key", "ts", "side", "id", "v")
        }
        writeOne(pusher, "zz_pusher")
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.schema(asofEv.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[graft.streaming.Stateful.AsOfEv](
              org.apache.spark.sql.Encoders.product[graft.streaming.Stateful.AsOfEv])
          val q = graft.streaming.Stateful.asOfJoinStream(stream, delay = "87600 hours")
            .toDF()
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out)
          .select(col("id").as("event_id"), col("key").cast("long").as("user_id"),
            tmicro(timestamp_micros(col("tsUs"))).as("ts"),
            tmicro(timestamp_micros(col("mTsUs"))).as("view_ts"),
            out6(dec(col("mV"))).as("view_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH v AS (SELECT user_id, ts, max_by(value, event_id) AS v_value
             |          FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
             |     c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
             |SELECT c.event_id, c.user_id,
             |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
             |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
             |  CAST(ROUND(CAST(v.v_value AS DECIMAL(18,6)), 6) AS DECIMAL(18,6)) AS view_value
             |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
             |ORDER BY c.event_id""".stripMargin)),

    // q85 — STREAMING SLIDING WINDOWS under the gate: q45's 10-minute
    // window / 1-minute slide executed through the real Structured
    // Streaming path (the q66 harness shape — file micro-batch replay →
    // windowed streaming aggregation with overlap state → foreachBatch
    // sink → read back), hash-matched against the SAME oracle as batch
    // q45. Every event updates 10 window states across micro-batches;
    // a slide misassignment or a window dropped at a batch boundary
    // breaks the hash.
    Declared("q85_stream_sliding",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val events = Tables.load(s, dir, "events")
          .select(col("ts"), col("event_type"))
        val base = SharedStages.scratchDir("q85")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        events.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val agg = c.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .groupBy(window(col("ts"), "10 minutes", "1 minute").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(tsec(col("w").getField("start")).as("w_start"),
              col("event_type"), col("n"))
          val q = agg.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out).orderBy(col("w_start"), col("event_type"))
      },
      Some("""SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, COUNT(*) AS n
             |FROM (
             |  SELECT date_trunc('minute', ts) - to_minutes(k) AS w_start, event_type
             |  FROM events CROSS JOIN (SELECT unnest(range(0, 10)) AS k) offs
             |)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q94 — STREAMING FUNNEL under the gate: q75's sequential conversion
    // funnel (first view → first click after it → first purchase after
    // that) maintained INCREMENTALLY by Stateful.funnelStream
    // (mapGroupsWithState, Update mode). Events replay as 4 arbitrary-order
    // micro-batches; the handler re-derives the v→c→p chain whenever a
    // late-arriving earlier view lowers the anchor, so the final live
    // funnel table must equal the batch formulation row-for-row — the
    // oracle is VERBATIM q75's. The sink is latest-row-wins per user (the
    // q92 merge shape); final stage counts read from the merged table.
    Declared("q94_stream_funnel",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id").as("userId"),
            unix_micros(col("ts")).as("tsUs"),
            when(col("event_type") === "view", lit(0))
              .when(col("event_type") === "click", lit(1))
              .otherwise(lit(2)).cast("byte").as("etype"))
        val base = SharedStages.scratchDir("q94")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        ev.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[graft.streaming.Stateful.FunnelEv](
              org.apache.spark.sql.Encoders.product[graft.streaming.Stateful.FunnelEv])
          val q = graft.streaming.Stateful.funnelStream(stream)
            .toDF()
            .writeStream
            .outputMode("update")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(SharedStages.latestRowMergeSink(out, Seq("userId")))
            .start()
          q.awaitTermination()
        }
        val fin = graft.streaming.VersionedView.read(s, out).get
        def stage(c: String, name: String) =
          fin.filter(col(c).isNotNull)
            .agg(big(count(lit(1))).as("n_users"))
            .select(lit(name).as("stage"), col("n_users"))
        stage("vTsUs", "1_view")
          .unionByName(stage("cTsUs", "2_click_after_view"))
          .unionByName(stage("pTsUs", "3_purchase_after_click"))
          .orderBy(col("stage"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
             |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
             |SELECT stage, n_users FROM (
             |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
             |  UNION ALL SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
             |  UNION ALL SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p)
             |ORDER BY stage""".stripMargin)),

    // q98 — TIME-SERIES GAP FILL (dense minute grid + forward-fill): the
    // bar-store operation the reference's product implies but never ships —
    // BTCUSDT minutes with no trades simply have NO ROW (`main.py:36-47`
    // writes a file per non-empty bucket), so every consumer re-implements
    // "carry the last level forward". Here: per-type minute bars (max level
    // per minute), a generated dense minute grid over the corpus span, and
    // the NATIVE as-of operator (AsOfJoin.backwardNative) carrying each
    // grid minute's latest at-or-before bar — the production composition of
    // sequence-generation + as-of. Per (type, day) verdict: minutes,
    // covered minutes, own-bar minutes, filled-level mass.
    //
    // Shape at 100 TB: the grid is types × minutes (time-sized, not
    // fact-sized) and the as-of is one exchange+sort per side on the type
    // key; the bar table aggregates map-side first. Nothing is all-pairs,
    // nothing single-partition (the sequence explodes per-type AFTER the
    // 1-row span broadcast).
    Declared("q98_gap_fill",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"),
            idiv(unix_micros(col("ts")), lit(60000000L)).as("m"),
            col("value"))
        val bars = ev.groupBy(col("event_type"), col("m"))
          .agg(out6(max(dec(col("value")))).as("level"))
        val span = ev.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
        val grid = ev.select(col("event_type")).distinct()
          .crossJoin(broadcast(span))
          .select(col("event_type"), explode(sequence(col("m0"), col("m1"))).as("m"))
        graft.operators.AsOfJoin.backwardNative(
            grid, bars, Seq("event_type"), "m", Seq("level"), "bar_")
          .groupBy(col("event_type"), idiv(col("m"), lit(1440L)).as("day"))
          .agg(big(count(lit(1))).as("n_minutes"),
            big(count(col("bar_m"))).as("n_covered"),
            big(count(when(col("bar_m") === col("m"), 1))).as("n_own_bars"),
            out6(sum(col("bar_level"))).as("sum_level"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 60000000 AS m, value FROM events),
             |bars AS (SELECT event_type, m,
             |  CAST(ROUND(MAX(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS level
             |  FROM e GROUP BY 1, 2),
             |span AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM e),
             |grid AS (SELECT t.event_type, UNNEST(range(s.m0, s.m1 + 1)) AS m
             |  FROM (SELECT DISTINCT event_type FROM e) t, span s),
             |f AS (SELECT g.event_type, g.m, b.m AS bar_m, b.level
             |  FROM grid g ASOF LEFT JOIN bars b
             |  ON g.event_type = b.event_type AND b.m <= g.m)
             |SELECT event_type, (m // 1440) AS day,
             |  CAST(COUNT(*) AS BIGINT) AS n_minutes,
             |  CAST(COUNT(bar_m) AS BIGINT) AS n_covered,
             |  CAST(COUNT(CASE WHEN bar_m = m THEN 1 END) AS BIGINT) AS n_own_bars,
             |  CAST(ROUND(SUM(level), 6) AS DECIMAL(18,6)) AS sum_level
             |FROM f GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin)),

    // q99 — COHORT RETENTION: users grouped by first-seen day (the cohort),
    // activity counted per (cohort, day-offset) — the product-analytics
    // staple over an event store. Both aggregations and the join share ONE
    // hash partitioning on user_id (cohort assignment is a per-user min;
    // exchange reuse keeps the chain to one shuffle of each leg), then the
    // final matrix is cohorts × offsets — calendar-sized, not fact-sized.
    Declared("q99_cohort_retention",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"),
            idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("c0"))
        ev.join(cohort, "user_id")
          .groupBy(col("c0"), (col("d") - col("c0")).as("day_offset"))
          .agg(big(countDistinct(col("user_id"))).as("n_users"),
            big(count(lit(1))).as("n_events"))
          .orderBy(col("c0"), col("day_offset"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
             |c AS (SELECT user_id, MIN(d) AS c0 FROM e GROUP BY 1)
             |SELECT c0, d - c0 AS day_offset,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM e JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY c0, day_offset""".stripMargin)),

    // q100 — EVENT TRANSITION MATRIX (first-order Markov counts): for each
    // user's time-ordered event sequence, count (type → next type) pairs —
    // the behavioral-model / anomaly-baseline builder. One window pass
    // partitioned on user_id (deterministic tiebreak by event_id), then a
    // types×types aggregate — 25 rows out regardless of corpus size.
    Declared("q100_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(big(count(lit(1))).as("n"))
          .orderBy(col("event_type"), col("next_type"))
      },
      Some("""SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
             |FROM (
             |  SELECT event_type,
             |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events)
             |WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin)),

    // q104 — BROKER-SHAPED INGEST under the gate: the events table produced
    // into a Kafka-shaped log topic (sources.LogTopic — 3 partitions,
    // multiple immutable segments each), consumed back through the
    // LogTopicProvider micro-batch stream (per-partition offsets, admission
    // cap forcing multiple triggers, executor-side segment reads), records
    // parsed and windowed to the SAME tumbling rollup and DuckDB oracle as
    // q22/q66. Pins the full produce→seek→consume→parse path bit-exactly:
    // the broker route must be indistinguishable from reading the table.
    // Doubles survive the text hop because Double.toString round-trips.
    // The producer runs DISTRIBUTED — one task per topic-partition (rows
    // hash-routed so a partition never splits across tasks, sorted and
    // segment-chunked inside the task; no driver-side collect), and the
    // idempotent-producer guard (expectedStart) makes a task RETRY converge
    // instead of duplicating segments.
    Declared("q104_logtopic_ingest",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val base = SharedStages.scratchDir("q104")
        val (topic, out, ck) = (s"$base/topic", s"$base/out", s"$base/ck")
        Tables.load(s, dir, "events")
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("event_type"), col("value"))
          .withColumn("p", pmod(col("event_id"), lit(3L)).cast("int"))
          .repartition(3, col("p"))
          .sortWithinPartitions(col("p"), col("event_id"))
          .foreachPartition { (it: java.util.Iterator[org.apache.spark.sql.Row]) =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var curP = -1
            var off = 0L
            def flush(): Unit = if (buf.nonEmpty) {
              graft.sources.LogTopic.append(topic, curP, buf.toSeq, Some(off))
              off += buf.size
              buf.clear()
            }
            while (it.hasNext) {
              val r = it.next()
              val p = r.getInt(4)
              if (p != curP) { flush(); curP = p; off = 0L }
              buf += s"${r.getLong(1)}\t${r.getString(2)}\t${r.getDouble(3)}"
              if (buf.size == 1500) flush()
            }
            flush()
          }
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.format("graft.sources.LogTopicProvider")
            .option("path", topic)
            .option("maxPerTrigger", "4000")
            .load()
          val parsed = stream
            .select(split(col("value"), "\t").as("f"))
            .select(
              timestamp_micros(element_at(col("f"), 1).cast("long")).as("ts"),
              element_at(col("f"), 2).as("event_type"),
              element_at(col("f"), 3).cast("double").as("value"))
          val agg = parsed
            .groupBy(window(col("ts"), "1 minute"), col("event_type"))
            .agg(count(lit(1)).as("n"), out6(sum(dec(col("value")))).as("sum_value"))
            .select(tsec(col("window").getField("start")).as("w"),
              col("event_type"), col("n"), col("sum_value"))
          val q = agg.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out).orderBy(col("w"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q119 — SWEEP-LINE INTERVAL CONCURRENCY: how much wall-time the system
    // spends at each level of concurrent sessions. Sessions (30-min gap
    // rule, as q23) become [start, end] intervals; each contributes a +1
    // delta at start and a -1 at end+1µs; the running sum of deltas over
    // the GLOBAL time order is the concurrency level, and each level holds
    // from its delta until the next one.
    //
    // Scale shape: the naive formulation is TWO no-partition windows
    // (running sum + LEAD) — each funnels the whole delta stream into one
    // task. Here the running sum AND the successor timestamp both come out
    // of ONE GlobalCumSum range-partitioned pass (withCumSumAndLead), so no
    // single-partition stage exists at any size. The delta ordering (t_us, delta, user_id)
    // is total by construction — same-user boundaries are gap-separated —
    // and -1 sorts before +1 at a shared instant, making the level
    // well-defined at touching intervals on both engines.
    Declared("q119_interval_concurrency",
      (s, dir) => {
        import graft.operators.GlobalCumSum
        val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
        val lagT = lag(col("t_us"), 1).over(w)
        val iv = ev
          .withColumn("new_sess",
            when(lagT.isNull || col("t_us") - lagT > 1800000000L, 1).otherwise(0))
          .withColumn("sess", sum(col("new_sess")).over(w))
          .groupBy(col("user_id"), col("sess"))
          .agg(min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
        val deltas = iv.select(col("start_us").as("t_us"), lit(1).as("delta"), col("user_id"))
          .unionByName(iv.select((col("end_us") + 1).as("t_us"), lit(-1).as("delta"), col("user_id")))
        val order = Seq(col("t_us"), col("delta"), col("user_id"))
        // r13 (guide §2.4): the successor timestamp comes out of the SAME
        // range-partitioned sweep pass as the running concurrency
        // (withCumSumAndLead) — before, a second GlobalRank range shuffle
        // plus a rank+1 self-join (two more hash exchanges of the sweep)
        // produced the identical (t_us, conc, next_us) rows. The global
        // last row's lead is NULL and drops, exactly as the inner rank
        // join dropped it.
        val swept = GlobalCumSum.withCumSumAndLead(
            deltas, order, col("delta"), "conc", "t_us", "next_us")
          .select(col("t_us"), col("conc"), col("next_us"))
        swept.where(col("next_us").isNotNull)
          .groupBy(col("conc").as("conc_level"))
          .agg(big(count(lit(1))).as("n_segments"),
            sum(col("next_us") - col("t_us")).cast("long").as("total_us"))
          .orderBy(col("conc_level"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
             |marked AS (
             |  SELECT user_id, event_id, t_us,
             |    CASE WHEN LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) IS NULL
             |           OR t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |s AS (
             |  SELECT user_id, t_us,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |  FROM marked),
             |iv AS (SELECT user_id, sess, MIN(t_us) AS start_us, MAX(t_us) AS end_us
             |       FROM s GROUP BY user_id, sess),
             |d AS (
             |  SELECT start_us AS t_us, 1 AS delta, user_id FROM iv
             |  UNION ALL SELECT end_us + 1, -1, user_id FROM iv),
             |sw AS (
             |  SELECT t_us, delta,
             |    SUM(delta) OVER (ORDER BY t_us, delta, user_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
             |    LEAD(t_us) OVER (ORDER BY t_us, delta, user_id) AS next_us
             |  FROM d)
             |SELECT CAST(conc AS BIGINT) AS conc_level, CAST(COUNT(*) AS BIGINT) AS n_segments,
             |  CAST(SUM(next_us - t_us) AS BIGINT) AS total_us
             |FROM sw WHERE next_us IS NOT NULL
             |GROUP BY conc ORDER BY conc_level""".stripMargin)),

    // q136 — ROLLING 7-DAY ACTIVE USERS (the DAU/WAU staple). A distinct
    // count over a sliding range frame is NOT a supported window aggregate
    // in either engine's distributed path — the scalable shape is the
    // CONTRIBUTION EXPLODE: each distinct (day, user) pair fans out to the
    // ≤7 target days it contributes to (fixed 7× multiplier, equi-shuffled
    // on target day), then one distinct-count per day. The oracle states
    // the same set directly as a BETWEEN range join — tiny at oracle SF,
    // quadratic-prone at 100 TB, which is exactly why the engine side
    // doesn't use it. Day index is epoch_us div 86 400 000 000 (identical
    // on both engines; q99's idiom).
    Declared("q136_rolling_actives",
      (s, dir) => {
        val daily = Tables.load(s, dir, "events")
          .select(idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"), col("user_id"))
          .distinct()
        val grid = daily.select(col("d")).distinct()
        daily
          .select(explode(sequence(col("d"), col("d") + lit(6L))).as("day_idx"), col("user_id"))
          .join(grid.select(col("d").as("day_idx")), Seq("day_idx"), "left_semi")
          .groupBy(col("day_idx"))
          .agg(big(countDistinct(col("user_id"))).as("active_users"))
          .orderBy(col("day_idx"))
      },
      Some("""WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id FROM events),
             |g AS (SELECT DISTINCT d FROM e)
             |SELECT g.d AS day_idx, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
             |FROM g JOIN e ON e.d BETWEEN g.d - 6 AND g.d
             |GROUP BY g.d ORDER BY day_idx""".stripMargin)),

    // q137 — CAPPED SESSIONIZATION: the 30-min-gap rule of q23 PLUS a hard
    // 2-hour session-duration cap (the web-analytics "session timeout +
    // max length" pair). The cap cannot be a window frame — it depends on
    // the running session START — but it CAN be layered determinately:
    // gap-sessions first (cumsum of break flags), then each gap-session is
    // sliced into fixed 2-hour lanes from its own start
    // (sub = (t - session_start) div 2h). Two window passes, both
    // partitioned by user — no global window, no iteration. Output keys
    // are micro-epochs (BIGINT) so rendering can't diverge.
    Declared("q137_capped_sessions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        val lagUs = lag(col("us"), 1).over(w)
        val sess = ev
          .withColumn("brk",
            when(lagUs.isNull || col("us") - lagUs > 1800000000L, 1L).otherwise(0L))
          .withColumn("gs", sum(col("brk")).over(wRun))
        val wSess = Window.partitionBy(col("user_id"), col("gs"))
        sess
          .withColumn("sub", idiv(col("us") - min(col("us")).over(wSess), lit(7200000000L)))
          .groupBy(col("user_id"), col("gs"), col("sub"))
          .agg(min(col("us")).as("start_us"), count(lit(1)).as("n_events"),
            (max(col("us")) - min(col("us"))).as("dur_us"))
          .select(col("user_id"), big(col("start_us")).as("start_us"),
            big(col("n_events")).as("n_events"), big(col("dur_us")).as("dur_us"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some("""WITH a AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |                       OR us - lag(us) OVER w > 1800000000
             |                     THEN 1 ELSE 0 END AS brk
             |      FROM a WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |c AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
             |                               ROWS UNBOUNDED PRECEDING) AS gs FROM b),
             |d AS (SELECT *, (us - MIN(us) OVER (PARTITION BY user_id, gs)) // 7200000000 AS sub
             |      FROM c)
             |SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
             |FROM d GROUP BY user_id, gs, sub
             |ORDER BY user_id, start_us""".stripMargin)),

    // q151 — NORMALIZED RETENTION MATRIX: q99's cohort counts divided by
    // cohort size as exact ppm (n_active·10⁶ div cohort_n) — the percent
    // view a retention dashboard actually renders. Cohort sizes are a
    // cohort-count-sized broadcast; everything else is q99's one-shuffle
    // shape plus one integer floor-division. No floats.
    Declared("q151_retention_ppm",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"))
        val cohort = e.groupBy(col("user_id")).agg(min(col("d")).as("c0"))
        val sz = cohort.groupBy(col("c0")).agg(count(lit(1)).as("cohort_n"))
        e.join(cohort, "user_id")
          .groupBy(col("c0"), (col("d") - col("c0")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(broadcast(sz), "c0")
          .select(col("c0"), col("day_offset"), big(col("n_active")).as("n_active"),
            big(col("cohort_n")).as("cohort_n"),
            big(idiv(col("n_active") * lit(1000000L), col("cohort_n"))).as("retained_ppm"))
          .orderBy(col("c0"), col("day_offset"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
             |c AS (SELECT user_id, MIN(d) AS c0 FROM e GROUP BY 1),
             |sz AS (SELECT c0, CAST(COUNT(*) AS BIGINT) AS cohort_n FROM c GROUP BY 1),
             |act AS (SELECT c.c0, e.d - c.c0 AS day_offset,
             |               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
             |        FROM e JOIN c USING (user_id) GROUP BY 1, 2)
             |SELECT a.c0, a.day_offset, a.n_active, sz.cohort_n,
             |  CAST((a.n_active * 1000000) // sz.cohort_n AS BIGINT) AS retained_ppm
             |FROM act a JOIN sz USING (c0)
             |ORDER BY c0, day_offset""".stripMargin)),

    // q150 — FUNNEL TIME-TO-CONVERT: q75's conversion chain extended with
    // the latency distribution per transition (n, min, exact median, max of
    // the µs gap) — the "how fast do converters convert" half of funnel
    // analytics. The median is the crossing-row rule on integer µs gaps
    // (2·rank ≥ n over the total order (dt, user_id)), windows partitioned
    // by transition (2 partitions, user-count-bounded rows). Everything is
    // BIGINT; no floats anywhere.
    Declared("q150_funnel_latency",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("v_ts"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("us") > col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("us")).as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("us") > col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("us")).as("p_ts"))
        val d = c.join(v, "user_id")
          .select(lit("view_to_click").as("tr"), col("user_id"),
            (col("c_ts") - col("v_ts")).as("dt"))
          .unionByName(p.join(c, "user_id")
            .select(lit("click_to_purchase").as("tr"), col("user_id"),
              (col("p_ts") - col("c_ts")).as("dt")))
        val w = Window.partitionBy(col("tr")).orderBy(col("dt"), col("user_id"))
        val wAll = Window.partitionBy(col("tr"))
        d.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy(col("tr"))
          .agg(big(max(col("n"))).as("n_users"), big(min(col("dt"))).as("min_us"),
            big(min(when(lit(2L) * col("rn") >= col("n"), col("dt")))).as("med_us"),
            big(max(col("dt"))).as("max_us"))
          .orderBy(col("tr"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS v_ts FROM events
             |           WHERE event_type='view' GROUP BY 1),
             |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_ts FROM events e JOIN v USING (user_id)
             |      WHERE e.event_type='click' AND epoch_us(e.ts) > v.v_ts GROUP BY 1),
             |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts FROM events e JOIN c USING (user_id)
             |      WHERE e.event_type='purchase' AND epoch_us(e.ts) > c.c_ts GROUP BY 1),
             |d AS (SELECT 'view_to_click' AS tr, c.user_id, c.c_ts - v.v_ts AS dt FROM c JOIN v USING (user_id)
             |      UNION ALL
             |      SELECT 'click_to_purchase', p.user_id, p.p_ts - c.c_ts FROM p JOIN c USING (user_id)),
             |rk AS (SELECT tr, dt, ROW_NUMBER() OVER (PARTITION BY tr ORDER BY dt, user_id) AS rn,
             |              COUNT(*) OVER (PARTITION BY tr) AS n FROM d)
             |SELECT tr, CAST(MAX(n) AS BIGINT) AS n_users, CAST(MIN(dt) AS BIGINT) AS min_us,
             |  CAST(MIN(CASE WHEN 2*rn >= n THEN dt END) AS BIGINT) AS med_us,
             |  CAST(MAX(dt) AS BIGINT) AS max_us
             |FROM rk GROUP BY tr ORDER BY tr""".stripMargin)),

    // q149 — STREAMING twin of the adoption curve (q147): events replayed
    // as micro-batches; first-seen day per user is a STREAMING stateful
    // aggregate (groupBy(user).min(day), complete mode) — an event-TIME
    // property, so the result is deterministic under any replay order,
    // unlike a dropDuplicates-based first-ROW dedup. The day-level rollup
    // and running total happen on the read-back (GlobalCumSum — the
    // engine-wide no-partition-less-window invariant holds on the batch
    // tail too), and the hash must equal q147's batch oracle VERBATIM:
    // the streaming route is indistinguishable from reading the table.
    Declared("q149_stream_adoption",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import graft.operators.GlobalCumSum
        val events = Tables.load(s, dir, "events").select(col("user_id"), col("ts"))
        val base = SharedStages.scratchDir("q149")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        events.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
          val firstSeen = stream
            .select(col("user_id"), idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"))
            .groupBy(col("user_id")).agg(min(col("d")).as("d0"))
          val q = firstSeen.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        val daily = s.read.parquet(out)
          .groupBy(col("d0").as("d")).agg(count(lit(1)).as("new_users"))
        GlobalCumSum.withCumSum(daily, Seq(col("d")), col("new_users"), "cum_users")
          .select(col("d"), big(col("new_users")).as("new_users"),
            big(col("cum_users")).as("cum_users"))
          .orderBy(col("d"))
      },
      Some("""WITH f AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS d0
             |           FROM events GROUP BY 1),
             |n AS (SELECT d0 AS d, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
             |SELECT d, new_users,
             |  CAST(SUM(new_users) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
             |FROM n ORDER BY d""".stripMargin)),

    // q165 — CHAINED STATEFUL OPERATORS in ONE streaming query (Spark 4
    // multi-stateful support): stateful dedup feeding a windowed streaming
    // aggregation, end-to-end under the DuckDB gate. The source replays
    // events with every 7th event INJECTED TWICE (shuffled across the 4
    // trigger files, so duplicates land in DIFFERENT micro-batches);
    // dropDuplicates("event_id") must suppress them ACROSS batches before
    // the tumbling aggregation counts — the sink hash-matches the batch
    // oracle over the CLEAN table, so one leaked duplicate anywhere breaks
    // the gate. q66's bounded-replay notes (complete mode + idempotent
    // overwrite) apply; the unbounded twin is dropDuplicatesWithinWatermark
    // + append (Stateful, spec-covered), where BOTH operators' state is
    // watermark-bounded.
    Declared("q165_stream_dedup_agg",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val events = Tables.load(s, dir, "events")
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val withDups = events.unionByName(events.where(col("event_id") % 7 === 0))
        val base = SharedStages.scratchDir("q165")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        withDups.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val agg = c.readStream.schema(withDups.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .dropDuplicates("event_id")
            .groupBy(window(col("ts"), "1 minute"), col("event_type"))
            .agg(count(lit(1)).as("n"), out6(sum(dec(col("value")))).as("sum_value"))
            .select(tsec(col("window").getField("start")).as("w"),
              col("event_type"), col("n"), col("sum_value"))
          val q = agg.writeStream
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out).orderBy(col("w"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q172 — CDC COMPACTION → SCD-2 VALIDITY INTERVALS: collapse each
    // user's change stream (tracked attribute: props.k) into runs of
    // constant value — gaps-and-islands with a NULL-SAFE change flag
    // (<=> / IS DISTINCT FROM, so a leading NULL starts an island and
    // NULL→NULL does not) — then [valid_from, valid_to) intervals via
    // lead() of each island's start; the open current version carries
    // valid_to NULL. This BUILDS the SCD-2 shape that Stateful.asOfEnrich
    // consumes, from raw change events — change-data-capture compaction.
    //
    // Shape at 100 TB: both windows and the island aggregate share ONE
    // user_id partitioning (single shuffle); output is change-sized, not
    // event-sized.
    Declared("q172_scd2_compact",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wi = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
        val ch = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .withColumn("chg",
            when(col("k") <=> lag(col("k"), 1).over(w), lit(0)).otherwise(lit(1)))
          .withColumn("island", sum(col("chg")).over(w))
        ch.groupBy(col("user_id"), col("island"))
          .agg(min(col("k")).as("k"), min(col("us")).as("valid_from"),
            big(count(lit(1))).as("n_events"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wi))
          .select(col("user_id"), col("k"), col("valid_from"), col("valid_to"),
            col("n_events"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""WITH c AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id,
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |  FROM events),
             |f AS (SELECT user_id, us, event_id, k,
             |        CASE WHEN k IS NOT DISTINCT FROM
             |          LAG(k) OVER (PARTITION BY user_id ORDER BY us, event_id)
             |        THEN 0 ELSE 1 END AS chg
             |      FROM c),
             |i AS (SELECT user_id, k, us,
             |        SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id) AS island
             |      FROM f),
             |g AS (SELECT user_id, island, MIN(k) AS k, MIN(us) AS valid_from,
             |        CAST(COUNT(*) AS BIGINT) AS n_events
             |      FROM i GROUP BY user_id, island)
             |SELECT user_id, k, valid_from,
             |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
             |  n_events
             |FROM g ORDER BY user_id, valid_from""".stripMargin)),

    // q185 — STREAMING LAST-TOUCH ATTRIBUTION, byte-identical to q181's
    // batch oracle: purchases are as-of PROBES (side=1) and channel events
    // are REFERENCES (side=0, v encodes the channel: 1=click 2=view
    // 3=signup) through the SAME `Stateful.asOfJoinStream` state machine
    // that q93 gates — per-key state is pending probes + ONE frontier
    // reference row, so attribution state never grows with stream length.
    // The 7-day horizon and the channel decode are applied on the emitted
    // matches (row-local, exactly q181's post-window rule); the purchase
    // value re-attaches batch-side by event_id (the probe's own payload is
    // not in AsOfOut). Same file-replay harness as q93 (4 micro-batch
    // slices + watermark pusher). Tie semantics cannot diverge from the
    // batch window: no (user, µs) collision exists at any SF, and both
    // sides resolve equal-ts references to the max event_id.
    Declared("q185_stream_attr",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Tables.load(s, dir, "events")
        val asofEv = ev
          .filter(col("event_type").isin("purchase", "click", "view", "signup"))
          .select(col("user_id").cast("string").as("key"), col("ts"),
            when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
              .cast("byte").as("side"),
            col("event_id").as("id"),
            when(col("event_type") === "click", lit(1.0))
              .when(col("event_type") === "view", lit(2.0))
              .when(col("event_type") === "signup", lit(3.0))
              .otherwise(lit(0.0)).as("v"))
        val base = SharedStages.scratchDir("q185")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        val fs = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(src))
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val tmp = s"$base/tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
            .head.getPath
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
        }
        (0 until 4).foreach(i => writeOne(asofEv.filter(pmod(col("id"), lit(4)) === i), s"data_$i"))
        Thread.sleep(1200)
        val maxTs = asofEv.agg(max(col("ts"))).head().getTimestamp(0)
        val pusher = {
          import s.implicits._
          Seq(("zz~pusher", new java.sql.Timestamp(maxTs.getTime + 87601L * 3600 * 1000),
            0.toByte, -1L, 0.0)).toDF("key", "ts", "side", "id", "v")
        }
        writeOne(pusher, "zz_pusher")
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val stream = c.readStream.schema(asofEv.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[graft.streaming.Stateful.AsOfEv](
              org.apache.spark.sql.Encoders.product[graft.streaming.Stateful.AsOfEv])
          val q = graft.streaming.Stateful.asOfJoinStream(stream, delay = "87600 hours")
            .toDF()
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
            }
            .start()
          q.awaitTermination()
        }
        val vmicro = ev.select(col("event_id").as("id"),
          (dec(col("value")) * lit(1000000)).cast("long").as("v_micro"))
        s.read.parquet(out)
          .join(vmicro, "id")
          .withColumn("channel",
            when(col("mV").isNotNull && col("tsUs") - col("mTsUs") <= lit(604800000000L),
              when(col("mV") === 1.0, "click").when(col("mV") === 2.0, "view")
                .otherwise("signup"))
              .otherwise(lit("none")))
          .groupBy(col("channel"))
          .agg(big(count(lit(1))).as("n_purchases"),
            sum(col("v_micro")).as("attr_value_micro"))
          .orderBy(col("channel"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_type,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro, event_id
             |  FROM events),
             |cf AS (
             |  SELECT *,
             |    LAST_VALUE(CASE WHEN event_type IN ('click','view','signup') THEN event_type END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS ch,
             |    LAST_VALUE(CASE WHEN event_type IN ('click','view','signup') THEN us END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS ch_us
             |  FROM e)
             |SELECT CASE WHEN ch IS NOT NULL AND us - ch_us <= 604800000000 THEN ch ELSE 'none' END AS channel,
             |  CAST(COUNT(*) AS BIGINT) AS n_purchases, SUM(v_micro) AS attr_value_micro
             |FROM cf WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY channel""".stripMargin)),

    // q240 — STREAMING CDC APPLY with tombstone retention: the events table
    // recast as a change stream (key = user_id mod 500, op = 'D' for every
    // 11th event id, ordering = (ts, event_id)) and replayed as 4 ARBITRARY
    // micro-batches through VersionedView.cdcSink — per batch, one window
    // reduces the batch to its latest change per key, then a CONDITIONAL
    // latest-wins MergeInto (update only when strictly newer) against the
    // current version, write-audit-published. Tombstones stay as rows, so
    // the final state per key is the GLOBAL argmax over (ts, event_id)
    // whatever the batch split — the declared result (read-back minus
    // tombstones) therefore matches the batch oracle's window argmax
    // exactly, and the chunk assignment can stay arbitrary. The
    // delete-branch MERGE alternative physically removes rows and would
    // resurrect a key if a stale pre-delete update arrived late; scaladoc
    // on cdcSink records that trade.
    Declared("q240_stream_cdc_apply",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val changes = Tables.load(s, dir, "events")
          .select((col("user_id") % 500).as("k"), col("ts"), col("event_id"),
            col("value"),
            when(col("event_id") % 11 === 0, "D").otherwise("U").as("op"))
        val base = SharedStages.scratchDir("q240")
        val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
        changes.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(graft.streaming.VersionedView.cdcSink(
              out, Seq("k"), Seq("ts", "event_id")))
            .start()
          q.awaitTermination()
        }
        graft.streaming.VersionedView.readState(s, out, "op").get
          .select(col("k"), col("event_id"), col("value"))
          .orderBy(col("k"))
      },
      Some("""WITH c AS (SELECT user_id % 500 AS k, ts, event_id, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op FROM events),
             |r AS (SELECT k, event_id, value, op,
             |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM c)
             |SELECT k, event_id, value FROM r WHERE rn = 1 AND op <> 'D'
             |ORDER BY k""".stripMargin)),

    // q241 — RETRACTABLE streaming aggregate (Flink's retract-stream
    // pattern, which Spark lacks natively): per-group (COUNT, SUM) over the
    // LIVE rows of q240's change stream, maintained INCREMENTALLY — an
    // update retracts the old value and adds the new, a delete retracts, a
    // stale out-of-order change contributes nothing — so the view
    // telescopes to the aggregate of the final state under any batch split
    // without ever rescanning state. Exact micro-integer arithmetic end to
    // end (no float drift across retract chains). Agg view published
    // BEFORE the state merge so an at-least-once replay can never drop or
    // double a batch (ordering rationale on retractAggSink). Oracle = the
    // batch aggregate over the global argmax state.
    Declared("q241_stream_retract_agg",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val changes = Tables.load(s, dir, "events")
          .select((col("user_id") % 500).as("k"), col("ts"), col("event_id"),
            col("value"),
            when(col("event_id") % 11 === 0, "D").otherwise("U").as("op"))
        val base = SharedStages.scratchDir("q241")
        val (src, st, agg, ck) =
          (s"$base/src", s"$base/state", s"$base/agg", s"$base/ck")
        changes.repartition(4).write.mode("overwrite").parquet(src)
        Sessions.withConf(s, SharedStages.ReplayConf) { c =>
          val q = c.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ck)
            .foreachBatch(graft.streaming.VersionedView.retractAggSink(
              st, agg, Seq("k"), Seq("ts", "event_id"), "op",
              groupCol = col("k") % 50,
              valueMicro = (dec(col("value")) * 1000000L).cast("long")))
            .start()
          q.awaitTermination()
        }
        graft.streaming.VersionedView.readAgg(s, agg).get
          .select(col("g"), big(col("n_live")).as("n_live"),
            big(col("sum_micro")).as("sum_micro"))
          .orderBy(col("g"))
      },
      Some("""WITH c AS (SELECT user_id % 500 AS k, ts, event_id, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op FROM events),
             |r AS (SELECT k, event_id, value, op,
             |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM c),
             |live AS (SELECT k, value FROM r WHERE rn = 1 AND op <> 'D')
             |SELECT k % 50 AS g, CAST(COUNT(*) AS BIGINT) AS n_live,
             |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_micro
             |FROM live GROUP BY 1 ORDER BY g""".stripMargin)),

    // q242 — BITEMPORAL point-in-bitime reconstruction: events recast as
    // retroactive corrections carrying BOTH a transaction time (ts — when
    // the system learned it) and a valid day (the business day it applies
    // to: event day minus a 0-3 day retro offset). The query answers the
    // audit question SCD-2 alone cannot: "what did we believe the
    // value-in-effect ON valid day V was, AS OF transaction time T?" —
    // restrict to corrections known by T, then per user take the row for
    // the latest valid day ≤ V, tie-broken by the latest correction
    // (txn, event_id). One filtered scan + one user-partitioned window;
    // at 100 TB the txn filter prunes to the as-of prefix and the window
    // shuffles once on user_id. Valid days are exact epoch-day integers
    // (µs floor-division — no timezone arithmetic anywhere).
    Declared("q242_bitemporal_asof",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_day").desc, col("txn_us").desc, col("event_id").desc)
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("txn_us"),
            (idiv(unix_micros(col("ts")), lit(86400000000L)) - col("event_id") % 4)
              .as("valid_day"),
            (dec(col("value")) * 1000000L).cast("long").as("v_micro"))
          .filter(col("txn_us") <= lit(1705708800000000L)) // 2024-01-20 00:00 UTC
          .filter(col("valid_day") <= 19737L)               // 2024-01-15
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("valid_day"), col("event_id"), col("v_micro"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS txn_us,
             |    epoch_us(ts) // 86400000000 - event_id % 4 AS valid_day,
             |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
             |  FROM events
             |  WHERE epoch_us(ts) <= 1705708800000000
             |    AND epoch_us(ts) // 86400000000 - event_id % 4 <= 19737),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY valid_day DESC, txn_us DESC, event_id DESC) AS rn FROM c)
             |SELECT user_id, valid_day, event_id, v_micro
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // q243 — LINEAR-INTERPOLATION gap fill: q98 carries the last level
    // FORWARD (as-of); this is the other standard repair — interpolate
    // BETWEEN the bracketing samples. Per (event_type, user-shard) hourly
    // series: consecutive bars via lead(), gap hours exploded from the
    // bracket, value = v0 + (v1−v0)·(h−h0)/(h1−h0) in exact micro-integer
    // TRUNC division (Spark `div` and DuckDB `//` agree on negatives — no
    // float lerp anywhere). One series-key shuffle shared by the window
    // and nothing else; the explode is gap-sized, not grid-sized (q98's
    // dense-grid trade is the opposite and both are deliberate).
    Declared("q243_linear_interpolate",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"), col("g")).orderBy(col("h"))
        val bars = Tables.load(s, dir, "events")
          .select(col("event_type"), (col("user_id") % 97).as("g"),
            idiv(unix_micros(col("ts")), lit(3600000000L)).as("h"),
            (dec(col("value")) * 1000000L).cast("long").as("v"))
          .groupBy(col("event_type"), col("g"), col("h"))
          .agg(max(col("v")).as("v"))
        bars
          .withColumn("h1", lead(col("h"), 1).over(w))
          .withColumn("v1", lead(col("v"), 1).over(w))
          .filter(col("h1").isNotNull && col("h1") - col("h") > 1)
          .select(col("event_type"), col("g"), col("h").as("h0"), col("v").as("v0"),
            col("h1"), col("v1"),
            explode(sequence(col("h") + 1, col("h1") - 1)).as("hi"))
          .select(col("event_type"), col("g"), col("hi").as("h"),
            (col("v0") + idiv((col("v1") - col("v0")) * (col("hi") - col("h0")),
              col("h1") - col("h0"))).as("v_interp_micro"))
          .orderBy(col("event_type"), col("g"), col("h"))
      },
      Some("""WITH b AS (SELECT event_type, user_id % 97 AS g,
             |    epoch_us(ts) // 3600000000 AS h,
             |    MAX(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS v
             |  FROM events GROUP BY 1, 2, 3),
             |p AS (SELECT event_type, g, h AS h0, v AS v0,
             |    LEAD(h) OVER (PARTITION BY event_type, g ORDER BY h) AS h1,
             |    LEAD(v) OVER (PARTITION BY event_type, g ORDER BY h) AS v1
             |  FROM b),
             |x AS (SELECT event_type, g, h0, v0, h1, v1,
             |    UNNEST(generate_series(h0 + 1, h1 - 1)) AS h
             |  FROM p WHERE h1 IS NOT NULL AND h1 - h0 > 1)
             |SELECT event_type, g, h,
             |  CAST(v0 + (v1 - v0) * (h - h0) // (h1 - h0) AS BIGINT) AS v_interp_micro
             |FROM x ORDER BY event_type, g, h""".stripMargin)),

    // q244 — RETRACTABLE streaming MIN/MAX: the NON-invertible aggregate
    // under CDC, where q241's delta algebra can't work (removing the
    // current minimum needs the runner-up). retractMinMaxSink maintains
    // the live-value INDEX view ((g, v) → cnt, ±1 deltas from the same
    // applied-changes front end) and the read folds the index — an
    // aggregate over live-value cardinality, never the event history.
    // Same change stream and replay harness as q240/q241; oracle =
    // min/max/count per group over the final argmax state.
    Declared("q244_stream_retract_minmax",
      (s, dir) => {
        graft.streaming.VersionedView.readMinMax(s, s"${retractIdx(s, dir)}/idx").get
          .select(col("g"), big(col("n_live")).as("n_live"),
            col("min_v"), col("max_v"))
          .orderBy(col("g"))
      },
      Some("""WITH c AS (SELECT user_id % 500 AS k, ts, event_id, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op FROM events),
             |r AS (SELECT k, event_id, value, op,
             |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM c),
             |live AS (SELECT k, CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
             |         FROM r WHERE rn = 1 AND op <> 'D')
             |SELECT k % 50 AS g, CAST(COUNT(*) AS BIGINT) AS n_live,
             |  CAST(MIN(v) AS BIGINT) AS min_v, CAST(MAX(v) AS BIGINT) AS max_v
             |FROM live GROUP BY 1 ORDER BY g""".stripMargin)),

    // q245 — CONTINUOUS TOP-K LEADERBOARD: a second READ of q244's
    // maintained live-value index (the stream replays ONCE per session —
    // SharedStages memoizes the stage), proving the point of maintained
    // sorted state: min/max, leaderboards and percentile probes are all
    // index folds, not stream rescans. Top-3 live values per group with
    // multiplicity (two keys on the same value occupy two ranks); the
    // multiplicity expansion is capped at k BEFORE the rank window, so a
    // hot value contributes k rows, never its full key count.
    Declared("q245_stream_leaderboard",
      (s, dir) => {
        graft.streaming.VersionedView.readTopK(s, s"${retractIdx(s, dir)}/idx", 3).get
          .select(col("g"), big(col("rank")).as("rank"), col("v"))
          .orderBy(col("g"), col("rank"))
      },
      Some("""WITH c AS (SELECT user_id % 500 AS k, ts, event_id, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op FROM events),
             |r AS (SELECT k, event_id, value, op,
             |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM c),
             |live AS (SELECT k, CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
             |         FROM r WHERE rn = 1 AND op <> 'D'),
             |rk AS (SELECT k % 50 AS g, v,
             |    ROW_NUMBER() OVER (PARTITION BY k % 50 ORDER BY v DESC) AS rank FROM live)
             |SELECT g, CAST(rank AS BIGINT) AS rank, v
             |FROM rk WHERE rank <= 3 ORDER BY g, rank""".stripMargin)),

    // q248 — EXACT RUNNING MEDIAN over the CDC stream: the classic
    // impossible-for-delta-algebra aggregate (a median can move to ANY
    // live value on one retraction), answered as the third read of q244's
    // maintained live-value index — one cumulative window over index rows
    // per group. Lower-median semantics (smallest v with 2·cum ≥ n) stay
    // integer-exact; oracle derives the same from the final argmax state.
    Declared("q248_stream_running_median",
      (s, dir) => {
        graft.streaming.VersionedView.readMedian(s, s"${retractIdx(s, dir)}/idx").get
          .select(col("g"), big(col("n_live")).as("n_live"), col("median_v"))
          .orderBy(col("g"))
      },
      Some("""WITH c AS (SELECT user_id % 500 AS k, ts, event_id, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op FROM events),
             |r AS (SELECT k, event_id, value, op,
             |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn FROM c),
             |live AS (SELECT k, CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
             |         FROM r WHERE rn = 1 AND op <> 'D'),
             |cum AS (SELECT k % 50 AS g, v,
             |    ROW_NUMBER() OVER (PARTITION BY k % 50 ORDER BY v, k) AS cum,
             |    COUNT(*) OVER (PARTITION BY k % 50) AS n FROM live)
             |SELECT g, CAST(MIN(n) AS BIGINT) AS n_live, CAST(MIN(v) AS BIGINT) AS median_v
             |FROM cum WHERE cum * 2 >= n GROUP BY g ORDER BY g""".stripMargin))
  )
}
